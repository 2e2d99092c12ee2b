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
    do not move.
  * one size rule for every file Spark writes, decided in
    ``table_writer`` too: as many files as the frame has
    ``ROW_GROUP_BYTES`` of estimated bytes, at least one, its rows in
    key order — not one per non-empty partition of whatever frame it
    came from, which would make the file count (and the ~2.2 KB footer
    each file carries) follow the caller's
    ``spark.sql.shuffle.partitions``. On the benchmark's backfill pass
    (seed 1) it cuts the files from 80 to 47, their footers from 186 to
    114 KB and the pass from 1,728,799 to 1,583,014 B; on its ingest
    store (seed 1), from 37 files to 22 and from 1,060,398 to 981,246 B;
  * facts the driver already holds (a commit's heal flags and lineage
    rows, a retention sweep's accounting) are written by the driver,
    ``write_driver_table``: a Spark write of three rows pays a job and a
    Python worker (1.3 s on a warm ``local[4]`` session, 4-core host) for
    what pyarrow writes in 1 ms.
"""

from __future__ import annotations

import math
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F


# parquet's row-group size: a file of the engine holds about this many
# bytes of one write's estimated output at most
ROW_GROUP_BYTES = 128 * 1024 * 1024
# an estimate past this (1 PiB for one write) is no estimate: Spark
# sizes a plan it cannot measure (an RDD, a stream's batch) at
# spark.sql.defaultSizeInBytes, Long.MaxValue, scaled by the nodes above
_UNSIZED_BYTES = 2**50


def file_count(df: DataFrame) -> int | None:
    """The size rule: ceil(estimated bytes of ``df`` / ``ROW_GROUP_BYTES``),
    at least 1; None when Spark cannot estimate ``df``. The estimate is
    Catalyst's ``sizeInBytes`` of the optimised plan — of a persisted
    frame, the cache's measured size once it is built — so it starts no
    job."""
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if est >= _UNSIZED_BYTES:
        return None
    return max(1, math.ceil(est / ROW_GROUP_BYTES))


def table_writer(df: DataFrame, order=(), sized: bool = True) -> DataFrameWriter:
    """``df.write`` with the engine's parquet codec, zstd at its default
    level, and with the size rule: ``df`` is coalesced to ``file_count``
    partitions first, so each partition dir of a small table is ONE
    file whatever the session's shuffle parallelism, and its rows are
    sorted within each file by the key columns ``order``, so the file's
    bytes do not follow the partitioning the rows arrived in either. The
    sort needs no exchange, and a ``partitionBy`` write whose columns
    lead ``order`` sorts by them anyway. Every table the engine writes
    with Spark is written through here. The coalesce is narrow — no
    exchange, no job — so it also narrows the work of the write's last
    stage. A packed frame (it has a ``payload``) is therefore never
    sized: its pack kernel runs in that stage after the conv_id exchange
    and needs the parallelism, so it writes one file per task.
    ``sized=False`` keeps the frame's partitions and order too, for a
    caller that chose them itself (``write_tier``'s range partitioning).
    The codec is an option of each write, not of the session: an entry
    point may be handed a session its caller built, and the stored bytes
    must not depend on it, nor may the caller's own tables change
    codec."""
    k = file_count(df) if sized and "payload" not in df.columns else None
    if k is not None:
        df = df.coalesce(k)
        if order:
            df = df.sortWithinPartitions(*order)
    return df.write.option("compression", "zstd")


def write_driver_table(rows: list[dict], schema: pa.Schema, path: str) -> pa.Table:
    """Overwrite the table directory ``path`` with ``rows`` (of
    ``schema``) as ONE zstd parquet file, written by the driver with
    pyarrow: no Spark job. The file is written under a temporary sibling
    ``_tmp_{name}`` (a leading underscore: no chain, flag or table glob
    matches it, and Spark skips it) that then replaces ``path``, so a
    reader sees the old directory or the new one — or, after a crash in
    between, none, as after a crashed Spark overwrite. Returns the rows
    as an arrow table."""
    table = pa.Table.from_pylist(rows, schema=schema)
    parent, name = os.path.split(path)
    tmp = os.path.join(parent, f"_tmp_{name}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # no ARROW:schema footer entry (~0.9 KB a file): the parquet types
    # alone give Spark and pyarrow the same schema back; no min/max
    # statistics: a reader of a few rows reads them all, so statistics
    # would only copy the rows (a commit's lineage string four times)
    pq.write_table(
        table,
        os.path.join(tmp, "part-00000.zstd.parquet"),
        compression="zstd",
        store_schema=False,
        write_statistics=False,
    )
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return table


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

    An aggregate tier is written by the size rule (``table_writer``):
    one file per (tier, window_day) leaf of a small tier, its rows in
    (conv_id, window_start_us) order. A packed tier (it has a
    ``payload``) keeps one file per task of its pack, so the pack kernel
    keeps its parallelism.

    With ``zorder=True`` the rows inside each (tier, window_day)
    partition are range-clustered by the Morton key over (conv bucket,
    hour bucket) — functions/zorder.py — so parquet footer min/max
    stats on conv_id AND window_start_us both prune at file
    granularity. This is the scale-safe write shape (range exchange +
    local sort, no global order point); operators/layout.layout_audit
    quantifies the win. The range partition count follows the size
    rule (``file_count``) — the range exchange already separates the
    compute from the write, packed or not — unless ``n_files`` sets it
    (or Spark cannot size the tier: the session's shuffle parallelism).
    """
    df = with_partition_cols(tier_df)
    if zorder:
        from ..functions.zorder import zorder_key

        parts = n_files or file_count(df) or int(
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
    keys = ("tier", "window_day", "conv_id", "window_start_us")
    writer = table_writer(df, keys, sized=not zorder)
    writer.mode(mode).partitionBy("tier", "window_day").parquet(path)


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
