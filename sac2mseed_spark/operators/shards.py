"""Token-budget shard assignment for training-data exports.

A pretraining exporter slices the curated corpus into shards of ~budget
tokens each (per stratum: a language, a source). Shard membership is a
running-offset computation — shard_id = floor(cumulative_start /
budget) — i.e. a PREFIX SUM over a total order, the one primitive
DataFrame windows do NOT give you at scale: ``Window.partitionBy(
stratum)`` puts an entire stratum in ONE task, which dies at 100 TB.

This operator computes the prefix sum with the classic two-pass
distributed pattern, with the partitioning a PURE FUNCTION of the data
(no sampling, no physical-partition ids):

  1. assign each row a deterministic, order-preserving ``bucket`` that
     depends only on (stratum, key): numeric keys are range-split from
     exact per-stratum min/max (one tiny aggregation), string keys use
     a fixed-length prefix — both monotone in the total order,
  2. per-(stratum, bucket) token subtotals -> driver (one tiny row per
     bucket), cumulated in bucket order into per-bucket base offsets,
  3. broadcast-join the base offsets back; within-bucket running sum
     via a window partitioned by (stratum, bucket) — bounded by the
     bucket size, never the stratum size.

Because every intermediate is a deterministic expression over the input
rows, ANY recomputation (cache eviction, task retry, speculative
execution) reproduces byte-identical buckets and offsets. The previous
implementation pinned a ``repartitionByRange`` with an advisory
``persist()`` and read ``spark_partition_id()``, which could re-draw
range boundaries if blocks were evicted between the two passes — the
round-5 driver reproduced exactly that hazard. The ``persist()`` kept
here is purely a performance hint (avoids tokenizing twice); correctness
no longer depends on it (tests/test_shards.py clears the cache between
the passes and asserts identical output).

The OUTPUT is bucket-count-invariant (base offsets correct for whatever
granularity was picked): same rows, same shard_id at any parallelism —
asserted by tests/test_shards.py. Oracle: the same cumulative
arithmetic as one DuckDB window over the total order.

A document straddling a budget boundary belongs to the shard its FIRST
token falls in (offset-partitioning semantics): shards overshoot by at
most one document, every shard's start offset is exact, and the rule
stays a pure expression — the greedy close-at-boundary alternative is
inherently sequential and buys nothing a trainer cares about.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType

from ..functions.text import token_count

# string keys: bucket = first N chars (monotone in string order)
_PREFIX_LEN = 8


def pack_shards(
    docs: DataFrame,
    budget_tokens: int,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    text_col: str = "text",
    n_parts: int | None = None,
) -> DataFrame:
    """Assign each document a (stratum-scoped) shard_id and offset.

    Returns (key, stratum, n_tokens, shard_id, shard_offset) where
    shard_offset is the document's first-token offset within its shard.
    Deterministic in content: the total order is (stratum, key), and
    every intermediate (bucket ids, base offsets) is a pure function of
    the input rows — safe under cache eviction and task retry.
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    base = docs.select(
        F.col(key_col).alias("key"),
        F.col(strata_col).alias("stratum"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    if n_parts is None:
        n_parts = max(base.sparkSession.sparkContext.defaultParallelism, 2)
    # performance hint only: avoids tokenizing the text twice (subtotal
    # pass + final pass); a recompute after eviction yields identical
    # values because everything below is deterministic in the data
    base = base.persist()

    key_type = base.schema["key"].dataType
    if isinstance(key_type, NumericType):
        # exact per-stratum key span (tiny: one row per stratum), split
        # into 4*n_parts equal ranges — monotone, deterministic, and
        # finer than the task count so imbalance costs parallelism, not
        # correctness. Computed from (stratum, key) ONLY, so the span
        # job never reads or tokenizes the text column (parquet column
        # pruning keeps it a metadata-cheap scan)
        stats = {
            r["stratum"]: (r["lo"], r["hi"])
            for r in docs.groupBy(F.col(strata_col).alias("stratum"))
            .agg(F.min(key_col).alias("lo"), F.max(key_col).alias("hi"))
            .collect()
        }
        n_buckets = 4 * n_parts
        width = {
            s: max((int(hi) - int(lo)) // n_buckets + 1, 1)
            for s, (lo, hi) in stats.items()
            if lo is not None
        }
        spark = docs.sparkSession
        width_df = spark.createDataFrame(
            [(s, int(stats[s][0]), w) for s, w in width.items()],
            "stratum string, lo long, w long",
        )
        # a NULL key (every key of an all-NULL stratum, which has no
        # span) takes bucket -1, below every range: NULL keys sort first,
        # as in Spark's ascending nulls-first order
        base = base.join(F.broadcast(width_df), ["stratum"], "left").withColumn(
            "bucket",
            F.coalesce(
                F.floor((F.col("key").cast("long") - F.col("lo")) / F.col("w")),
                F.lit(-1),
            ),
        ).drop("lo", "w")
    elif isinstance(key_type, StringType):
        # NULL keys share the lowest bucket, "", so they sort first too
        base = base.withColumn(
            "bucket", F.coalesce(F.substring("key", 1, _PREFIX_LEN), F.lit(""))
        )
    else:  # exotic key types: single bucket per stratum (documented
        # degenerate case; both production callers use numeric keys)
        base = base.withColumn("bucket", F.lit(0))

    # per-(stratum, bucket) subtotals: tiny (one row per bucket), safe
    # to collect and cumulate on the driver in bucket order
    subtotals = (
        base.groupBy("stratum", "bucket").agg(F.sum("n_tokens").alias("sub")).collect()
    )
    bases: dict[tuple, int] = {}
    running: dict = {}
    for r in sorted(
        subtotals, key=lambda r: (r["stratum"] is None, r["stratum"], r["bucket"])
    ):
        bases[(r["stratum"], r["bucket"])] = running.get(r["stratum"], 0)
        running[r["stratum"]] = running.get(r["stratum"], 0) + r["sub"]
    spark = docs.sparkSession
    bucket_sql_type = "long" if not isinstance(key_type, StringType) else "string"
    base_df = spark.createDataFrame(
        [(s, b, v) for (s, b), v in bases.items()],
        f"stratum string, bucket {bucket_sql_type}, base long",
    )
    w = (
        Window.partitionBy("stratum", "bucket")
        .orderBy("key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.col("base") + F.sum("n_tokens").over(w) - F.col("n_tokens")).alias(
        "cum_start"
    )
    return (
        base.join(F.broadcast(base_df), ["stratum", "bucket"])
        .select("key", "stratum", "n_tokens", start)
        .select(
            "key",
            "stratum",
            "n_tokens",
            F.floor(F.col("cum_start") / budget_tokens)
            .cast("long")
            .alias("shard_id"),
            (F.col("cum_start") % budget_tokens).alias("shard_offset"),
        )
    )


def shard_manifest(shards: DataFrame) -> DataFrame:
    """Per-shard export manifest: document count, token total, key range.

    The sink-side twin (one row per output file, the metadata-CSV
    philosophy of the reference's writemetadata,
    /root/reference/src/sac2mseed.c:944-1100).
    """
    return shards.groupBy("stratum", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("key").alias("first_key"),
        F.max("key").alias("last_key"),
    )
