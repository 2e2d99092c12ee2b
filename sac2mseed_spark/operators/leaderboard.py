"""Per-window top-k leaderboard over a rollup tier.

"Which conversations dominated each hour" — the ops view behind skew
diagnosis (the hot conversations whose windows pack into multi-chunk
blobs are exactly the ones this surfaces) and behind curation (cap any single
conversation's share of a training batch).

Determinism: rank by (value desc, conv_id asc) — total order, no
nondeterministic tie survivor.

Scale shape: input is the TIER (windows), never raw turns, so rows =
active (conv, window) pairs. One shuffle keyed by the window; within
a window partition the rank is a sort of that hour's active
conversations. A globally hot hour makes one fat partition — the
standard two-phase mitigation is what ``prefilter`` enables: rows
first rank within (salt, window) — 64 balanced sub-partitions of the
hot window, keyed by a deterministic hash of conv_id — and only each
sub-partition's top-k (a strict superset of every global top-k
member) reaches the exact global rank, so the final window partition
holds at most 64·k rows regardless of how hot the hour is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


SALT_BUCKETS = 64


def window_topk(
    tier_df: DataFrame,
    k: int = 3,
    value_col: str = "sum_tokens",
    prefilter: bool = True,
) -> DataFrame:
    """Top-k conversations per window by an integer tier metric.

    Returns (window_start_us, rank, conv_id, value); rank 1..k with
    ties broken by conv_id ascending.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    v = F.col(value_col).cast("long")
    base = tier_df.select(
        "window_start_us", "conv_id", v.alias("value")
    )
    if prefilter:
        # salted candidate cut: each salt bucket's per-window top-k
        # contains every global top-k member that hashed into it
        local = Window.partitionBy(
            F.pmod(F.xxhash64("conv_id"), F.lit(SALT_BUCKETS)),
            "window_start_us",
        ).orderBy(F.col("value").desc(), F.col("conv_id").asc())
        base = (
            base.withColumn("__lrk", F.row_number().over(local))
            .filter(F.col("__lrk") <= k)
            .drop("__lrk")
        )
    rank_w = Window.partitionBy("window_start_us").orderBy(
        F.col("value").desc(), F.col("conv_id").asc()
    )
    return (
        base.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select("window_start_us", "rank", "conv_id", "value")
    )
