"""Retention-tier rollup: fixed-epoch windows at 1m / 1h / 1d.

The reference packs each trace into fixed-length records
(/root/reference/libmseed/pack.c:314-337 caps samples per record); we bucket
each conversation's turn stream into fixed-epoch windows per tier. Higher
tiers re-aggregate lower tiers (the msrepack pattern, SURVEY.md §3.3) —
1m is computed from raw turns, 1h from 1m, 1d from 1h.

Bit-exactness contract: every additive statistic is kept in the INTEGER
domain (counts, sums of microseconds, sums of token counts), so cascaded
re-aggregation is exactly associative and the 1h/1d tiers are bit-identical
whether computed from raw turns or from the 1m tier (asserted by tests).
Ratios (avg latency, turn rate) are derived at read time by a single float64
division — the same division in every path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import TIERS

# The eight tier statistics, each declared once:
# (column, aggregate over turns, merge of lower-tier values of the column).
# Every merge is an integer sum/min/max, so re-aggregation is exact.
TIER_STATS = (
    ("n_points", lambda: F.count(F.lit(1)), F.sum),
    ("n_latency", lambda: F.count("latency_us"), F.sum),
    ("sum_latency_us", lambda: F.sum("latency_us"), F.sum),
    ("min_latency_us", lambda: F.min("latency_us"), F.min),
    ("max_latency_us", lambda: F.max("latency_us"), F.max),
    ("sum_tokens", lambda: F.sum("token_count"), F.sum),
    ("min_ts_us", lambda: F.min("ts_us"), F.min),
    ("max_ts_us", lambda: F.max("ts_us"), F.max),
)

# Aggregate column set of a tier table (pre-payload; operators/pack.py adds
# the compressed series columns).
TIER_AGG_COLS = [c for c, _, _ in TIER_STATS]


def window_start_col(ts_us_col, tier: str):
    """Epoch-aligned window start in microseconds: floor(ts / w) * w."""
    w = TIERS[tier]
    return (F.floor(ts_us_col / w) * w).cast("long")


def _aggregate(df: DataFrame, window_start, aggs, tier: str | None) -> DataFrame:
    """One hash-aggregate (partial map-side combine + final) on
    (conv_id, window_start) into ``tier`` — no window functions, no sort.
    With ``tier`` None, ``df``'s own tier column joins the key, so rows of
    several tiers aggregate in one pass. Emits conv_id, window_start_us,
    *TIER_AGG_COLS, tier."""
    keys = [F.col("conv_id"), window_start.alias("window_start_us")]
    if tier is None:
        return (
            df.groupBy(*keys, "tier")
            .agg(*aggs)
            .select("conv_id", "window_start_us", *TIER_AGG_COLS, "tier")
        )
    return df.groupBy(*keys).agg(*aggs).withColumn("tier", F.lit(tier))


def _from_turns(metrics: DataFrame, window_start, tier: str) -> DataFrame:
    aggs = [turns().alias(c) for c, turns, _ in TIER_STATS]
    return _aggregate(metrics, window_start, aggs, tier)


def rollup_from_turns(metrics: DataFrame, tier: str) -> DataFrame:
    """Aggregate per-turn metrics directly into one tier."""
    return _from_turns(metrics, window_start_col(F.col("ts_us"), tier), tier)


def _merge(rows: DataFrame, window_start, tier: str | None) -> DataFrame:
    aggs = [merge(c).alias(c) for c, _, merge in TIER_STATS]
    return _aggregate(rows, window_start, aggs, tier)


def merge_tiers(rows: DataFrame) -> DataFrame:
    """The incremental MERGE: re-aggregate tier rows of ANY tiers per
    (conv_id, window_start_us, tier) in one pass (integer-exact) — the
    previous rows ∪ delta rows of every tier at once."""
    return _merge(rows, F.col("window_start_us"), None)


def rollup_from_tier(lower: DataFrame, tier: str) -> DataFrame:
    """Re-aggregate tier rows into ``tier`` (integer-exact): the cascade
    step, the same merge as ``merge_tiers`` with the window start floored
    to ``tier`` (floor(ws / w) * w is the identity on aligned starts)."""
    return _merge(lower, window_start_col(F.col("window_start_us"), tier), tier)


def rollup_cascade(metrics: DataFrame) -> dict[str, DataFrame]:
    """1m from raw; 1h from 1m; 1d from 1h.

    The 1m result is the only scan of the raw table; callers should persist
    or checkpoint it (plans/pipeline.py does) so the cascade reads each byte
    of input exactly once — at 100 TB the raw table is scanned once and the
    1h/1d tiers aggregate ~1/60 and ~1/1440 of that volume.
    """
    t1m = rollup_from_turns(metrics, "1m")
    t1h = rollup_from_tier(t1m, "1h")
    t1d = rollup_from_tier(t1h, "1d")
    return {"1m": t1m, "1h": t1h, "1d": t1d}


def rollup_calendar(metrics: DataFrame, unit: str = "month") -> DataFrame:
    """Calendar-aligned rollup tier (week / month / quarter / year).

    Fixed-width epoch windows (the 1m/1h/1d tiers above) cannot express
    calendar retention policies ("keep monthly aggregates for 7 years") —
    months are not a fixed number of microseconds. This tier buckets on
    ``date_trunc`` of the turn timestamp instead of floor-division; the
    session timezone is pinned UTC, so the truncation is deterministic
    and identical in any engine. Same integer-domain statistics as the
    fixed tiers, so cascading/retention logic composes unchanged.

    Differs from rollup_from_turns only in the bucket expression.
    """
    units = {"week", "month", "quarter", "year"}
    if unit not in units:
        raise ValueError(f"unit must be one of {sorted(units)}, got {unit!r}")
    ws = F.unix_micros(F.date_trunc(unit, F.timestamp_micros(F.col("ts_us"))))
    return _from_turns(metrics, ws, unit)
