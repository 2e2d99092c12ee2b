"""Retention-tier rollup: fixed-epoch windows at 1m / 1h / 1d.

The reference packs each trace into fixed-length records
(/root/reference/libmseed/pack.c:314-337 caps samples per record); we bucket
each conversation's turn stream into fixed-epoch windows per tier. Higher
tiers re-aggregate lower tiers (the msrepack pattern, SURVEY.md §3.3) —
1m is computed from raw turns, 1h from 1m, 1d from 1h.

One aggregate: a turn is a one-point tier row (``turn_rows``), and every
tier row — from turns, from a lower tier re-windowed, or merged with the
previous rows of an incremental commit — comes out of ``merge_tiers``,
which merges each statistic declared in ``TIER_STATS``.

Bit-exactness contract: every statistic is kept in the INTEGER domain
(counts, sums of microseconds, sums of token counts, min/max), and every
merge is an integer sum, min or max, so merging is exactly associative:
the 1h/1d tiers are bit-identical whether computed from raw turns or from
the 1m tier, and an incremental commit bit-identical to a batch recompute
(asserted by tests). Ratios (avg latency, turn rate) are derived at read
time by a single float64 division — the same division in every path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import TIERS

# The eight tier statistics, each declared once:
# (column, its value for one turn, merge of values of the column).
TIER_STATS = (
    ("n_points", lambda: F.lit(1).cast("long"), F.sum),
    ("n_latency", lambda: F.col("latency_us").isNotNull().cast("long"), F.sum),
    ("sum_latency_us", lambda: F.col("latency_us"), F.sum),
    ("min_latency_us", lambda: F.col("latency_us"), F.min),
    ("max_latency_us", lambda: F.col("latency_us"), F.max),
    ("sum_tokens", lambda: F.col("token_count"), F.sum),
    ("min_ts_us", lambda: F.col("ts_us"), F.min),
    ("max_ts_us", lambda: F.col("ts_us"), F.max),
)

# Aggregate column set of a tier table (pre-payload; operators/pack.py adds
# the compressed series columns).
TIER_AGG_COLS = [c for c, _, _ in TIER_STATS]


def window_start_col(ts_us_col, tier: str):
    """Epoch-aligned window start in microseconds: floor(ts / w) * w."""
    w = TIERS[tier]
    return (F.floor(ts_us_col / w) * w).cast("long")


def turn_rows(metrics: DataFrame, tier: str, window_start=None) -> DataFrame:
    """Each turn of ``metrics`` as a one-point row of ``tier``, in the
    window ``window_start`` (default: the turn's fixed-epoch ``tier``
    window) — no aggregate; ``merge_tiers`` makes the windows."""
    if window_start is None:
        window_start = window_start_col(F.col("ts_us"), tier)
    return metrics.select(
        "conv_id",
        window_start.alias("window_start_us"),
        *[turn().alias(c) for c, turn, _ in TIER_STATS],
        F.lit(tier).alias("tier"),
    )


def merge_tiers(rows: DataFrame) -> DataFrame:
    """The one tier aggregate: merge tier rows of ANY tiers per
    (conv_id, window_start_us, tier) in one hash aggregate (partial
    map-side combine + final; no window functions, no sort),
    integer-exact. Rows may be turn rows, re-windowed lower-tier rows, or
    an incremental commit's previous rows ∪ the turn rows of every tier."""
    return (
        rows.groupBy("conv_id", "window_start_us", "tier")
        .agg(*[merge(c).alias(c) for c, _, merge in TIER_STATS])
        .select("conv_id", "window_start_us", *TIER_AGG_COLS, "tier")
    )


def rollup_from_turns(metrics: DataFrame, tier: str) -> DataFrame:
    """Aggregate per-turn metrics directly into one tier."""
    return merge_tiers(turn_rows(metrics, tier))


def rollup_from_tier(lower: DataFrame, tier: str) -> DataFrame:
    """Re-aggregate tier rows into ``tier`` (integer-exact): the cascade
    step, ``merge_tiers`` over the rows re-windowed to ``tier``
    (floor(ws / w) * w is the identity on aligned starts)."""
    return merge_tiers(
        lower.select(
            "conv_id",
            window_start_col(F.col("window_start_us"), tier).alias("window_start_us"),
            *TIER_AGG_COLS,
            F.lit(tier).alias("tier"),
        )
    )


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

    Differs from rollup_from_turns only in the window of each turn row.
    """
    units = {"week", "month", "quarter", "year"}
    if unit not in units:
        raise ValueError(f"unit must be one of {sorted(units)}, got {unit!r}")
    ws = F.unix_micros(F.date_trunc(unit, F.timestamp_micros(F.col("ts_us"))))
    return merge_tiers(turn_rows(metrics, unit, ws))
