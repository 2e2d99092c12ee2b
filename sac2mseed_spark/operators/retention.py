"""Retention policies over the tier cascade — downsample-and-expire.

The north star's "retention tiers" complete the classic round-robin-
database contract: fine tiers keep a short horizon, coarse tiers keep a
long one, and a serving read stitches the finest retained tier per age
band. The reference's analogue is record pruning at read time via
selections (/root/reference/libmseed/fileutils.c:805-818): a cheap time
predicate drops whole records before any decode.

100 TB design: every policy here is a pure predicate on window_start_us —
with tier tables partitioned by day (sinks/tier_tables.py), retention
filters and age-band reads are PARTITION PRUNING, not scans. Eviction in
an Iceberg deployment is `DELETE WHERE window_start_us < bound` (metadata-
only drop of whole partitions); the sweep report below is exactly the
accounting such a job would emit to the metrics table.

Determinism contract: ``now_us`` is an explicit argument (the oracle and
the engine must agree on "now"); horizons are integer microseconds; band
edges compare window_start_us (a window whose start predates a bound
belongs wholly to the coarser band — documented, boundary-exact).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Default horizons: how far back each tier is retained. None = forever.
DEFAULT_HORIZONS_US: dict[str, int | None] = {
    "1m": 2 * 86_400_000_000,  # 2 days of per-minute windows
    "1h": 10 * 86_400_000_000,  # 10 days of hourly windows
    "1d": None,  # daily windows kept forever
}


def retention_bound_us(tier: str, now_us: int, horizons=None) -> int | None:
    h = (horizons or DEFAULT_HORIZONS_US)[tier]
    return None if h is None else now_us - h


def retention_bounds(now_us: int, horizons=None) -> dict[str, int]:
    """tier -> eviction bound of every tier with a finite horizon."""
    hz = horizons or DEFAULT_HORIZONS_US
    return {t: lo for t in hz if (lo := retention_bound_us(t, now_us, hz)) is not None}


def retained(bounds: dict, tier: str | None = None) -> Column:
    """The retention predicate, the one definition (the metadata-only
    ``DELETE WHERE window_start_us < bound`` per tier): a row of ``tier``
    (default: the frame's ``tier`` column) is kept iff its
    ``window_start_us`` is not behind that tier's bound in ``bounds``
    (tier -> bound; a tier without one keeps everything)."""
    tier = F.col("tier") if tier is None else F.lit(tier)
    ws = F.col("window_start_us")
    return reduce(
        operator.and_,
        [(tier != t) | (ws >= F.lit(lo)) for t, lo in bounds.items()],
        F.lit(True),
    )


def retention_sweep(
    tiers: dict[str, DataFrame] | DataFrame, now_us: int, horizons=None
) -> DataFrame:
    """Eviction accounting per tier: (tier, n_kept, n_evicted, pts_kept,
    pts_evicted) — the report a retention job writes to the metrics table
    after its metadata-only DELETE. ``tiers`` is a table per tier, or one
    table of rows of any tiers keyed by its ``tier`` column (a window-keyed
    chain). One grouped pass, no joins; a tier without rows reports no
    row."""
    if isinstance(tiers, dict):
        tiers = reduce(
            DataFrame.unionByName,
            [
                df.select("window_start_us", "n_points", F.lit(t).alias("tier"))
                for t, df in tiers.items()
            ],
        )
    keep = retained(retention_bounds(now_us, horizons))
    pts = F.col("n_points")
    return tiers.groupBy("tier").agg(
        F.count_if(keep).alias("n_kept"),
        F.count_if(~keep).alias("n_evicted"),
        F.coalesce(F.sum(F.when(keep, pts)), F.lit(0)).alias("pts_kept"),
        F.coalesce(F.sum(F.when(~keep, pts)), F.lit(0)).alias("pts_evicted"),
    )


def band_edges_us(
    now_us: int, horizons=None, order=("1m", "1h", "1d")
) -> list[int | None]:
    """Exclusive band edge between consecutive tiers: the finer tier's
    retention bound, CEIL-ALIGNED UP to the coarser tier's window size.

    Alignment makes the bands partition the underlying POINTS exactly:
    finer windows nest inside coarser ones, so with an edge on a coarser-
    window boundary, every point lands in exactly one band (a raw,
    unaligned edge would double-serve the coarse window that straddles
    it). Ceil (not floor) keeps the finer band inside its retention
    horizon. Integer arithmetic only — the DuckDB oracle computes the
    identical ((lo + w - 1) // w) * w — with precondition lo >= 0 (i.e.
    now_us >= every finite horizon): Python ``//`` floors while SQL
    integer division truncates toward zero, so a negative lo would
    ceil-align differently across engines (raised, not silent).

    Horizons must be monotone: each coarser tier's horizon >= the finer
    tier's (None = forever = always coarsest-compatible). A coarser
    horizon SHORTER than a finer one would make bands overlap — rows in
    [edge_coarse, edge_fine) served by both the finer and the coarsest
    tier — so it raises instead of silently double-serving points."""
    from .. import TIERS

    hz = horizons or DEFAULT_HORIZONS_US
    for finer, coarser in zip(order, order[1:]):
        hf, hc = hz[finer], hz[coarser]
        # a finer tier kept forever (hf None) legally SHADOWS every
        # coarser tier (serve_tiered empties their bands); the overlap
        # hazard is only a finite coarser horizon shorter than a finite
        # finer one
        if hc is not None and hf is not None and hc < hf:
            raise ValueError(
                f"non-monotone retention horizons: tier {coarser!r} keeps "
                f"{hc} us but finer tier {finer!r} keeps {hf} us"
            )
    edges: list[int | None] = []
    for finer, coarser in zip(order, order[1:]):
        lo = retention_bound_us(finer, now_us, hz)
        if lo is None:
            edges.append(None)  # finer tier retained forever
        else:
            if lo < 0:
                raise ValueError(
                    f"band-edge precondition violated: now_us - horizon = "
                    f"{lo} < 0 for tier {finer!r} (dataset younger than its "
                    f"horizon at epoch-near timestamps)"
                )
            w = TIERS[coarser]
            edges.append(((lo + w - 1) // w) * w)
    # Alignment can invert edges even under monotone horizons: a coarser
    # pair's edge ceil-aligns up to a BIGGER window (1d vs 1h), so with
    # close horizons edge_coarse may overshoot edge_fine, and the bands
    # [edge_fine, inf) and (-inf, edge_coarse) would both serve
    # [edge_fine, edge_coarse). Clamp each finer edge UP to the max of
    # the coarser edges: the contested range is served by the coarser
    # tier, which the monotone-horizon check guarantees retains it, and
    # a coarser-aligned edge is automatically aligned for every finer
    # pair (windows nest). The DuckDB oracle applies the identical
    # greatest() clamp (__spark_entry__._RET_TIERS_CTE).
    max_coarser: int | None = None
    for i in range(len(edges) - 1, -1, -1):
        if edges[i] is None:
            continue
        if max_coarser is not None and edges[i] < max_coarser:
            edges[i] = max_coarser
        max_coarser = edges[i]
    return edges


def serve_tiered(
    tiers: dict[str, DataFrame], now_us: int, horizons=None
) -> DataFrame:
    """Age-banded serving view: the FINEST retained tier per age band.

    Recent windows come from the 1m tier, mid-age from 1h, old from 1d;
    band edges are coarser-window-aligned (band_edges_us) so the bands are
    disjoint AND every input point is served exactly once. Pure filters +
    union — each band is partition-prunable and nothing shuffles.
    """
    order = [t for t in ("1m", "1h", "1d") if t in tiers]
    edges = band_edges_us(now_us, horizons, tuple(order))
    outs = []
    shadowed = False  # a finer tier kept forever serves everything older
    for i, tier in enumerate(order):
        df = tiers[tier]
        lo = edges[i] if i < len(edges) else None
        hi = edges[i - 1] if i > 0 else None
        if shadowed or (i > 0 and hi is None):
            shadowed = True
            outs.append(df.filter(F.lit(False)))
            continue
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col("window_start_us") >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col("window_start_us") < F.lit(hi))
        outs.append(df.filter(pred))
    return reduce(DataFrame.unionByName, outs)
