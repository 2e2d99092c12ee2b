import pytest
from pyspark.sql import functions as F

from sac2mseed_spark.functions.metrics import derive_turn_metrics, slim_metrics
from sac2mseed_spark.operators.retention import (
    DEFAULT_HORIZONS_US,
    retained,
    retention_bounds,
    retention_sweep,
    serve_tiered,
)
from sac2mseed_spark.operators.rollup import rollup_cascade
from sac2mseed_spark.sources.transcripts import generate_transcripts

# t_gaps conversations span ~4-5 days (500 turns + 6h injected gaps), so
# 12h of 1m windows / 2d of 1h windows leaves every band non-empty
H = {"1m": 43_200_000_000, "1h": 2 * 86_400_000_000, "1d": None}


@pytest.fixture(scope="module")
def tiers(spark):
    m = slim_metrics(
        derive_turn_metrics(generate_transcripts(spark, "t_gaps", seed=42))
    ).persist()
    t = {k: v.persist() for k, v in rollup_cascade(m).items()}
    yield m, t
    for v in t.values():
        v.unpersist()
    m.unpersist()


def _now(m):
    return m.agg(F.max("ts_us")).collect()[0][0]


def test_sweep_partitions_each_tier(tiers):
    m, t = tiers
    now = _now(m)
    rows = {r.tier: r for r in retention_sweep(t, now, H).collect()}
    for tier in ("1m", "1h", "1d"):
        total = t[tier].count()
        pts = t[tier].agg(F.sum("n_points")).collect()[0][0]
        r = rows[tier]
        assert r.n_kept + r.n_evicted == total
        assert r.pts_kept + r.pts_evicted == pts
    # every tier carries every point of the input
    n = m.count()
    assert all(rows[t_].pts_kept + rows[t_].pts_evicted == n for t_ in rows)
    # unlimited horizon evicts nothing
    assert rows["1d"].n_evicted == 0 and rows["1d"].pts_evicted == 0
    # finite horizons on this multi-month fixture evict something
    assert rows["1m"].n_evicted > 0 and rows["1h"].n_evicted > 0


def test_retention_filter_matches_sweep(tiers):
    m, t = tiers
    now = _now(m)
    rows = {r.tier: r for r in retention_sweep(t, now, H).collect()}
    bounds = retention_bounds(now, H)
    for tier in ("1m", "1h", "1d"):
        assert t[tier].filter(retained(bounds, tier)).count() == rows[tier].n_kept


def test_serve_bands_partition_points_exactly(tiers):
    from sac2mseed_spark.operators.retention import band_edges_us

    m, t = tiers
    now = _now(m)
    served = serve_tiered(t, now, H).persist()
    # no duplicate (conv, window, tier)
    assert served.groupBy("conv_id", "window_start_us", "tier").count().filter(
        F.col("count") > 1
    ).count() == 0
    # band predicates reproduce the same rows as filtering each tier with
    # the aligned edges directly
    edge1, edge2 = band_edges_us(now, H)
    by_tier = {
        r.tier: r.cnt
        for r in served.groupBy("tier").agg(F.count("*").alias("cnt")).collect()
    }
    assert by_tier.get("1m", 0) == t["1m"].filter(F.col("window_start_us") >= edge1).count()
    assert by_tier.get("1h", 0) == t["1h"].filter(
        (F.col("window_start_us") >= edge2) & (F.col("window_start_us") < edge1)
    ).count()
    assert by_tier.get("1d", 0) == t["1d"].filter(F.col("window_start_us") < edge2).count()
    # coarser-window-aligned edges => every input turn served EXACTLY once
    assert served.agg(F.sum("n_points")).collect()[0][0] == m.count()
    served.unpersist()


def test_serve_forever_fine_tier_shadows_coarser(tiers):
    m, t = tiers
    served = serve_tiered(t, _now(m), {"1m": None, "1h": 3600, "1d": None})
    by_tier = {r.tier: r.cnt for r in served.groupBy("tier").agg(F.count("*").alias("cnt")).collect()}
    assert by_tier.get("1h", 0) == 0 and by_tier.get("1d", 0) == 0
    assert by_tier["1m"] == t["1m"].count()


def test_serve_default_horizons_runs(tiers):
    m, t = tiers
    served = serve_tiered(t, _now(m), DEFAULT_HORIZONS_US)
    assert served.count() > 0
