"""Applied retention on the incremental pipeline + chain compaction.

``apply_retention`` commits per-tier eviction bounds into the checkpoint
(the metadata-only DELETE of operators/retention.py — an Iceberg
partition drop), writes the sweep accounting table, and keeps the running
rollup-count totals consistent with what reads see. ``compact()`` is the
rewrite_data_files analogue: physically folds the chain, changing nothing
logically.
"""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sac2mseed_spark.operators.retention import retention_sweep, serve_tiered
from sac2mseed_spark.plans.pipeline import IncrementalRollup
from sac2mseed_spark.sources.transcripts import generate_transcripts

BOUNDS = [(0, 20), (20, 60), (60, 10_000)]
DAY_US = 86_400_000_000


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("retsnaps")
    t = generate_transcripts(spark, "t_small", seed=42)
    for i, (lo, hi) in enumerate(BOUNDS, start=1):
        part = t.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
        part.write.mode("overwrite").parquet(str(base / f"snap_{i:08d}"))
    span = t.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("lo"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("hi"),
    ).collect()[0]
    return str(base), t, int(span["lo"]), int(span["hi"])


def _horizons(lo_us, hi_us):
    """1m keeps the newest ~40% of the span, 1h keeps ~80%, 1d forever —
    guaranteed monotone and with positive bounds for this dataset."""
    span = hi_us - lo_us
    now_us = hi_us + 60_000_000
    return now_us, {
        "1m": span * 2 // 5 + 60_000_000,
        "1h": span * 4 // 5 + 60_000_000,
        "1d": None,
    }


def _rows_as_set(df):
    return {tuple(r) for r in df.collect()}


def by_packed_eviction_recorded(sweep_rows):
    """The packed 1m family must report a real eviction in this fixture
    (its horizon expires part of the span) — guards VERDICT r4 missing #5:
    sweep rows exist for packed tiers, not just aggregate ones."""
    packed = {r for r in sweep_rows if r[0] == "packed:1m"}
    return len(packed) == 1 and next(iter(packed))[2] > 0


def test_metrics_and_retention_tables_read_without_a_job(spark, snapshots, tmp_path, phase_jobs):
    """``metrics_table`` and ``retention_table`` start no job, to build or
    to collect, over 40 committed snapshots — more dirs than Spark lists
    without a job — and return the schema Spark infers for their dirs; a
    metrics dir written before a column existed reads that column as
    null."""
    _src, t, lo_us, hi_us = snapshots
    now_us, hz = _horizons(lo_us, hi_us)
    src = str(tmp_path / "src")
    for i in range(40):  # five turns a snapshot, the rest in the last
        lo, hi = 5 * i, (5 * i + 5 if i < 39 else 10_000)
        part = t.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
        part.write.parquet(os.path.join(src, f"snap_{i + 1:08d}"))
    work = str(tmp_path / "w")
    inc = IncrementalRollup(spark, src, work, pack_tiers=())
    assert inc.process_pending() == 40
    inc.apply_retention(now_us, hz)
    inc.apply_retention(now_us + DAY_US, hz)
    got = {}

    def read_and_collect():
        got.update(metrics=inc.metrics_table(), retention=inc.retention_table())
        got.update({f"{k} rows": df.collect() for k, df in list(got.items())})

    per = phase_jobs(read_and_collect)
    assert per == {}, per
    for family, glob in (("metrics", "snap_*"), ("retention", "sweep_*")):
        inferred = spark.read.parquet(os.path.join(work, family, glob)).schema
        assert got[family].schema == inferred, family
    assert len(got["metrics rows"]) == 40 * 3  # a row per tier and snapshot
    assert len(got["retention rows"]) == 2 * 3  # a row per tier, twice
    # snapshot 1's metrics as written before ``chain_len`` existed
    d = os.path.join(work, "metrics", "snap_00000001")
    (f,) = [n for n in os.listdir(d) if n.endswith(".parquet")]
    pq.write_table(pq.read_table(os.path.join(d, f)).drop(["chain_len"]), os.path.join(d, f))
    chain = {(r["snapshot_id"], r["chain_len"]) for r in inc.metrics_table().collect()}
    assert {c for sid, c in chain if sid == 1} == {None}
    assert None not in {c for sid, c in chain if sid != 1}


def test_apply_retention_accounting_and_reads(spark, snapshots, tmp_path, phase_jobs):
    src, _t, lo_us, hi_us = snapshots
    now_us, hz = _horizons(lo_us, hi_us)
    inc = IncrementalRollup(spark, src, str(tmp_path / "w"), pack_tiers=("1m",))
    inc.process_pending()

    pre = {t: inc.tier(t) for t in ("1m", "1h", "1d")}
    pre_counts = {t: df.count() for t, df in pre.items()}
    want_sweep = {
        tuple(r)
        for r in retention_sweep(pre, now_us, hz).collect()
    }
    # packed tiers get their own accounting rows (same horizon as the
    # aggregate twin, window-count semantics over the blob rows)
    want_sweep |= {
        ("packed:1m", *tuple(r)[1:])
        for r in retention_sweep({"1m": inc.packed_tier("1m")}, now_us, hz).collect()
    }
    serve_pre = _rows_as_set(serve_tiered(pre, now_us, hz))

    got = {}
    per = phase_jobs(lambda: got.setdefault("acct", inc.apply_retention(now_us, hz)))
    # the sweeps are Spark jobs; the accounting rows are written by the
    # driver and returned as a local relation: no job, none undescribed
    assert per["retention sweep tiers"] > 0, per
    assert per["retention accounting"] == per[None] == 0, per
    acct = got["acct"]
    assert acct.schema.simpleString() == (
        "struct<swept_at_us:bigint,tier:string,n_kept:bigint,n_evicted:bigint,"
        "pts_kept:bigint,pts_evicted:bigint>"
    )
    assert inc.retention_table().schema == acct.schema
    got_sweep = {
        (r["tier"], r["n_kept"], r["n_evicted"], r["pts_kept"], r["pts_evicted"])
        for r in acct.collect()
    }
    assert got_sweep == want_sweep
    assert by_packed_eviction_recorded(got_sweep)
    assert _rows_as_set(inc.retention_table().drop("swept_at_us")) == {
        tuple(r) for r in acct.drop("swept_at_us").collect()
    }
    # something actually expired at each bounded tier
    by_tier = {r[0]: r for r in got_sweep}
    assert by_tier["1m"][2] > 0 and by_tier["1h"][2] > 0
    assert by_tier["1d"][2] == 0

    # reads now see only retained windows; the serving view is unchanged
    # because its bands never reach past each tier's horizon
    post = {t: inc.tier(t) for t in ("1m", "1h", "1d")}
    for t in ("1m", "1h"):
        assert post[t].count() == pre_counts[t] - by_tier[t][2]
    assert _rows_as_set(serve_tiered(post, now_us, hz)) == serve_pre

    # packed tier respects the bound too
    packed = inc.packed_tier("1m")
    assert packed.filter(
        F.col("window_start_us") < F.lit(now_us - hz["1m"])
    ).count() == 0


def test_totals_track_reads_across_retention_and_ingest(
    spark, snapshots, tmp_path
):
    """Running totals in the metrics table == direct counts of what reads
    see, at every version and across an eviction."""
    src, t, lo_us, hi_us = snapshots
    now_us, hz = _horizons(lo_us, hi_us)
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    import shutil

    for i in (1, 2):
        shutil.copytree(
            os.path.join(src, f"snap_{i:08d}"),
            os.path.join(staged, f"snap_{i:08d}"),
        )
    inc = IncrementalRollup(spark, staged, str(tmp_path / "w2"))

    def assert_totals_match(snap_id):
        rows = {
            r["tier"]: r
            for r in inc.metrics_table().collect()
            if r["snapshot_id"] == snap_id
        }
        for tier in ("1m", "1h", "1d"):
            df = inc.tier(tier)
            direct = df.agg(
                F.count(F.lit(1)).alias("w"),
                F.coalesce(F.sum("n_points"), F.lit(0)).alias("p"),
            ).collect()[0]
            assert rows[tier]["n_windows"] == direct["w"], tier
            assert rows[tier]["n_points"] == direct["p"], tier

    inc.process_pending()
    assert_totals_match(2)
    inc.apply_retention(now_us, hz)
    # evicted counts came off the running totals
    state = inc._read_ckpt()
    for tier in ("1m", "1h"):
        df = inc.tier(tier)
        assert state["totals"][tier]["n_windows"] == df.count()
    # late third snapshot lands AFTER the sweep; totals stay consistent
    shutil.copytree(
        os.path.join(src, "snap_00000003"),
        os.path.join(staged, "snap_00000003"),
    )
    inc.process_pending()
    assert_totals_match(3)


def test_compact_is_logically_invisible(spark, snapshots, tmp_path):
    src, _t, lo_us, hi_us = snapshots
    now_us, hz = _horizons(lo_us, hi_us)
    inc = IncrementalRollup(spark, src, str(tmp_path / "w3"), pack_tiers=("1m",))
    inc.process_pending()
    inc.apply_retention(now_us, hz)

    before_aggs = {t: _rows_as_set(inc.tier(t)) for t in ("1m", "1h", "1d")}
    before_packed = {
        (r["conv_id"], r["window_start_us"]): bytes(r["payload"])
        for r in inc.packed_tier("1m").collect()
    }
    before_state = _rows_as_set(inc.conv_state())

    inc.compact()
    for t in ("1m", "1h", "1d"):
        assert _rows_as_set(inc.tier(t)) == before_aggs[t], t
    # every family's chain folded to a single entry, the next one
    for family in ("tiers", "packed", "state"):
        base = os.path.join(str(tmp_path / "w3"), family)
        assert sorted(os.listdir(base)) == ["d00000004"], family
    after_packed = {
        (r["conv_id"], r["window_start_us"]): bytes(r["payload"])
        for r in inc.packed_tier("1m").collect()
    }
    assert after_packed == before_packed
    assert _rows_as_set(inc.conv_state()) == before_state

    # and the pipeline keeps working on the compacted layout: another
    # sweep is a no-op accounting-wise (bounds already committed)
    acct2 = inc.apply_retention(now_us, hz)
    assert {r["n_evicted"] for r in acct2.collect()} == {0}
