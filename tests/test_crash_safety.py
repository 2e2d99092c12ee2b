"""Crash-consistency of the delta-chain store: reads never see
uncommitted data, and every maintenance action resumes cleanly.

Invariants under test (plans/pipeline.py module doc):
  * a chain entry ``d{n}`` is invisible until the checkpoint's
    ``entries`` counter reaches n, and debris above the counter from a
    crashed commit or heal is removed before the counter can pass it;
  * compact() is two-phase (stage -> intent -> swap -> clear) and a crash
    at ANY step leaves reads identical, with ``_maybe_recover`` finishing
    the swap on the next entry point;
  * the auto-compaction policy keeps every family's chain bounded while
    staying at batch-recompute parity;
  * chain reads during incremental maintenance are DELTA-SIZED: the
    touched-window semi-join prunes each chain entry to at most the
    delta's keys (the claim behind "per-snapshot cost proportional to
    the delta", guarded here against regression).
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sac2mseed_spark.functions.metrics import derive_turn_metrics
from sac2mseed_spark.operators.rollup import rollup_from_turns
from sac2mseed_spark.plans import pipeline as pl
from sac2mseed_spark.plans.pipeline import IncrementalRollup
from sac2mseed_spark.sources.transcripts import generate_transcripts

BOUNDS = [(0, 15), (15, 30), (30, 45), (45, 10_000)]


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("crashsnaps")
    t = generate_transcripts(spark, "t_small", seed=42)
    for i, (lo, hi) in enumerate(BOUNDS, start=1):
        part = t.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
        part.write.mode("overwrite").parquet(str(base / f"snap_{i:08d}"))
    return str(base), t


def _agg_as_dict(df):
    return {
        (r["conv_id"], r["window_start_us"], r["tier"]): (
            r["n_points"], r["sum_tokens"], r["min_ts_us"], r["max_ts_us"]
        )
        for r in df.collect()
    }


def test_uncommitted_heal_dirs_invisible_and_gcd(spark, snapshots, tmp_path):
    """Half-written entries above the committed counter (a crashed heal
    or commit, before its checkpoint commit) must not be readable, and
    the next heal must remove them rather than let the advancing counter
    expose them."""
    src, full_t = snapshots
    work = str(tmp_path / "w")
    inc = IncrementalRollup(spark, src, work, pack_tiers=())
    inc.process_pending()
    clean = _agg_as_dict(inc.tier("1h"))
    n = inc._read_ckpt()["entries"]

    # plant poison: valid-schema entries one and two past the counter with
    # absurd values -> must stay invisible
    poison = [os.path.join(work, "tiers", f"d{n + k:08d}") for k in (1, 2)]
    for p in poison:
        inc.tier("1h").limit(5).withColumn(
            "n_points", F.lit(999_999)
        ).write.partitionBy("tier").mode("overwrite").parquet(p)
    assert _agg_as_dict(inc.tier("1h")) == clean, "uncommitted entry leaked"

    # a real heal cycle later (simulate: flag one conversation pending at
    # the committed version) writes entry n + 1 and must GC the orphan
    # above it, not let a later counter expose it
    some_conv = inc.tier("1h").select("conv_id").limit(1)
    some_conv.write.mode("overwrite").parquet(
        os.path.join(work, "heal_pending", "d00000004")
    )
    assert inc.heal() == 1
    assert inc._read_ckpt()["entries"] == n + 1
    assert not os.path.isdir(poison[1]), "orphan debris not GC'd"
    assert _agg_as_dict(inc.tier("1h")) == clean, "heal changed clean data"


def _stage_compaction(inc, state, v):
    """Phase 1 of compact() by hand: every family's resolved chain staged
    under ``_compact_tmp`` in the family's own layout."""
    for base, keys in inc._compact_jobs():
        r = inc._resolve_chain(base, v, keys, bounds=state["retention_bounds"])
        if r is not None:
            w = r.write.mode("overwrite")
            if "tier" in keys:
                w = w.partitionBy("tier")
            w.parquet(os.path.join(base, "_compact_tmp"))


@pytest.mark.parametrize("crash_step", ["staged", "intent", "mid_rmtree", "mid_swap"])
def test_compact_crash_matrix(spark, snapshots, tmp_path, monkeypatch, crash_step):
    """Kill compact() at each protocol step; reads must be identical
    before the crash, after the crash, and after recovery — and recovery
    must leave a fully folded chain."""
    src, full_t = snapshots
    work = str(tmp_path / f"w_{crash_step}")
    inc = IncrementalRollup(spark, src, work, pack_tiers=(), max_chain=None)
    inc.process_pending()
    want = _agg_as_dict(inc.tier("1h"))
    state = inc._read_ckpt()
    v = state["entries"]

    if crash_step == "staged":
        # crash after phase 1: tmps staged, no intent committed
        _stage_compaction(inc, state, v)
    elif crash_step == "intent":
        # crash right after phase 2: intent committed, nothing swapped
        _stage_compaction(inc, state, v)
        state["compact_intent"] = v
        inc._commit_ckpt(state)
    else:
        # crash INSIDE phase 3 via an injected fault: after the k-th
        # old-entry delete (mid_rmtree) or the first adoption (mid_swap)
        calls = {"n": 0}
        real_rmtree, real_replace = shutil.rmtree, os.replace

        if crash_step == "mid_rmtree":
            def boom(path, *a, **k):
                calls["n"] += 1
                real_rmtree(path, *a, **k)
                if calls["n"] == 2:
                    raise RuntimeError("simulated crash mid-delete")
            monkeypatch.setattr(pl.shutil, "rmtree", boom)
        else:
            def boom(srcp, dst):
                real_replace(srcp, dst)
                calls["n"] += 1
                if "_compact_tmp" in str(srcp) and calls["n"] >= 1:
                    raise RuntimeError("simulated crash mid-swap")
            monkeypatch.setattr(pl.os, "replace", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            inc.compact()
        monkeypatch.setattr(pl.shutil, "rmtree", real_rmtree)
        monkeypatch.setattr(pl.os, "replace", real_replace)

    # a FRESH handle (new process after the crash) must read clean data —
    # recovery runs implicitly on the first entry point
    inc2 = IncrementalRollup(spark, src, work, pack_tiers=(), max_chain=None)
    assert _agg_as_dict(inc2.tier("1h")) == want, crash_step
    assert "compact_intent" not in inc2._read_ckpt(), "intent not cleared"

    # and an explicit compact() completes the fold
    inc2.compact()
    assert _agg_as_dict(inc2.tier("1h")) == want, f"{crash_step} post-compact"
    base = os.path.join(work, "tiers")
    assert sorted(os.listdir(base)) == [f"d{v:08d}"], crash_step


def test_auto_compaction_bounds_chain_at_parity(spark, snapshots, tmp_path):
    """max_chain policy: chains stay bounded across many snapshots and
    reads remain at batch-recompute parity throughout."""
    src, full_t = snapshots
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    inc = IncrementalRollup(
        spark, staged, str(tmp_path / "w"), pack_tiers=(), max_chain=2
    )
    for i in range(1, len(BOUNDS) + 1):
        shutil.copytree(
            os.path.join(src, f"snap_{i:08d}"),
            os.path.join(staged, f"snap_{i:08d}"),
        )
        inc.process_pending()
        assert inc.chain_length() <= 3, f"chain unbounded at snapshot {i}"
    want = _agg_as_dict(
        rollup_from_turns(derive_turn_metrics(full_t), "1h")
    )
    assert _agg_as_dict(inc.tier("1h")) == want


def test_chain_reads_are_delta_sized(spark, snapshots, tmp_path):
    """During _process_one, every tier-chain resolve must pass a
    ``touched`` pruner and return at most the delta's window count —
    the regression guard for the delta-sized-merge claim."""
    src, full_t = snapshots
    staged = str(tmp_path / "staged2")
    os.makedirs(staged)
    for i in (1, 2):
        shutil.copytree(
            os.path.join(src, f"snap_{i:08d}"),
            os.path.join(staged, f"snap_{i:08d}"),
        )

    calls = []

    class SpyInc(IncrementalRollup):
        def _resolve_chain(self, base, version, keys, touched=None, **kw):
            df = super()._resolve_chain(base, version, keys, touched=touched, **kw)
            calls.append((base, touched is not None, df))
            return df

    work = str(tmp_path / "w2")
    inc = SpyInc(spark, staged, work, pack_tiers=())
    inc.process_pending()
    snap2 = spark.read.parquet(os.path.join(staged, "snap_00000002"))
    delta_m = derive_turn_metrics(snap2)
    tier_resolves = [
        (has_touched, df)
        for base, has_touched, df in calls
        if base == os.path.join(work, "tiers") and df is not None
    ]
    assert tier_resolves, "no tier-chain resolves recorded"
    for has_touched, df in tier_resolves:
        assert has_touched, "tier-chain resolve without touched pruning"
        got = {r["tier"]: r["count"] for r in df.groupBy("tier").count().collect()}
        for tier, n_got in got.items():
            n_delta_windows = (
                rollup_from_turns(delta_m, tier)
                .select("conv_id", "window_start_us").distinct().count()
            )
            assert n_got <= n_delta_windows, (
                f"{tier}: resolve returned more rows than the delta touches"
            )
