"""Crash-consistency of the delta-chain store: reads never see
uncommitted data, reads never write, and every writer resumes cleanly.

Invariants under test (plans/pipeline.py module doc):
  * a chain entry ``d{n}`` — a commit's, a heal's or a compaction's — is
    invisible until the checkpoint's ``entries`` counter reaches n, and
    debris above the counter from a crashed writer is removed before the
    counter can pass it;
  * compact() writes the folded chain as the next entry and deletes the
    older ones after its checkpoint: a crash at ANY step leaves reads
    identical, and the next compact() folds what is left;
  * no read entry point changes a byte of the store, whatever state a
    crash left it in;
  * the auto-compaction policy keeps every family's chain bounded after
    commits and heals alike while staying at batch-recompute parity;
  * chain reads during incremental maintenance are DELTA-SIZED: the
    touched-window semi-join prunes each chain entry to at most the
    delta's keys (the claim behind "per-snapshot cost proportional to
    the delta", guarded here against regression).
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sac2mseed_spark import TIERS
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


@pytest.fixture(scope="module")
def committed(spark, snapshots, tmp_path_factory):
    """A store holding every snapshot as its own entry (packed 1m
    included) after a retention sweep that evicts about half the 1m
    windows; tests work on copies of it."""
    src, t = snapshots
    store = str(tmp_path_factory.mktemp("committed") / "w")
    inc = IncrementalRollup(spark, src, store, pack_tiers=("1m",), max_chain=None)
    inc.process_pending()
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    lo_us, hi_us = t.agg(F.min(ts_us), F.max(ts_us)).collect()[0]
    now_us = hi_us + 60_000_000
    hz = {"1m": (hi_us - lo_us) // 2, "1h": None, "1d": None}
    acct = inc.apply_retention(now_us, hz).collect()
    assert {r["tier"] for r in acct if r["n_evicted"] > 0} == {"1m", "packed:1m"}
    return src, store, now_us, hz


def _copy(spark, committed, tmp_path):
    src, store, _, _ = committed
    work = str(tmp_path / "w")
    shutil.copytree(store, work)
    return IncrementalRollup(spark, src, work, pack_tiers=("1m",), max_chain=None)


def _reads(inc, now_us, hz):
    """What every read entry point returns, collected."""

    def rows(df):
        return None if df is None else sorted(repr(tuple(r)) for r in df.collect())

    return {
        **{t: rows(inc.tier(t)) for t in TIERS},
        "packed": rows(inc.packed_tier("1m")),
        "state": rows(inc.conv_state()),
        "serve": rows(inc.serve(now_us, hz)),
        "metrics": rows(inc.metrics_table()),
        "retention": rows(inc.retention_table()),
    }


# where compact() is killed: after the first family's new entry is written
# (mid_write) or after every family's (staged), before the checkpoint; or
# after the checkpoint, on the second delete of an older entry (mid_rmtree)
CRASH_STEPS = ["mid_write", "staged", "mid_rmtree"]


def _crash_compact(inc, monkeypatch, step):
    if step == "mid_write":
        real_write = pl._write_by_tier

        def boom(df, path):
            real_write(df, path)
            raise RuntimeError("simulated crash mid-write")

        monkeypatch.setattr(pl, "_write_by_tier", boom)
    elif step == "staged":

        def boom(state):
            raise RuntimeError("simulated crash before the checkpoint")

        monkeypatch.setattr(inc, "_commit_ckpt", boom)
    else:
        calls = {"n": 0}
        real_rmtree = shutil.rmtree

        def boom(path, *a, **k):
            calls["n"] += 1
            real_rmtree(path, *a, **k)
            if calls["n"] == 2:
                raise RuntimeError("simulated crash mid-delete")

        monkeypatch.setattr(pl.shutil, "rmtree", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        inc.compact()
    monkeypatch.undo()


@pytest.mark.parametrize("crash_step", CRASH_STEPS)
def test_compact_crash_matrix(spark, committed, tmp_path, monkeypatch, crash_step):
    """Kill compact() at each step; reads must be identical before the
    crash, after it and after the next compact() — which must leave each
    family one dir, the committed counter's entry."""
    _, _, now_us, hz = committed
    inc = _copy(spark, committed, tmp_path)
    want = _reads(inc, now_us, hz)
    _crash_compact(inc, monkeypatch, crash_step)

    # a FRESH handle (new process after the crash) must read clean data
    inc2 = IncrementalRollup(spark, inc.input_dir, inc.work_dir, pack_tiers=("1m",))
    assert _reads(inc2, now_us, hz) == want, crash_step
    if crash_step == "mid_rmtree":
        # the undeleted older entries still count towards the policy
        assert inc2.chain_length() > 1

    # and the next compact() completes the fold
    inc2.compact()
    assert _reads(inc2, now_us, hz) == want, f"{crash_step} post-compact"
    n = inc2._read_ckpt()["entries"]
    for family in ("tiers", "packed", "state"):
        base = os.path.join(inc.work_dir, family)
        assert sorted(os.listdir(base)) == [f"d{n:08d}"], (crash_step, family)


def _listing(work):
    """(path, size, mtime) of every file and dir under ``work``."""
    out = set()
    for root, dirs, files in os.walk(work):
        for name in dirs + files:
            path = os.path.join(root, name)
            st = os.stat(path)
            out.add((os.path.relpath(path, work), st.st_size, st.st_mtime_ns))
    return out


@pytest.mark.parametrize("crash_step", ["clean", *CRASH_STEPS])
def test_reads_never_write(spark, committed, tmp_path, monkeypatch, crash_step):
    """Every read entry point, over a clean store and over a store left
    in each compaction crash state, leaves every file and dir and the
    checkpoint's bytes as they were."""
    _, _, now_us, hz = committed
    inc = _copy(spark, committed, tmp_path)
    if crash_step != "clean":
        _crash_compact(inc, monkeypatch, crash_step)
    before = _listing(inc.work_dir)
    with open(inc.ckpt_path, "rb") as f:
        ckpt = f.read()

    inc2 = IncrementalRollup(spark, inc.input_dir, inc.work_dir, pack_tiers=("1m",))
    _reads(inc2, now_us, hz)
    inc2.chain_length()
    assert _listing(inc.work_dir) == before, crash_step
    with open(inc.ckpt_path, "rb") as f:
        assert f.read() == ckpt, crash_step


def _entry_files(work, n):
    """{leaf of entry ``d{n}`` of every family, relative to ``work``: its
    files' bytes, sorted}. Spark names each file after its write, so the
    files are compared by content."""
    out = {}
    for family in ("tiers", "packed", "state"):
        for d, _, names in os.walk(os.path.join(work, family, f"d{n:08d}")):
            data = []
            for m in names:
                if m.endswith(".parquet"):
                    with open(os.path.join(d, m), "rb") as f:
                        data.append(f.read())
            if data:
                out[os.path.relpath(d, work)] = sorted(data)
    return out


@pytest.mark.parametrize("failing", ["packed", "tiers"])
def test_failed_family_write_joins_the_other(spark, snapshots, tmp_path, monkeypatch, failing):
    """A commit's tier and pack writes run in two threads. When one of
    them fails at once, the other's write has finished, and no job is
    left running, by the time the error reaches the caller; the counter
    and every read are as before the commit, and the rerun commits the
    same bytes as a store where the commit never failed."""
    src, t = snapshots
    ref = IncrementalRollup(spark, src, str(tmp_path / "ref"), pack_tiers=("1m",))
    assert ref.process_pending() == len(BOUNDS)
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for i in range(1, len(BOUNDS)):
        name = f"snap_{i:08d}"
        shutil.copytree(os.path.join(src, name), os.path.join(staged, name))
    inc = IncrementalRollup(spark, staged, str(tmp_path / "w"), pack_tiers=("1m",))
    assert inc.process_pending() == len(BOUNDS) - 1
    now_us = t.agg(F.max(F.unix_micros(F.col("ts").cast("timestamp")))).collect()[0][0]
    want = _reads(inc, now_us, None)
    with open(inc.ckpt_path, "rb") as f:
        ckpt = f.read()

    real_write = pl._write_by_tier

    def boom(df, path):
        if os.sep + failing + os.sep in path:
            raise RuntimeError(f"simulated crash in the {failing} write")
        real_write(df, path)

    last = f"snap_{len(BOUNDS):08d}"
    shutil.copytree(os.path.join(src, last), os.path.join(staged, last))
    monkeypatch.setattr(pl, "_write_by_tier", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        inc.process_pending()
    monkeypatch.undo()
    other = "tiers" if failing == "packed" else "packed"
    n = len(BOUNDS)
    assert os.path.exists(os.path.join(inc.work_dir, other, f"d{n:08d}", "_SUCCESS"))
    assert not os.path.exists(os.path.join(inc.work_dir, failing, f"d{n:08d}"))
    assert not spark.sparkContext.statusTracker().getActiveJobsIds()
    with open(inc.ckpt_path, "rb") as f:
        assert f.read() == ckpt
    assert _reads(inc, now_us, None) == want

    assert inc.process_pending() == 1
    assert _entry_files(inc.work_dir, n) == _entry_files(ref.work_dir, n)


def test_auto_compaction_bounds_chain_at_parity(spark, snapshots, tmp_path):
    """max_chain policy: chains stay bounded across many snapshots and
    many heals, and reads remain at batch-recompute parity throughout."""
    src, full_t = snapshots
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    work = str(tmp_path / "w")
    inc = IncrementalRollup(spark, staged, work, pack_tiers=(), max_chain=2)
    for i in range(1, len(BOUNDS) + 1):
        shutil.copytree(
            os.path.join(src, f"snap_{i:08d}"),
            os.path.join(staged, f"snap_{i:08d}"),
        )
        inc.process_pending()
        assert inc.chain_length() <= 3, f"chain unbounded at snapshot {i}"
    # a heal is a chain entry too: re-flag one conversation before each
    flag = full_t.select("conv_id").limit(1)
    for k in range(1, 5):
        flag.write.parquet(os.path.join(work, "heal_pending", f"d{len(BOUNDS):08d}"))
        assert inc.heal() == 1
        assert inc.chain_length() <= 3, f"chain unbounded at heal {k}"
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
