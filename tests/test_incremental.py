"""Incremental snapshot pipeline: resume, idempotence, state carry, lineage.

Mirrors the reference's resumable scan position (fpos, fileutils.c:367-384)
and cross-record StreamState (libmseed.h:458-465) at snapshot granularity.
"""

import json
import os
import shutil
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from sac2mseed_spark.functions.metrics import derive_turn_metrics, ts_us_col
from sac2mseed_spark.operators.pack import pack_tier
from sac2mseed_spark.operators.rollup import rollup_from_turns
from sac2mseed_spark.plans.pipeline import IncrementalRollup, list_snapshots
from sac2mseed_spark.sources.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory):
    """Split t_small into 3 append-ordered snapshots by turn ranges."""
    base = tmp_path_factory.mktemp("snaps")
    t = generate_transcripts(spark, "t_small", seed=42)
    bounds = [(0, 20), (20, 60), (60, 10_000)]
    for i, (lo, hi) in enumerate(bounds, start=1):
        part = t.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
        part.write.mode("overwrite").parquet(str(base / f"snap_{i:08d}"))
    return str(base), t


def _tiers_as_dict(df):
    return {
        (r["conv_id"], r["window_start_us"], r["tier"]): (
            r["n_points"], r["n_latency"], r["sum_latency_us"],
            r["min_latency_us"], r["max_latency_us"], r["sum_tokens"],
            r["min_ts_us"], r["max_ts_us"],
        )
        for r in df.collect()
    }


def test_incremental_equals_full_recompute(spark, snapshots, tmp_path):
    src, full_t = snapshots
    inc = IncrementalRollup(spark, src, str(tmp_path / "work"))
    n = inc.process_pending()
    assert n == 3
    full_m = derive_turn_metrics(full_t)
    for tier in ("1m", "1h", "1d"):
        got = _tiers_as_dict(inc.tier(tier))
        want = _tiers_as_dict(rollup_from_turns(full_m, tier))
        assert got == want, f"tier {tier} diverges from batch recompute"


def test_carried_turn_at_a_duplicate_ts_equals_full_recompute(spark, tmp_path):
    """t_edge split between turn 0 and turn 1: each continued
    conversation's carried last turn is its turn 0, whose ts its turn 1
    repeats (a zero latency across the snapshots); conversations have one
    or two turns, some with empty text. Every tier and the packed 1m tier
    equal the batch path's."""
    src = tmp_path / "edge"
    t = generate_transcripts(spark, "t_edge")
    for i, part in enumerate((F.col("turn_idx") < 1, F.col("turn_idx") >= 1), start=1):
        t.filter(part).write.parquet(str(src / f"snap_{i:08d}"))
    full_m = derive_turn_metrics(t)
    # precondition: the tie spans the split
    assert full_m.filter("turn_idx = 1 AND latency_us = 0").count() > 0
    inc = IncrementalRollup(spark, str(src), str(tmp_path / "w"), pack_tiers=("1m",))
    assert inc.process_pending() == 2
    for tier in ("1m", "1h", "1d"):
        got = _tiers_as_dict(inc.tier(tier))
        want = _tiers_as_dict(rollup_from_turns(full_m, tier))
        assert got == want, f"tier {tier} diverges from batch recompute"
    cols = ["conv_id", "window_start_us", "n_points", "first_ts_us", "last_ts_us",
            "x0", "xn", "payload", "crc32"]
    got = inc.packed_tier("1m").select(*cols).collect()
    want = pack_tier(full_m, "1m").select(*cols).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_resume_after_partial_failure(spark, snapshots, tmp_path):
    """Kill between tier write and checkpoint commit -> rerun must not
    double-count (the orphan entry above the counter is removed by the
    rerun's GC and written again)."""
    src, full_t = snapshots
    work = str(tmp_path / "work2")
    inc = IncrementalRollup(spark, src, work)

    state = inc._read_ckpt()
    snaps = list_snapshots(src)
    # process snapshot 1 fully
    inc._process_one(state, *snaps[0])
    state["version"] = snaps[0][0]
    inc._commit_ckpt(state)
    # process snapshot 2 but CRASH before the checkpoint commit
    inc._process_one(state, *snaps[1])
    # resume: snapshot 2 reprocessed (overwrite), snapshot 3 processed
    assert inc.process_pending() == 2
    full_m = derive_turn_metrics(full_t)
    got = _tiers_as_dict(inc.tier("1h"))
    want = _tiers_as_dict(rollup_from_turns(full_m, "1h"))
    assert got == want
    # metrics are replay-idempotent too: exactly one row per
    # (snapshot, tier) even though snapshot 2 ran twice
    mrows = inc.metrics_table().collect()
    keys = [(r["snapshot_id"], r["tier"]) for r in mrows]
    assert len(keys) == len(set(keys)) == 9


def test_noop_when_caught_up(spark, snapshots, tmp_path):
    src, _ = snapshots
    work = str(tmp_path / "work3")
    inc = IncrementalRollup(spark, src, work)
    assert inc.process_pending() == 3
    assert inc.process_pending() == 0


def test_metrics_lineage(spark, snapshots, tmp_path):
    src, full_t = snapshots
    work = str(tmp_path / "work4")
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    inc = IncrementalRollup(spark, staged, work)
    # running totals (maintained arithmetically from delta-sized stats,
    # never an O(table) rescan) match a direct scan right after EVERY
    # commit
    for snap_id in (1, 2, 3):
        _stage(src, staged, snap_id)
        assert inc.process_pending() == 1
        _assert_totals_equal_scan(inc, snap_id)
    mt = inc.metrics_table()
    assert mt.schema.simpleString() == (
        "struct<run_id:string,snapshot_id:int,tier:string,n_windows:bigint,"
        "n_points:bigint,lineage:string,wall_s:double,ooo_convs:bigint,"
        "chain_len:int>"
    )
    rows = mt.collect()
    # 3 snapshots x 3 tiers
    assert len(rows) == 9
    assert all(r["lineage"] for r in rows)
    assert {r["snapshot_id"] for r in rows} == {1, 2, 3}
    # final cumulative n_points per tier == total turns
    n_turns = full_t.count()
    last = {r["tier"]: r["n_points"] for r in rows if r["snapshot_id"] == 3}
    assert set(last.values()) == {n_turns}
    # checkpoint file records version 3
    with open(os.path.join(work, "_checkpoint.json")) as f:
        assert json.load(f)["version"] == 3
    # each snapshot's rows (one per tier) are written as one file
    for snap_id in (1, 2, 3):
        d = os.path.join(work, "metrics", f"snap_{snap_id:08d}")
        assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 1


def test_chain_reads_are_touched_pruned(spark, snapshots, tmp_path):
    """Guard the delta-sized-merge claim: every chain read issued while
    processing a snapshot passes a ``touched`` key set, and the rows it
    actually returns are bounded by that key set — NOT by the table size
    (plans/pipeline._resolve_chain semi-join). Regressing to a full-chain
    merge would break the per-snapshot-cost-is-delta-proportional design
    (VERDICT r4 task 7)."""
    src, full_t = snapshots
    work = str(tmp_path / "work_prune")
    inc = IncrementalRollup(spark, src, work)

    # catch up through snapshot 2; spy on snapshot 3's chain reads
    state = inc._read_ckpt()
    snaps = list_snapshots(src)
    for sid, path in snaps[:2]:
        inc._process_one(state, sid, path)
        state["version"] = sid
        inc._commit_ckpt(state)

    calls = []
    orig = IncrementalRollup._resolve_chain

    def spy(self, base, entries, keys, touched=None, tiers=None, **kw):
        calls.append({"base": base, "entries": entries, "keys": keys,
                      "touched": touched, "tiers": tiers})
        return orig(self, base, entries, keys, touched=touched, tiers=tiers, **kw)

    IncrementalRollup._resolve_chain = spy
    try:
        inc._process_one(state, *snaps[2])
    finally:
        IncrementalRollup._resolve_chain = orig

    def per_tier(df):
        """Row count per tier (one group for the conv-keyed state chain)."""
        if df is None:
            return {}
        if "tier" not in df.columns:
            return {None: df.count()}
        return {r["tier"]: r["count"] for r in df.groupBy("tier").count().collect()}

    assert calls, "no chain reads spied"
    window_checked = conv_checked = 0
    for c in calls:
        # EVERY chain read issued while processing a snapshot is pruned —
        # the tier merge by touched window, packed re-encode and
        # conv-state by touched conversation. A None here is a regression
        # to a full-table merge.
        assert c["touched"] is not None, f"un-pruned chain read: {c['base']}"
        full = per_tier(orig(inc, c["base"], c["entries"], c["keys"],
                             tiers=c["tiers"]))
        got = per_tier(orig(inc, c["base"], c["entries"], c["keys"],
                            touched=c["touched"], tiers=c["tiers"]))
        if c["touched"].columns == c["keys"]:
            # window-keyed prune: the merge read is bounded, per tier, by
            # the keys it touches, and snapshot 3 (turns >= 60) touches a
            # strict subset of the 1m windows so pruning must actually bite
            touched = c["touched"].distinct()
            n_touched = per_tier(touched) if "tier" in touched.columns else {
                None: touched.count()
            }
            for t, n_got in got.items():
                assert n_got <= n_touched.get(t, 0), (c["base"], t, n_got)
            if "1m" in full:
                assert got.get("1m", 0) < full["1m"], "semi-join did not prune"
                window_checked += 1
        else:
            # conv-keyed prune (packed path): bounded by the touched
            # conversations' windows — strictly fewer rows than the
            # chain holds (snapshot 3 touches only the >60-turn convs)
            for t, n_full in full.items():
                assert got.get(t, 0) < n_full, (c["base"], t, got, n_full)
            conv_checked += 1
    assert window_checked >= 1 and conv_checked >= 1


def _stage(src, staged, snap_id):
    """Make one snapshot of ``src`` visible in the ``staged`` input dir."""
    name = f"snap_{snap_id:08d}"
    shutil.copytree(os.path.join(src, name), os.path.join(staged, name))


def _assert_totals_equal_scan(inc, snap_id):
    """The metrics rows of ``snap_id`` carry the running totals the commit
    observed; right after that commit they must equal a direct scan of
    each tier."""
    rows = {
        r["tier"]: r
        for r in inc.metrics_table().collect()
        if r["snapshot_id"] == snap_id
    }
    assert set(rows) == {"1m", "1h", "1d"}
    for tier, r in rows.items():
        direct = inc.tier(tier).agg(
            F.count(F.lit(1)).alias("w"),
            F.coalesce(F.sum("n_points"), F.lit(0)).alias("p"),
        ).collect()[0]
        assert (r["n_windows"], r["n_points"]) == (direct["w"], direct["p"]), (
            snap_id, tier
        )
    return rows


def test_commit_jobs_do_not_grow_with_chain(spark, tmp_path, phase_jobs):
    """An in-order commit resolves every chain in one scan and keeps its
    running totals from observations, so its Spark jobs do not rise with
    the chain length (no compaction: the chain grows by one per commit)."""
    t = generate_transcripts(spark, "t_small", seed=42)
    src = str(tmp_path / "src")
    for i, (lo, hi) in enumerate([(0, 15), (15, 30), (30, 45), (45, 10_000)], 1):
        t.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi)).write.parquet(
            os.path.join(src, f"snap_{i:08d}")
        )
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    inc = IncrementalRollup(spark, staged, str(tmp_path / "w"), max_chain=None)

    def commit_one():
        assert inc.process_pending() == 1

    jobs = {}
    for snap_id in (1, 2, 3, 4):
        _stage(src, staged, snap_id)
        jobs[snap_id] = sum(phase_jobs(commit_one).values())
    chain = {
        r["snapshot_id"]: r["chain_len"] for r in inc.metrics_table().collect()
    }
    assert chain == {1: 1, 2: 2, 3: 3, 4: 4}
    assert {r["ooo_convs"] for r in inc.metrics_table().collect()} == {0}
    assert jobs[4] <= jobs[2], jobs


def test_commit_read_phases_start_no_job(spark, snapshots, tmp_path, phase_jobs):
    """A commit's ``read`` and ``state read`` phases only build plans: each
    parquet read takes its schema from one footer read with pyarrow, and
    the state read semi-joins on the snapshot's plain conv_id column, so
    neither starts a Spark job — with no state chain yet (snapshot 1) and
    with one (snapshot 2)."""
    src, _ = snapshots
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    inc = IncrementalRollup(spark, staged, str(tmp_path / "w"))
    for snap_id in (1, 2):
        _stage(src, staged, snap_id)
        per = phase_jobs(inc.process_pending)
        tag = f"commit d{snap_id:08d}"
        assert per[f"{tag} state"] > 0, per  # the commit's jobs are described
        assert per[f"{tag} read"] == per[f"{tag} state read"] == 0, per


def _shuffled_columns(df):
    """The columns of every shuffle exchange in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() == "ShuffleExchangeExec":
            cols = node.output()
            out.append({cols.apply(i).name() for i in range(cols.size())})
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return out


def test_commit_state_exchange_shuffles_no_text(spark, snapshots, tmp_path, monkeypatch):
    """A commit with carried turns persists a frame with ONE exchange: the
    window that keeps each conversation's latest carried row shares it
    with the lag window. The turns' token counts are computed below it,
    so it carries no ``text``."""
    shuffled = []
    cls = type(spark.range(1))
    persist = cls.persist

    def spy(self, *args, **kwargs):
        shuffled.append(_shuffled_columns(self))
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", spy)
    src, _ = snapshots
    inc = IncrementalRollup(spark, src, str(tmp_path / "w"))
    assert inc.process_pending() == 3
    assert len(shuffled) == 3
    for exchanges in shuffled[1:]:  # the commits with carried turns
        assert len(exchanges) == 1, exchanges
        (cols,) = exchanges
        assert {"conv_id", "token_count", "_carried"} <= cols, cols
        assert not cols & {"text", "role", "tool"}, cols


def test_observed_totals_existing_and_new_windows(spark, tmp_path):
    """Snapshot 2 holds only turns that fall in windows snapshot 1 already
    wrote (0 new windows in every tier); snapshot 3 holds only new
    conversations (no previous rows at all). The observed running totals
    equal a direct scan right after every commit."""
    t = generate_transcripts(spark, "t_small", seed=42).withColumn(
        "_m", F.floor(ts_us_col("ts") / 60_000_000)
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = t.withColumn("_last", F.lead("turn_idx").over(w).isNull()).withColumn(
        "_same_min", F.lag("_m").over(w) == F.col("_m")
    )
    convs = sorted(r["conv_id"] for r in t.select("conv_id").distinct().collect())
    late = convs[len(convs) // 2:]
    early = t.filter(~F.col("conv_id").isin(late))
    tail = F.col("_last") & F.coalesce(F.col("_same_min"), F.lit(False))
    parts = [
        early.filter(~tail),
        early.filter(tail),
        t.filter(F.col("conv_id").isin(late)),
    ]
    assert parts[1].count() > 0, "fixture has no tail turn sharing a 1m window"
    src = str(tmp_path / "src")
    for i, part in enumerate(parts, 1):
        part.drop("_m", "_last", "_same_min").write.parquet(
            os.path.join(src, f"snap_{i:08d}")
        )
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    inc = IncrementalRollup(spark, staged, str(tmp_path / "w"))
    rows = {}
    for v in (1, 2, 3):
        _stage(src, staged, v)
        assert inc.process_pending() == 1
        rows[v] = _assert_totals_equal_scan(inc, v)
    n_tail = parts[1].count()
    for tier in ("1m", "1h", "1d"):
        assert rows[2][tier]["n_windows"] == rows[1][tier]["n_windows"]
        assert rows[2][tier]["n_points"] == rows[1][tier]["n_points"] + n_tail
    full_m = derive_turn_metrics(t.drop("_m", "_last", "_same_min"))
    assert _tiers_as_dict(inc.tier("1m")) == _tiers_as_dict(
        rollup_from_turns(full_m, "1m")
    )


def test_observed_totals_snapshot_behind_retention_bound(spark, snapshots, tmp_path):
    """A snapshot wholly behind a committed retention bound: its delta and
    its MERGE are empty in every tier, yet the commit still observes its
    totals (0 change) and they equal a direct scan."""
    src, full_t = snapshots
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    inc = IncrementalRollup(spark, staged, str(tmp_path / "w"))
    _stage(src, staged, 1)
    assert inc.process_pending() == 1
    _assert_totals_equal_scan(inc, 1)
    hi_us = full_t.agg(F.max(ts_us_col("ts"))).collect()[0][0]
    day = 86_400_000_000
    # every tier's bound lies past the newest turn: all windows expire
    inc.apply_retention(hi_us + 30 * day, {"1m": day, "1h": day, "1d": day})
    _stage(src, staged, 2)
    assert inc.process_pending() == 1
    rows = _assert_totals_equal_scan(inc, 2)
    assert {(r["n_windows"], r["n_points"]) for r in rows.values()} == {(0, 0)}


def test_one_entry_per_family_per_commit(spark, snapshots, tmp_path):
    """A commit adds exactly one ``d{n}`` entry to each of the three
    chains, holding every tier as a ``tier={t}`` leaf; a tier read scans
    only its own leaves and keeps the batch path's columns, in order."""
    src, full_t = snapshots
    staged = str(tmp_path / "staged")
    work = str(tmp_path / "w")
    os.makedirs(staged)
    inc = IncrementalRollup(spark, staged, work, max_chain=None)
    families = ("tiers", "packed", "state")
    for snap_id in (1, 2):
        _stage(src, staged, snap_id)
        before = {
            f: set(os.listdir(os.path.join(work, f))) if snap_id > 1 else set()
            for f in families
        }
        assert inc.process_pending() == 1
        for f in families:
            added = set(os.listdir(os.path.join(work, f))) - before[f]
            assert added == {f"d{snap_id:08d}"}, (f, added)
    leaves = os.listdir(os.path.join(work, "tiers", "d00000002"))
    assert sorted(n for n in leaves if n.startswith("tier=")) == [
        "tier=1d", "tier=1h", "tier=1m",
    ]
    files = inc.tier("1h").inputFiles()
    assert files and all("/tier=1h/" in f for f in files), files
    full_m = derive_turn_metrics(full_t)
    assert inc.tier("1h").columns == rollup_from_turns(full_m, "1h").columns
    assert inc.packed_tier("1m").columns == pack_tier(full_m, "1m").columns


def test_empty_snapshot_commits_like_any_other(spark, snapshots, tmp_path):
    """A zero-row snapshot, first or later, still commits: the version
    advances, each family gains one entry, the tiers and the packed bytes
    stay at batch parity, and the running totals equal a scan — the one
    tier aggregate sees an empty delta and its observations still
    report."""
    src, full_t = snapshots
    parts = str(tmp_path / "parts")
    staged = str(tmp_path / "staged")
    work = str(tmp_path / "w")
    os.makedirs(staged)
    empty = full_t.limit(0)
    empty.write.parquet(os.path.join(parts, "snap_00000001"))
    shutil.copytree(
        os.path.join(src, "snap_00000001"), os.path.join(parts, "snap_00000002")
    )
    empty.write.parquet(os.path.join(parts, "snap_00000003"))
    inc = IncrementalRollup(spark, staged, work, max_chain=None)
    families = ("tiers", "packed", "state")
    for snap_id, upto_turn in ((1, 0), (2, 20), (3, 20)):
        _stage(parts, staged, snap_id)
        before = {
            f: set(os.listdir(os.path.join(work, f))) if snap_id > 1 else set()
            for f in families
        }
        assert inc.process_pending() == 1
        assert inc._read_ckpt()["version"] == snap_id
        for f in families:
            added = set(os.listdir(os.path.join(work, f))) - before[f]
            assert added == {f"d{snap_id:08d}"}, (snap_id, f, added)
        want_m = derive_turn_metrics(full_t.filter(F.col("turn_idx") < upto_turn))
        for tier in ("1m", "1h", "1d"):
            assert _tiers_as_dict(inc.tier(tier)) == _tiers_as_dict(
                rollup_from_turns(want_m, tier)
            ), (snap_id, tier)
        got = {
            (r["conv_id"], r["window_start_us"]): bytes(r["payload"])
            for r in inc.packed_tier("1m").collect()
        }
        want = {
            (r["conv_id"], r["window_start_us"]): bytes(r["payload"])
            for r in pack_tier(want_m, "1m").collect()
        }
        assert got == want, snap_id
        _assert_totals_equal_scan(inc, snap_id)


def test_wall_covers_the_pack_phase(spark, snapshots, tmp_path, monkeypatch):
    """A commit's ``wall_s`` spans its whole write path, the packed
    re-encode included: a pack phase slowed by 1.5 s shows in it."""
    from sac2mseed_spark.plans import pipeline as pl

    src, _ = snapshots
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    _stage(src, staged, 1)
    real_pack = pl.pack_points
    packed_at = []

    def slow_pack(*args, **kwargs):
        time.sleep(1.5)
        out = real_pack(*args, **kwargs)
        packed_at.append(time.time())
        return out

    monkeypatch.setattr(pl, "pack_points", slow_pack)
    inc = IncrementalRollup(spark, staged, str(tmp_path / "w"))
    started = time.time()
    assert inc.process_pending() == 1
    assert packed_at, "the commit packed nothing"
    (wall,) = {r["wall_s"] for r in inc.metrics_table().collect()}
    # the commit starts within 0.5 s of process_pending; a wall taken
    # before the pack phase would miss the whole 1.5 s sleep
    assert wall >= packed_at[-1] - started - 0.5, (wall, packed_at[-1] - started)
