"""Heal/backfill: out-of-order snapshots repaired to batch-recompute parity.

The mst_groupheal analogue (/root/reference/libmseed/traceutils.c:776-915;
out-of-order insertion tracelist.c:392-556): an out-of-order snapshot is
detected per conversation at process time, rolled in provisionally, and
``heal()`` re-derives ONLY the affected conversations from all raw
snapshots, writing corrective chain entries — after which aggregate AND
packed tiers are byte-identical to a full batch recompute, and incremental
mode resumes.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sac2mseed_spark.functions.metrics import derive_turn_metrics
from sac2mseed_spark.operators.pack import pack_tier
from sac2mseed_spark.operators.rollup import rollup_from_turns
from sac2mseed_spark.plans.pipeline import IncrementalRollup, _read_parquet
from sac2mseed_spark.sources.transcripts import generate_transcripts

# snapshot 3 arrives LATE: turns [20, 40) land after turns [40, 60)
OOO_BOUNDS = [(0, 20), (40, 60), (20, 40), (60, 10_000)]
# Spark jobs of the out-of-order commit of snapshot 3 plus the heal after
# it (measured: 23, the same on repeated runs). Schema inference, a
# persisted frame or an exchange that is not shared each adds a job.
OOO_COMMIT_HEAL_JOBS = 23


@pytest.fixture(scope="module")
def ooo_snapshots(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("healsnaps")
    t = generate_transcripts(spark, "t_small", seed=42)
    for i, (lo, hi) in enumerate(OOO_BOUNDS, start=1):
        part = t.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
        part.write.mode("overwrite").parquet(str(base / f"snap_{i:08d}"))
    return str(base), t


def _agg_as_dict(df):
    return {
        (r["conv_id"], r["window_start_us"], r["tier"]): (
            r["n_points"], r["n_latency"], r["sum_latency_us"],
            r["min_latency_us"], r["max_latency_us"], r["sum_tokens"],
            r["min_ts_us"], r["max_ts_us"],
        )
        for r in df.collect()
    }


def _packed_as_dict(df):
    return {
        (r["conv_id"], r["window_start_us"]): (
            r["n_points"], r["n_chunks"], r["first_ts_us"], r["last_ts_us"],
            r["x0"], r["xn"], bytes(r["payload"]), r["crc32"],
        )
        for r in df.collect()
    }


def _turns_upto(t, snap_idx):
    """Union of OOO_BOUNDS[:snap_idx] turn ranges (what's been ingested)."""
    cond = F.lit(False)
    for lo, hi in OOO_BOUNDS[:snap_idx]:
        cond = cond | ((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
    return t.filter(cond)


def test_ooo_detected_then_heal_restores_batch_parity(
    spark, ooo_snapshots, tmp_path
):
    src, full_t = ooo_snapshots
    inc = IncrementalRollup(spark, src, str(tmp_path / "w"), pack_tiers=("1m",))
    assert inc.process_pending() == 4

    # the late snapshot flagged its conversations for heal
    pend = os.path.join(str(tmp_path / "w"), "heal_pending", "d00000003")
    assert os.path.isdir(pend)
    flagged = {r["conv_id"] for r in spark.read.parquet(pend).collect()}
    # every conversation with >= 41 turns saw turns [20,40) arrive after
    # turns [40,60) — exactly those are affected
    n_per_conv = {
        r["conv_id"]: r["n"]
        for r in full_t.groupBy("conv_id").agg(F.count("*").alias("n")).collect()
    }
    assert flagged == {c for c, n in n_per_conv.items() if n > 40}

    healed = inc.heal()
    assert healed == len(flagged)

    full_m = derive_turn_metrics(full_t)
    for tier in ("1m", "1h", "1d"):
        got = _agg_as_dict(inc.tier(tier))
        want = _agg_as_dict(rollup_from_turns(full_m, tier))
        assert got == want, f"tier {tier} diverges from batch recompute"
    got_p = _packed_as_dict(inc.packed_tier("1m"))
    want_p = _packed_as_dict(pack_tier(full_m, "1m"))
    assert got_p == want_p, "packed tier not byte-identical after heal"

    # heal is a no-op the second time (watermark advanced)
    assert inc.heal() == 0


def test_incremental_resumes_after_heal(spark, ooo_snapshots, tmp_path):
    """Heal mid-stream (after the OOO snapshot, before the last one), then
    keep ingesting — the chain must stay at batch parity."""
    src, full_t = ooo_snapshots
    work = str(tmp_path / "w2")
    # stage only the first three snapshots, heal, then deliver the fourth
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for i in (1, 2, 3):
        shutil.copytree(
            os.path.join(src, f"snap_{i:08d}"),
            os.path.join(staged, f"snap_{i:08d}"),
        )
    inc = IncrementalRollup(spark, staged, work, pack_tiers=("1m",))
    assert inc.process_pending() == 3
    assert inc.heal() > 0
    m3 = derive_turn_metrics(_turns_upto(full_t, 3))
    assert _agg_as_dict(inc.tier("1h")) == _agg_as_dict(
        rollup_from_turns(m3, "1h")
    )
    assert _packed_as_dict(inc.packed_tier("1m")) == _packed_as_dict(
        pack_tier(m3, "1m")
    )

    shutil.copytree(
        os.path.join(src, "snap_00000004"),
        os.path.join(staged, "snap_00000004"),
    )
    assert inc.process_pending() == 1
    full_m = derive_turn_metrics(full_t)
    for tier in ("1m", "1h", "1d"):
        assert _agg_as_dict(inc.tier(tier)) == _agg_as_dict(
            rollup_from_turns(full_m, tier)
        ), f"tier {tier} diverges after post-heal ingest"
    assert _packed_as_dict(inc.packed_tier("1m")) == _packed_as_dict(
        pack_tier(full_m, "1m")
    )


def test_heal_crash_replay(spark, ooo_snapshots, tmp_path):
    """Crash mid-heal (some heal dirs written, watermark NOT advanced):
    the rerun rewrites everything deterministically."""
    src, full_t = ooo_snapshots
    work = str(tmp_path / "w3")
    inc = IncrementalRollup(spark, src, work, pack_tiers=("1m",))
    inc.process_pending()

    # simulate the crash: run a full heal, then roll back the watermark,
    # delete one family's heal dir, and restore the pending dirs heal
    # consumed — exactly the on-disk state of a process killed between
    # the aggregate writes and the commit (pending deletion happens only
    # AFTER the commit, so a pre-commit crash still has the flags)
    pend = os.path.join(work, "heal_pending")
    pend_copy = str(tmp_path / "pend_copy")
    shutil.copytree(pend, pend_copy)
    state_before = inc._read_ckpt()
    assert inc.heal() > 0
    state_after = inc._read_ckpt()
    assert state_after["healed_through"] == 4
    shutil.rmtree(os.path.join(work, "packed", "d00000004h"))
    shutil.rmtree(pend, ignore_errors=True)
    shutil.copytree(pend_copy, pend)
    state_after["healed_through"] = state_before["healed_through"]
    inc._commit_ckpt(state_after)

    assert inc.heal() > 0  # replays clean
    full_m = derive_turn_metrics(full_t)
    assert _agg_as_dict(inc.tier("1d")) == _agg_as_dict(
        rollup_from_turns(full_m, "1d")
    )
    assert _packed_as_dict(inc.packed_tier("1m")) == _packed_as_dict(
        pack_tier(full_m, "1m")
    )


def test_pending_only_for_ooo_snapshot_and_totals_match(spark, ooo_snapshots, tmp_path):
    """``heal_pending/d{n}`` is written only for an out-of-order snapshot
    and holds exactly the conversations whose first new turn is <= the
    carried last turn; the metrics rows record that count, and the
    observed running totals equal a direct scan at every version, before
    and after heal."""
    src, full_t = ooo_snapshots
    work = str(tmp_path / "w4")
    inc = IncrementalRollup(spark, src, work, pack_tiers=("1m",))
    assert inc.process_pending() == 4

    # expected flags, from the raw snapshots alone
    want = {}
    carried = {}  # conv_id -> last turn_idx of the snapshots so far
    for i in range(1, len(OOO_BOUNDS) + 1):
        span = {
            r["conv_id"]: (r["lo"], r["hi"])
            for r in spark.read.parquet(os.path.join(src, f"snap_{i:08d}"))
            .groupBy("conv_id")
            .agg(F.min("turn_idx").alias("lo"), F.max("turn_idx").alias("hi"))
            .collect()
        }
        flagged = {
            c for c, (lo, _) in span.items() if c in carried and lo <= carried[c]
        }
        if flagged:
            want[f"d{i:08d}"] = flagged
        for c, (_, hi) in span.items():
            carried[c] = max(carried.get(c, -1), hi)
    assert list(want) == ["d00000003"]

    pend = os.path.join(work, "heal_pending")
    assert sorted(os.listdir(pend)) == list(want)
    for name, convs in want.items():
        got = [
            r["conv_id"]
            for r in spark.read.parquet(os.path.join(pend, name)).collect()
        ]
        assert len(got) == len(set(got)) and set(got) == convs

    def check_totals():
        rows = inc.metrics_table().collect()
        for r in rows:
            direct = inc.tier(r["tier"], version=r["snapshot_id"]).agg(
                F.count(F.lit(1)).alias("w"), F.sum("n_points").alias("p")
            ).collect()[0]
            assert (r["n_windows"], r["n_points"]) == (direct["w"], direct["p"])
        return rows

    rows = check_totals()
    assert {(r["snapshot_id"], r["ooo_convs"]) for r in rows} == {
        (i, len(want.get(f"d{i:08d}", ()))) for i in range(1, 5)
    }
    assert inc.heal() == len(want["d00000003"])
    assert not os.listdir(pend)
    check_totals()


def test_tier_wholly_behind_bound_writes_no_leaf(spark, tmp_path):
    """A late snapshot whose 1m windows all lie behind the committed 1m
    bound writes no ``tier=1m`` leaf, yet reads, running totals, heal()
    and compact() still equal the batch path (1m and packed 1m read as
    empty frames with their usual columns)."""
    t = generate_transcripts(spark, "t_small", seed=42)
    src = str(tmp_path / "src")
    work = str(tmp_path / "w")
    os.makedirs(src)
    # snapshot 2 delivers every conversation's first 20 turns late
    t.filter(F.col("turn_idx") >= 20).write.parquet(os.path.join(src, "snap_00000001"))
    inc = IncrementalRollup(spark, src, work, pack_tiers=("1m",))
    assert inc.process_pending() == 1
    cols = {"1m": inc.tier("1m").columns, "packed": inc.packed_tier("1m").columns}
    hi_us = t.agg(F.max(F.unix_micros(F.col("ts").cast("timestamp")))).collect()[0][0]
    # the 1m bound lies past the newest turn; 1h and 1d keep everything
    inc.apply_retention(hi_us + 120_000_000, {"1m": 60_000_000, "1h": None, "1d": None})
    t.filter(F.col("turn_idx") < 20).write.parquet(os.path.join(src, "snap_00000002"))
    assert inc.process_pending() == 1

    entry = os.path.join(work, "tiers", "d00000002")
    assert sorted(n for n in os.listdir(entry) if n.startswith("tier=")) == [
        "tier=1d", "tier=1h",
    ]
    full_m = derive_turn_metrics(t)

    def check(after):
        for tier in ("1h", "1d"):
            assert _agg_as_dict(inc.tier(tier)) == _agg_as_dict(
                rollup_from_turns(full_m, tier)
            ), (after, tier)
        for df, key in ((inc.tier("1m"), "1m"), (inc.packed_tier("1m"), "packed")):
            assert df.columns == cols[key] and df.count() == 0, (after, key)
        # the running totals of snapshot 2 (after the eviction)
        for r in inc.metrics_table().filter("snapshot_id = 2").collect():
            direct = inc.tier(r["tier"]).agg(
                F.count(F.lit(1)).alias("w"),
                F.coalesce(F.sum("n_points"), F.lit(0)).alias("p"),
            ).collect()[0]
            assert (r["n_windows"], r["n_points"]) == (direct["w"], direct["p"]), (
                after, r["tier"]
            )

    # every conversation with more than 20 turns arrived out of order
    n_ooo = t.filter(F.col("turn_idx") >= 20).select("conv_id").distinct().count()
    assert inc.heal() == n_ooo
    check("heal")
    inc.compact()
    check("compact")


def test_commit_and_heal_share_one_tier_aggregate(
    spark, ooo_snapshots, tmp_path, monkeypatch
):
    """Every commit and every heal writes its tier entry with ONE
    ``merge_tiers`` — over the previous rows ∪ the turn rows of every
    tier — and never aggregates a tier of turns on its own."""
    from sac2mseed_spark.operators import rollup
    from sac2mseed_spark.plans import pipeline as pl

    calls = []

    def counted(name, fn):
        def wrapped(*args, **kwargs):
            calls.append(name)
            return fn(*args, **kwargs)

        return wrapped

    monkeypatch.setattr(pl, "merge_tiers", counted("merge_tiers", pl.merge_tiers))
    per_tier = counted("rollup_from_turns", rollup.rollup_from_turns)
    monkeypatch.setattr(rollup, "rollup_from_turns", per_tier)
    # and the pipeline's own binding, should it import the name
    monkeypatch.setattr(pl, "rollup_from_turns", per_tier, raising=False)

    src, full_t = ooo_snapshots
    inc = IncrementalRollup(spark, src, str(tmp_path / "w"), pack_tiers=("1m",))
    assert inc.process_pending() == len(OOO_BOUNDS)
    assert calls == ["merge_tiers"] * len(OOO_BOUNDS)
    calls.clear()
    assert inc.heal() > 0
    assert calls == ["merge_tiers"]


def _stage_upto(src, staged, n):
    """Make snapshots 1..n of ``src`` visible in ``staged``."""
    os.makedirs(staged, exist_ok=True)
    for i in range(1, n + 1):
        name = f"snap_{i:08d}"
        if not os.path.isdir(os.path.join(staged, name)):
            shutil.copytree(os.path.join(src, name), os.path.join(staged, name))


def test_ooo_commit_and_heal_job_budget(spark, ooo_snapshots, tmp_path, phase_jobs):
    """The out-of-order commit and the heal after it stay within the job
    budget, and the heal's ``read`` phase starts no job (its reads take
    their schema from a footer, and the flagged conversations semi-join
    the snapshots without a distinct)."""
    src, _ = ooo_snapshots
    staged = str(tmp_path / "staged")
    _stage_upto(src, staged, 2)
    inc = IncrementalRollup(spark, staged, str(tmp_path / "w"), pack_tiers=("1m",))
    assert inc.process_pending() == 2
    _stage_upto(src, staged, 3)

    def commit_and_heal():
        assert inc.process_pending() == 1
        assert inc.heal() > 0

    per = phase_jobs(commit_and_heal)
    assert per["heal d00000003 tiers"] > 0, per  # the heal's jobs are described
    assert per["heal d00000003 read"] == 0, per
    assert sum(per.values()) <= OOO_COMMIT_HEAL_JOBS, per


def _parquet_files_per_entry(work, family):
    base = os.path.join(work, family)
    return {
        f"{family}/{d}": sum(n.endswith(".parquet") for n in os.listdir(os.path.join(base, d)))
        for d in os.listdir(base)
    }


def test_state_and_heal_flag_entries_are_one_file(spark, ooo_snapshots, tmp_path):
    """Each ``state`` and ``heal_pending`` entry, of an in-order commit, an
    out-of-order commit and a heal, is one parquet file."""
    src, _ = ooo_snapshots
    work = str(tmp_path / "w")
    inc = IncrementalRollup(spark, src, work, pack_tiers=("1m",))
    assert inc.process_pending() == len(OOO_BOUNDS)
    pending = _parquet_files_per_entry(work, "heal_pending")  # heal() deletes them
    assert inc.heal() > 0
    files = {**pending, **_parquet_files_per_entry(work, "state")}
    assert "heal_pending/d00000003" in files and "state/d00000004h" in files, files
    assert set(files.values()) == {1}, files


def test_footer_schema_equals_spark_inference(spark, ooo_snapshots, tmp_path):
    """The schema every engine read takes from one footer equals the one
    Spark infers, for each kind of directory the engine reads: a snapshot,
    the state, tier and packed entries, and the heal flags."""
    src, _ = ooo_snapshots
    work = str(tmp_path / "w")
    inc = IncrementalRollup(spark, src, work, pack_tiers=("1m",))
    assert inc.process_pending() == len(OOO_BOUNDS)
    dirs = [
        os.path.join(src, "snap_00000001"),
        os.path.join(work, "state", "d00000002"),
        os.path.join(work, "heal_pending", "d00000003"),
    ] + [
        os.path.join(work, family, "d00000002", f"tier={t}")
        for family, tiers in (("tiers", ("1m", "1h", "1d")), ("packed", ("1m",)))
        for t in tiers
    ]
    for d in dirs:
        assert _read_parquet(spark, d).schema == spark.read.parquet(d).schema, d


def test_two_pack_tiers_pack_phase_job_budget(spark, ooo_snapshots, tmp_path, phase_jobs):
    """One resolve, one decode and one pack serve every pack tier: with
    two pack tiers the out-of-order commit's ``pack`` phase runs as many
    jobs as with one (measured: 5), and the heal's one."""
    src, _ = ooo_snapshots
    staged = str(tmp_path / "staged")
    _stage_upto(src, staged, 2)
    inc = IncrementalRollup(spark, staged, str(tmp_path / "w"), pack_tiers=("1m", "1h"))
    assert inc.process_pending() == 2
    _stage_upto(src, staged, 3)

    def commit_and_heal():
        assert inc.process_pending() == 1
        assert inc.heal() > 0

    per = phase_jobs(commit_and_heal)
    assert 0 < per["commit d00000003 pack"] <= 5, per
    assert per["heal d00000003 pack"] <= 1, per


def test_commit_and_heal_persist_only_the_columns_the_writers_read(
    spark, ooo_snapshots, tmp_path, monkeypatch
):
    """The one frame each commit and each heal persists holds SLIM_COLS
    (plus a commit's carried last turn), never the raw text, role or
    tool columns."""
    from sac2mseed_spark.functions.metrics import SLIM_COLS

    persisted = []
    cls = type(spark.range(1))
    persist = cls.persist

    def spy(self, *args, **kwargs):
        persisted.append(self.columns)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", spy)
    src, _ = ooo_snapshots
    inc = IncrementalRollup(spark, src, str(tmp_path / "w"), pack_tiers=("1m",))
    assert inc.process_pending() == len(OOO_BOUNDS)
    assert inc.heal() > 0
    carried = SLIM_COLS + ["last_turn_idx", "last_ts_us"]
    # the first commit has no carried state yet; the heal carries none
    want = [SLIM_COLS] + [carried] * (len(OOO_BOUNDS) - 1) + [SLIM_COLS]
    assert persisted == want
