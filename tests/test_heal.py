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
from sac2mseed_spark.plans.pipeline import IncrementalRollup
from sac2mseed_spark.sources.tables import read_parquet
from sac2mseed_spark.sources.transcripts import (
    generate_transcripts,
    read_transcripts_table,
    write_transcripts_table,
)

# snapshot 3 arrives LATE: turns [20, 40) land after turns [40, 60)
OOO_BOUNDS = [(0, 20), (40, 60), (20, 40), (60, 10_000)]
# Spark jobs of the out-of-order commit of snapshot 3 plus the heal after
# it (measured: 15, the same on repeated runs). Schema inference, a
# persisted frame, an exchange that is not shared or a Spark write of rows
# the driver holds each adds a job.
OOO_COMMIT_HEAL_JOBS = 15


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

    # heal is a no-op the second time (its flags are consumed)
    assert inc.heal() == 0


def test_second_heal_at_one_version_keeps_the_first(spark, ooo_snapshots, tmp_path):
    """A flag routed by the streaming path at the committed version after
    a heal (``route_ooo_to_pending``) gets a heal of its own at that
    version. That heal writes only its one conversation; the first
    heal's repairs stay: every tier and the packed 1m tier still equal
    the batch recompute."""
    from sac2mseed_spark.streaming.rollup_stream import route_ooo_to_pending

    src, full_t = ooo_snapshots
    work = str(tmp_path / "w")
    inc = IncrementalRollup(spark, src, work, pack_tiers=("1m",))
    assert inc.process_pending() == len(OOO_BOUNDS)
    assert inc.heal() > 0
    # a conversation the first heal did not touch (at most 40 turns)
    short = (
        full_t.groupBy("conv_id").count().filter("count <= 40")
        .agg(F.min("conv_id")).collect()[0][0]
    )
    flags = spark.createDataFrame([(short, True)], "conv_id string, ooo boolean")
    assert route_ooo_to_pending(flags, work) == 1
    assert inc.heal() == 1

    full_m = derive_turn_metrics(full_t)
    for tier in ("1m", "1h", "1d"):
        assert _agg_as_dict(inc.tier(tier)) == _agg_as_dict(
            rollup_from_turns(full_m, tier)
        ), tier
    assert _packed_as_dict(inc.packed_tier("1m")) == _packed_as_dict(
        pack_tier(full_m, "1m")
    )


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
    """Crash mid-heal (some dirs of the heal's entry written, entry
    counter NOT advanced): the rerun removes them and rewrites everything
    deterministically."""
    src, full_t = ooo_snapshots
    work = str(tmp_path / "w3")
    inc = IncrementalRollup(spark, src, work, pack_tiers=("1m",))
    inc.process_pending()

    # simulate the crash: run a full heal, then roll back the counter,
    # delete one family's dir of the heal's entry, and restore the pending
    # dirs heal consumed — exactly the on-disk state of a process killed between
    # the aggregate writes and the commit (pending deletion happens only
    # AFTER the commit, so a pre-commit crash still has the flags)
    pend = os.path.join(work, "heal_pending")
    pend_copy = str(tmp_path / "pend_copy")
    shutil.copytree(pend, pend_copy)
    state_before = inc._read_ckpt()
    assert inc.heal() > 0
    state_after = inc._read_ckpt()
    assert state_after["entries"] == state_before["entries"] + 1 == 5
    shutil.rmtree(os.path.join(work, "packed", "d00000005"))
    shutil.rmtree(pend, ignore_errors=True)
    shutil.copytree(pend_copy, pend)
    state_after["entries"] = state_before["entries"]
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
    observed running totals equal a direct scan right after every
    commit, and after the heal."""
    src, full_t = ooo_snapshots
    work = str(tmp_path / "w4")
    staged = str(tmp_path / "staged")
    inc = IncrementalRollup(spark, staged, work, pack_tiers=("1m",))
    for i in range(1, len(OOO_BOUNDS) + 1):
        _stage_upto(src, staged, i)
        assert inc.process_pending() == 1
        _assert_totals_equal_scan(inc, i)

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

    rows = inc.metrics_table().collect()
    assert {(r["snapshot_id"], r["ooo_convs"]) for r in rows} == {
        (i, len(want.get(f"d{i:08d}", ()))) for i in range(1, 5)
    }
    assert inc.heal() == len(want["d00000003"])
    assert not os.listdir(pend)
    _assert_totals_equal_scan(inc, len(OOO_BOUNDS))


def _assert_totals_equal_scan(inc, snap_id):
    """The metrics rows of ``snap_id`` carry the running totals its commit
    observed; they must equal a direct scan of each tier as committed
    now (right after that commit, or after a heal, which changes no
    window's count or points)."""
    rows = [r for r in inc.metrics_table().collect() if r["snapshot_id"] == snap_id]
    assert {r["tier"] for r in rows} == {"1m", "1h", "1d"}
    for r in rows:
        direct = inc.tier(r["tier"]).agg(
            F.count(F.lit(1)).alias("w"), F.sum("n_points").alias("p")
        ).collect()[0]
        assert (r["n_windows"], r["n_points"]) == (direct["w"], direct["p"]), r


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


def test_fused_merge_takes_the_heal_entry_by_rank(spark, ooo_snapshots, tmp_path):
    """The commit after a heal merges windows whose previous rows sit in
    the out-of-order commit's entry ``d3``, in the heal's entry ``d4``
    and in older entries, with different values — the heal row's
    statistics are neither all larger nor all smaller. The MERGE takes
    the heal row by its rank, not by value: the tiers equal a batch
    recompute, and the observed running totals equal a scan right after
    every commit."""
    src, full_t = ooo_snapshots
    staged = str(tmp_path / "staged")
    work = str(tmp_path / "w")
    inc = IncrementalRollup(spark, staged, work, pack_tiers=("1m",), max_chain=None)
    for i in (1, 2, 3):
        _stage_upto(src, staged, i)
        assert inc.process_pending() == 1
        _assert_totals_equal_scan(inc, i)
    assert inc.heal() > 0

    def entry(name):
        return _agg_as_dict(spark.read.parquet(os.path.join(work, "tiers", name)))

    plain, healed = entry("d00000003"), entry("d00000004")
    differ = {k for k in plain.keys() & healed.keys() if plain[k] != healed[k]}
    pairs = [
        (p, h)
        for k in differ
        for p, h in zip(plain[k], healed[k])
        if p is not None and h is not None
    ]
    assert any(h < p for p, h in pairs) and any(h > p for p, h in pairs)
    _stage_upto(src, staged, 4)
    assert inc.process_pending() == 1
    # the commit re-merged windows of both entries
    assert differ & entry("d00000005").keys()
    full_m = derive_turn_metrics(full_t)
    for tier in ("1m", "1h", "1d"):
        assert _agg_as_dict(inc.tier(tier)) == _agg_as_dict(
            rollup_from_turns(full_m, tier)
        ), tier
    _assert_totals_equal_scan(inc, 4)


def _stage_upto(src, staged, n):
    """Make snapshots 1..n of ``src`` visible in ``staged``."""
    os.makedirs(staged, exist_ok=True)
    for i in range(1, n + 1):
        name = f"snap_{i:08d}"
        if not os.path.isdir(os.path.join(staged, name)):
            shutil.copytree(os.path.join(src, name), os.path.join(staged, name))


def test_ooo_commit_and_heal_job_budget(spark, ooo_snapshots, tmp_path, phase_jobs):
    """The out-of-order commit and the heal after it stay within the job
    budget, and every job is described. The heal's ``read`` phase starts
    no job (its reads take their schema from a footer, and the driver
    reads the flagged conversations itself); neither do the commit's heal
    flags and ``metrics/`` rows, which the driver writes. Each commit
    resolve shares its consumer's exchange: the tier MERGE's aggregate
    (``tiers`` ≤ 3 jobs), the lag window (``state`` ≤ 4) and the pack
    (``pack`` ≤ 3); the heal scans the snapshots with the flagged
    conv_ids as a filter, no join (``state`` ≤ 3)."""
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
    assert per["commit d00000003 heal pending"] == per["commit d00000003 metrics"] == 0, per
    assert per[None] == 0, per
    assert 0 < per["commit d00000003 tiers"] <= 3, per
    assert per["commit d00000003 state"] <= 4, per
    assert per["commit d00000003 pack"] <= 3, per
    assert per["heal d00000003 state"] <= 3, per
    assert sum(per.values()) <= OOO_COMMIT_HEAL_JOBS, per


def _leaf_files(work, family):
    """{leaf dir of ``family`` under ``work``: sizes of its parquet
    files}. A leaf holds files: ``state/d{n}``, ``tiers/d{n}/tier={t}``."""
    out = {}
    for d, _, names in os.walk(os.path.join(work, family)):
        sizes = sorted(
            os.path.getsize(os.path.join(d, n)) for n in names if n.endswith(".parquet")
        )
        if sizes:
            out[os.path.relpath(d, work)] = sizes
    return out


def test_state_and_heal_flag_entries_are_one_file(spark, ooo_snapshots, tmp_path):
    """Each ``state/d{n}``, ``tiers/d{n}/tier={t}`` and ``heal_pending``
    entry, of an in-order commit, an out-of-order commit, a heal and a
    compaction, is one parquet file: the files follow the bytes written
    (sinks/tier_tables.table_writer), and these are far below one row
    group."""
    src, _ = ooo_snapshots
    work = str(tmp_path / "w")
    inc = IncrementalRollup(spark, src, work, pack_tiers=("1m",))
    assert inc.process_pending() == len(OOO_BOUNDS)
    files = _leaf_files(work, "heal_pending")  # heal() deletes them
    assert inc.heal() > 0
    files.update(_leaf_files(work, "state"))
    files.update(_leaf_files(work, "tiers"))
    inc.compact()  # deletes the entries below its own
    files.update(_leaf_files(work, "state"))
    files.update(_leaf_files(work, "tiers"))
    assert "heal_pending/d00000003" in files and "state/d00000005" in files, files
    for n in range(1, len(OOO_BOUNDS) + 3):
        for t in ("1m", "1h", "1d"):
            assert f"tiers/d{n:08d}/tier={t}" in files, (n, t, files)
    assert {len(sizes) for sizes in files.values()} == {1}, files


def test_tier_and_state_files_do_not_follow_the_session(spark, ooo_snapshots, tmp_path):
    """The same commits and heal under 4 and under 16 shuffle partitions
    write the same tier and state files, the same count and bytes in
    every leaf: the size rule, not the caller's session, sets them."""
    src, _ = ooo_snapshots
    was = spark.conf.get("spark.sql.shuffle.partitions")
    got = {}
    try:
        for parts in (4, 16):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            work = str(tmp_path / f"w{parts}")
            inc = IncrementalRollup(spark, src, work, pack_tiers=("1m",))
            assert inc.process_pending() == len(OOO_BOUNDS)
            assert inc.heal() > 0
            got[parts] = {**_leaf_files(work, "state"), **_leaf_files(work, "tiers")}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", was)
    assert got[4] == got[16]


def test_every_writer_job_carries_group_and_phase(spark, ooo_snapshots, tmp_path, phase_jobs):
    """The tier and pack writes of a commit and of a heal, and the three
    family writes of a compaction, run in threads. Every job they start
    still carries the caller's job group (``phase_jobs`` checks the jobs
    submitted while it ran against the group's) and its own phase's
    description."""
    src, _ = ooo_snapshots
    staged = str(tmp_path / "staged")
    _stage_upto(src, staged, 2)
    inc = IncrementalRollup(spark, staged, str(tmp_path / "w"), pack_tiers=("1m",))
    assert inc.process_pending() == 2
    _stage_upto(src, staged, 3)

    def commit_heal_compact():
        assert inc.process_pending() == 1
        assert inc.heal() > 0
        inc.compact()

    per = phase_jobs(commit_heal_compact)
    assert set(per) == {
        *(f"{op} d00000003 {p}" for op in ("commit", "heal") for p in ("state", "tiers", "pack")),
        *(f"compact {f}" for f in ("tiers", "packed", "state")),
    }, per


def test_footer_schema_equals_spark_inference(spark, ooo_snapshots, tmp_path, phase_jobs):
    """The schema every engine read takes from one footer equals the one
    Spark infers, for each kind of directory the engine reads: a snapshot,
    a ``slice=``-partitioned transcripts table (its partition column from
    the path), the state, tier and packed entries, and the heal flags.
    The transcripts table is read without a job."""
    src, _ = ooo_snapshots
    work = str(tmp_path / "w")
    table = str(tmp_path / "table")
    write_transcripts_table(spark, table, "t_small", seed=42)
    assert phase_jobs(lambda: read_transcripts_table(spark, table)) == {}
    assert "slice" in read_parquet(spark, table).columns
    inc = IncrementalRollup(spark, src, work, pack_tiers=("1m",))
    assert inc.process_pending() == len(OOO_BOUNDS)
    dirs = [
        table,
        os.path.join(src, "snap_00000001"),
        os.path.join(work, "state", "d00000002"),
        os.path.join(work, "heal_pending", "d00000003"),
    ] + [
        os.path.join(work, family, "d00000002", f"tier={t}")
        for family, tiers in (("tiers", ("1m", "1h", "1d")), ("packed", ("1m",)))
        for t in tiers
    ]
    for d in dirs:
        assert read_parquet(spark, d).schema == spark.read.parquet(d).schema, d


def test_two_pack_tiers_pack_phase_job_budget(spark, ooo_snapshots, tmp_path, phase_jobs):
    """One resolve and one pack serve every pack tier: with two pack
    tiers the out-of-order commit's ``pack`` phase runs as many jobs as
    with one (measured: 3), and the heal's one."""
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
    assert 0 < per["commit d00000003 pack"] <= 3, per
    assert per["heal d00000003 pack"] <= 1, per


def test_commit_and_heal_persist_only_the_columns_the_writers_read(
    spark, ooo_snapshots, tmp_path, monkeypatch
):
    """The one frame each commit and each heal persists holds SLIM_COLS
    and the ``_carried`` flag of a commit's carried last turns, never the
    raw text, role or tool columns."""
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
    # every commit and the heal persist the same columns
    assert persisted == [SLIM_COLS + ["_carried"]] * (len(OOO_BOUNDS) + 1)
