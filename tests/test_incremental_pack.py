"""Incremental packed-tier maintenance: byte identity with full recompute.

The reference's pack loop is incremental record emission with carried
state (/root/reference/libmseed/pack.c:70-395, StreamState libmseed.h:
458-465); here, windows are self-delimiting, so each snapshot re-encodes
ONLY the windows its delta touches and the MERGE-on-read chain must stay
byte-identical to a full batch pack_tier over everything seen so far —
including across a crash/replay.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sac2mseed_spark.functions.metrics import derive_turn_metrics
from sac2mseed_spark.operators.pack import pack_tier
from sac2mseed_spark.plans.pipeline import IncrementalRollup, list_snapshots
from sac2mseed_spark.sources.transcripts import generate_transcripts

BOUNDS = [(0, 20), (20, 60), (60, 10_000)]


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("packsnaps")
    t = generate_transcripts(spark, "t_small", seed=42)
    for i, (lo, hi) in enumerate(BOUNDS, start=1):
        part = t.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
        part.write.mode("overwrite").parquet(str(base / f"snap_{i:08d}"))
    return str(base), t


def _packed_as_dict(df):
    return {
        (r["conv_id"], r["window_start_us"]): (
            r["n_points"], r["n_chunks"], r["first_ts_us"], r["last_ts_us"],
            r["x0"], r["xn"], bytes(r["payload"]), r["crc32"],
        )
        for r in df.collect()
    }


def _full_pack(spark, t, upto_turn, tier):
    m = derive_turn_metrics(t.filter(F.col("turn_idx") < upto_turn))
    return pack_tier(m, tier)


def test_incremental_pack_bytes_equal_full_recompute_each_version(
    spark, snapshots, tmp_path
):
    src, full_t = snapshots
    inc = IncrementalRollup(spark, src, str(tmp_path / "w"), pack_tiers=("1m",))
    state = inc._read_ckpt()
    for snap_id, snap_path in list_snapshots(src):
        inc._process_one(state, snap_id, snap_path)
        state["version"] = snap_id
        inc._commit_ckpt(state)
        got = _packed_as_dict(inc.packed_tier("1m"))
        want = _packed_as_dict(
            _full_pack(spark, full_t, BOUNDS[snap_id - 1][1], "1m")
        )
        assert got == want, f"packed tier diverges after snapshot {snap_id}"


def test_incremental_pack_survives_crash_replay(spark, snapshots, tmp_path):
    src, full_t = snapshots
    inc = IncrementalRollup(spark, src, str(tmp_path / "w2"), pack_tiers=("1m",))
    snaps = list_snapshots(src)
    state = inc._read_ckpt()
    inc._process_one(state, *snaps[0])
    state["version"] = snaps[0][0]
    inc._commit_ckpt(state)
    # crash AFTER the packed delta write but BEFORE the checkpoint commit:
    # the orphan d00000002 exists; the rerun must remove and rewrite it
    inc._process_one(state, *snaps[1])
    orphan = os.path.join(str(tmp_path / "w2"), "packed", "d00000002", "tier=1m")
    assert os.path.isdir(orphan)
    assert inc.process_pending() == 2
    got = _packed_as_dict(inc.packed_tier("1m"))
    want = _packed_as_dict(pack_tier(derive_turn_metrics(full_t), "1m"))
    assert got == want


def test_delta_dirs_hold_only_touched_windows(spark, snapshots, tmp_path):
    """Write volume per snapshot is proportional to the delta: each d{n}
    dir contains exactly the windows snapshot n touches, and only convs
    with points in the snapshot appear."""
    src, full_t = snapshots
    inc = IncrementalRollup(spark, src, str(tmp_path / "w3"), pack_tiers=("1m",))
    inc.process_pending()
    from sac2mseed_spark.operators.rollup import window_start_col

    for snap_id, (lo, hi) in enumerate(BOUNDS, start=1):
        delta_rows = spark.read.parquet(
            os.path.join(str(tmp_path / "w3"), "packed", f"d{snap_id:08d}", "tier=1m")
        )
        got_keys = {
            (r["conv_id"], r["window_start_us"])
            for r in delta_rows.select("conv_id", "window_start_us").collect()
        }
        m = derive_turn_metrics(full_t).filter(
            (F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi)
        )
        want_keys = {
            (r["conv_id"], r["ws"])
            for r in m.select(
                "conv_id", window_start_col(F.col("ts_us"), "1m").alias("ws")
            ).distinct().collect()
        }
        assert got_keys == want_keys, f"snapshot {snap_id} delta not minimal"


def test_two_pack_tiers_one_row_per_window_each_version(spark, snapshots, tmp_path):
    """With two pack tiers, every commit's packed entry holds one row per
    touched (tier, conv_id, window_start_us) and both packed tiers stay
    byte-identical to a batch pack_tier after every snapshot. A window's
    old and new points must meet in one partition before the pack kernel,
    however the optimiser plans the union of the two."""
    src, full_t = snapshots
    work = str(tmp_path / "w4")
    inc = IncrementalRollup(spark, src, work, pack_tiers=("1m", "1h"))
    state = inc._read_ckpt()
    for snap_id, snap_path in list_snapshots(src):
        inc._process_one(state, snap_id, snap_path)
        state["version"] = snap_id
        inc._commit_ckpt(state)
        entry = os.path.join(work, "packed", f"d{snap_id:08d}")
        for tier in ("1m", "1h"):
            keys = spark.read.parquet(os.path.join(entry, f"tier={tier}")).select(
                "conv_id", "window_start_us"
            )
            assert keys.count() == keys.distinct().count(), (snap_id, tier)
            got = _packed_as_dict(inc.packed_tier(tier))
            want = _packed_as_dict(
                _full_pack(spark, full_t, BOUNDS[snap_id - 1][1], tier)
            )
            assert got == want, (snap_id, tier)


# snapshot 3 arrives late and is healed (``d3h``); snapshots 4 and 5 then
# re-encode windows whose blobs sit in d3, d3h and d4
RANKED_BOUNDS = [(0, 20), (40, 60), (20, 40), (60, 70), (70, 80), (80, 10_000)]
TWO_TIERS = ("1m", "1h")


@pytest.fixture(scope="module")
def ranked_snapshots(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("rankedsnaps")
    t = generate_transcripts(spark, "t_small", seed=42)
    for i, (lo, hi) in enumerate(RANKED_BOUNDS, start=1):
        part = t.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
        part.write.mode("overwrite").parquet(str(base / f"snap_{i:08d}"))
    return str(base), t


def _ingested(t, n):
    """The turns of RANKED_BOUNDS[:n]."""
    cond = F.lit(False)
    for lo, hi in RANKED_BOUNDS[:n]:
        cond = cond | ((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
    return t.filter(cond)


def _commit(inc, src, staged, n):
    """Make snapshot n visible and commit it; heal after the late one."""
    name = f"snap_{n:08d}"
    shutil.copytree(os.path.join(src, name), os.path.join(staged, name))
    assert inc.process_pending() == 1
    if n == 3:
        assert inc.heal() > 0


def _assert_packs_equal_batch(spark, inc, t, n):
    m = derive_turn_metrics(_ingested(t, n))
    for tier in TWO_TIERS:
        got = _packed_as_dict(inc.packed_tier(tier))
        assert got == _packed_as_dict(pack_tier(m, tier)), (n, tier)


def test_repack_groups_span_arrow_batches(spark, ranked_snapshots, tmp_path):
    """Under 3-row Arrow batches every (tier, conv_id) group of the repack
    kernel — the conversation's previous blobs and its new points —
    spans many batches. In-order commits, an out-of-order commit and the
    heal after it keep both packed tiers byte-identical to a batch
    ``pack_tier`` of the turns ingested (the late snapshot's commit is
    provisional until the heal)."""
    src, t = ranked_snapshots
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    inc = IncrementalRollup(spark, staged, str(tmp_path / "w"), pack_tiers=TWO_TIERS)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        for n in range(1, len(RANKED_BOUNDS) + 1):
            _commit(inc, src, staged, n)
            _assert_packs_equal_batch(spark, inc, t, n)
    finally:
        spark.conf.set(key, before)


def test_repack_takes_each_windows_highest_rank_blob(spark, ranked_snapshots, tmp_path):
    """Windows whose blobs sit in ``d3`` (commit 3), ``d4`` (the heal
    after it) and ``d5`` (commit 4) (and ``d2``), all different, are
    re-encoded by commit 5 from the ``d5`` blob, the highest-ranked one:
    the packs equal a batch pack."""
    src, t = ranked_snapshots
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    work = str(tmp_path / "w")
    inc = IncrementalRollup(spark, staged, work, pack_tiers=TWO_TIERS, max_chain=None)
    for n in range(1, 5):
        _commit(inc, src, staged, n)

    def blobs(entry):
        df = spark.read.parquet(os.path.join(work, "packed", entry))
        return {
            (r["tier"], r["conv_id"], r["window_start_us"]): bytes(r["payload"])
            for r in df.collect()
        }

    d3, d4, d5 = blobs("d00000003"), blobs("d00000004"), blobs("d00000005")
    layered = {k for k in d3.keys() & d4.keys() & d5.keys() if len({d3[k], d4[k], d5[k]}) == 3}
    _commit(inc, src, staged, 5)
    # commit 5 re-encoded such windows (1h ones: a 1m window is too short
    # to hold turns of snapshots 3 and 4)
    assert layered & blobs("d00000006").keys()
    _assert_packs_equal_batch(spark, inc, t, 5)


def _corrupt_xn(path, corrupt):
    """Add 1 to the ``xn`` of every blob of the entry leaf dir ``path``
    whose (conv_id, window_start_us) ``corrupt`` accepts."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for name in os.listdir(path):
        if not name.endswith(".parquet"):
            continue
        f = os.path.join(path, name)
        tbl = pq.read_table(f)
        rows = zip(tbl["conv_id"].to_pylist(), tbl["window_start_us"].to_pylist())
        bad = pa.array([corrupt(k) for k in rows])
        xn = pc.if_else(bad, pc.add(tbl["xn"], 1), tbl["xn"])
        pq.write_table(tbl.set_column(tbl.schema.get_field_index("xn"), "xn", xn), f)
        os.remove(os.path.join(path, f".{name}.crc"))  # Hadoop's stale checksum


def test_repack_decodes_only_the_touched_windows(spark, snapshots, tmp_path):
    """A commit decodes (and Xn-checks) only the blobs of the windows its
    delta touches: a corrupt Xn on an untouched window of a touched
    conversation does not fail the commit, a corrupt Xn on a touched
    window does."""
    from sac2mseed_spark.operators.rollup import window_start_col

    src, full_t = snapshots
    lo, hi = BOUNDS[1]
    touched = {
        (r["conv_id"], r["ws"])
        for r in derive_turn_metrics(full_t)
        .filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
        .select("conv_id", window_start_col(F.col("ts_us"), "1m").alias("ws"))
        .collect()
    }
    convs = {c for c, _ in touched}
    untouched = lambda k: k[0] in convs and k not in touched  # noqa: E731
    for corrupt, fails in ((untouched, False), (touched.__contains__, True)):
        staged = str(tmp_path / f"staged{fails}")
        os.makedirs(staged)
        shutil.copytree(os.path.join(src, "snap_00000001"), os.path.join(staged, "snap_00000001"))
        work = str(tmp_path / f"w{fails}")
        inc = IncrementalRollup(spark, staged, work, pack_tiers=("1m",))
        assert inc.process_pending() == 1
        leaf = os.path.join(work, "packed", "d00000001", "tier=1m")
        assert any(map(corrupt, _packed_as_dict(spark.read.parquet(leaf))))
        _corrupt_xn(leaf, corrupt)
        shutil.copytree(os.path.join(src, "snap_00000002"), os.path.join(staged, "snap_00000002"))
        if fails:
            with pytest.raises(Exception, match="Xn mismatch"):
                inc.process_pending()
        else:
            assert inc.process_pending() == 1
