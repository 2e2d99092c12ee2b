"""Incremental packed-tier maintenance: byte identity with full recompute.

The reference's pack loop is incremental record emission with carried
state (/root/reference/libmseed/pack.c:70-395, StreamState libmseed.h:
458-465); here, windows are self-delimiting, so each snapshot re-encodes
ONLY the windows its delta touches and the MERGE-on-read chain must stay
byte-identical to a full batch pack_tier over everything seen so far —
including across a crash/replay.
"""

import os

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
        got = _packed_as_dict(inc.packed_tier("1m", snap_id))
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
    # the orphan d00000002 exists; the rerun must overwrite it
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
            got = _packed_as_dict(inc.packed_tier(tier, snap_id))
            want = _packed_as_dict(
                _full_pack(spark, full_t, BOUNDS[snap_id - 1][1], tier)
            )
            assert got == want, (snap_id, tier)
