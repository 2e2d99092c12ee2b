"""Spark-integration tests for the pack/unpack path (operators/pack.py).

The pure-python codec tests (test_codec.py) pin the byte format; these pin
the Spark plumbing: grouping, chunk split/assemble determinism at different
parallelism, and the unpack round-trip — the engine-level analogue of the
reference's read-back golden tests (/root/reference/libmseed/test/README:1-14).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sac2mseed_spark.codec import CHUNK_POINTS, oracle
from sac2mseed_spark.functions.metrics import derive_turn_metrics
from sac2mseed_spark.operators.pack import (
    STREAMS,
    pack_tier,
    unpack_tier,
    verify_continuity,
)
from sac2mseed_spark.operators.rollup import window_start_col
from sac2mseed_spark.sources.transcripts import generate_transcripts


def _bits(v):
    """float64 bit pattern as the oracle takes it; NULL packs as NaN."""
    return oracle.float_to_bits(float("nan") if v is None else v)


@pytest.fixture(scope="module")
def packed_1m(spark):
    t = generate_transcripts(spark, "t_small", seed=42)
    m = derive_turn_metrics(t)
    return m, pack_tier(m, "1m").cache()


def test_point_conservation(spark, packed_1m):
    m, packed = packed_1m
    n_turns = m.count()
    assert packed.agg(F.sum("n_points")).collect()[0][0] == n_turns


def test_unpack_roundtrip_values(spark, packed_1m):
    m, packed = packed_1m
    up = unpack_tier(packed)
    # every (conv_id, ts_us) decodes back with identical latency/token values
    joined = m.select(
        "conv_id",
        "ts_us",
        F.col("latency_us").cast("double").alias("lat_in"),
        F.col("token_count").cast("double").alias("tok_in"),
    ).join(up, ["conv_id", "ts_us"], "full_outer")
    n = m.count()
    assert joined.count() == n
    bad = joined.filter(
        ~(
            (F.col("lat_in") == F.col("latency_us_f"))
            | (F.isnan("lat_in") & F.isnan("latency_us_f"))
            | (F.col("lat_in").isNull() & F.isnan("latency_us_f"))
        )
        | (F.col("tok_in") != F.col("token_count_f"))
    )
    assert bad.count() == 0


# Payload bytes of the t_small seed-42 fixture's 2,263 points, as measured
# for format v3 (8.617 B/point at 1m, 4.012 at 1h; v2 gave 22,730 and
# 13,013 bytes, v1 23.92 and 11.30 B/point). A format change that grows
# them more than 1 % fails here, not only in the benchmark.
PAYLOAD_BYTES_V3 = {"1m": 19_500, "1h": 9_080}


def test_packed_size_budget(spark, packed_1m):
    m, packed = packed_1m
    for tier, df in (("1m", packed), ("1h", pack_tier(m, "1h"))):
        b, p = df.agg(F.sum(F.length("payload")), F.sum("n_points")).collect()[0]
        assert p == 2_263
        assert b <= PAYLOAD_BYTES_V3[tier] * 1.01, (tier, b)


def test_parallelism_invariance(spark):
    """Identical payload bytes at 1 vs 8 upstream partitions (chunk
    boundaries depend only on turn_idx, codec.CHUNK_POINTS)."""
    t = generate_transcripts(spark, "t_small", seed=42)
    m = derive_turn_metrics(t)
    a = pack_tier(m.coalesce(1), "1m")
    b = pack_tier(m.repartition(8, "conv_id"), "1m")
    rows_a = {
        (r["conv_id"], r["window_start_us"]): (bytes(r["payload"]), r["crc32"])
        for r in a.collect()
    }
    rows_b = {
        (r["conv_id"], r["window_start_us"]): (bytes(r["payload"]), r["crc32"])
        for r in b.collect()
    }
    assert rows_a == rows_b


def test_out_of_order_input_same_bytes(spark):
    """Out-of-order delivery packs to identical bytes (mst_groupheal
    property, traceutils.c:776-915)."""
    spec = "t_small"
    m1 = derive_turn_metrics(generate_transcripts(spark, spec, seed=42))
    shuffled = generate_transcripts(spark, spec, seed=42).orderBy(F.xxhash64("text"))
    m2 = derive_turn_metrics(shuffled)
    pa = {(r["conv_id"], r["window_start_us"]): bytes(r["payload"]) for r in pack_tier(m1, "1h").collect()}
    pb = {(r["conv_id"], r["window_start_us"]): bytes(r["payload"]) for r in pack_tier(m2, "1h").collect()}
    assert pa == pb


def test_assume_sorted_same_bytes(spark):
    """assume_sorted=True packs the lag-window output (already in
    (conv_id, turn_idx, ts) order within partitions, unique turn_idx,
    monotone ts) to byte-identical blobs while skipping both the exchange
    and the Tungsten sort."""
    t = generate_transcripts(spark, "t_small", seed=42)
    m = derive_turn_metrics(t)
    pa = {
        (r["conv_id"], r["window_start_us"]): (bytes(r["payload"]), r["crc32"])
        for r in pack_tier(m, "1m").collect()
    }
    pb = {
        (r["conv_id"], r["window_start_us"]): (bytes(r["payload"]), r["crc32"])
        for r in pack_tier(m, "1m", assume_sorted=True).collect()
    }
    assert pa == pb
    # same through a cache (the scaling-job shape: persist then pack)
    mc = m.select("conv_id", "turn_idx", "ts_us", "latency_us", "token_count").persist()
    mc.count()
    pc = {
        (r["conv_id"], r["window_start_us"]): (bytes(r["payload"]), r["crc32"])
        for r in pack_tier(mc, "1m", assume_sorted=True).collect()
    }
    mc.unpersist()
    assert pa == pc


def test_chunk_split_across_windows(spark):
    """Conversations long enough to cross the CHUNK_POINTS turn boundary
    inside one window produce multi-chunk blobs that decode whole."""
    from pyspark.sql import functions as F

    n = CHUNK_POINTS + 500
    df = spark.range(n).select(
        F.lit("c0").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        (F.lit(1_700_000_000_000_000) + F.col("id") * 1000).alias("ts_us"),
        (F.col("id") % 97).cast("long").alias("latency_us"),
        (F.col("id") % 13).cast("long").alias("token_count"),
    )
    packed = pack_tier(df, "1d").collect()
    assert len(packed) == 1
    row = packed[0]
    assert row["n_chunks"] == 2 and row["n_points"] == n
    ts, streams = oracle.decode_blob(
        bytes(row["payload"]), expect_xn=int(np.uint64(np.int64(row["xn"])))
    )
    assert len(ts) == n and ts == list(range(1_700_000_000_000_000, 1_700_000_000_000_000 + 1000 * n, 1000))


def test_hot_windows_match_oracle(spark):
    """Zipf-head fixture (3 convs x 100k turns) at 1d: every blob, hot
    multi-chunk windows included, equals the pure-Python reference
    codec's blob for the same points, chunked at turn_idx // CHUNK_POINTS."""
    m = derive_turn_metrics(generate_transcripts(spark, "t_hot", seed=42))
    m = m.filter(F.col("conv_id") < "conv_00000003")  # the hot head
    packed = {
        (r["conv_id"], r["window_start_us"]): r
        for r in pack_tier(m, "1d").collect()
    }
    points = {}
    for r in m.select(
        "conv_id",
        window_start_col(F.col("ts_us"), "1d").alias("window_start_us"),
        "turn_idx",
        "ts_us",
        *[F.col(s).cast("double").alias(s) for s in STREAMS],
    ).collect():
        points.setdefault((r["conv_id"], r["window_start_us"]), []).append(r)
    assert packed.keys() == points.keys()
    for key, rows in points.items():
        rows.sort(key=lambda r: (r["turn_idx"], r["ts_us"]))
        chunks = {}
        for r in rows:
            chunks.setdefault(r["turn_idx"] // CHUNK_POINTS, []).append(r)
        want = oracle.assemble_blob(
            [
                oracle.encode_chunk(
                    [r["ts_us"] for r in c],
                    [[_bits(r[s]) for r in c] for s in STREAMS],
                )
                for _, c in sorted(chunks.items())
            ],
            len(STREAMS),
        )
        got = packed[key]
        assert bytes(got["payload"]) == want, key
        assert got["n_chunks"] == len(chunks) and got["n_points"] == len(rows)
    assert any(r["n_chunks"] > 1 for r in packed.values())  # hot windows split


def test_carry_across_batches_equals_one_block():
    """The flat kernel over many small Arrow batches — windows spanning
    several batches, batch edges on and off window boundaries — yields
    the same rows as one block over the whole table."""
    import pyarrow as pa

    from sac2mseed_spark.operators.pack import _pack_flat_arrow, _run_block_arrow

    rng = np.random.default_rng(7)
    conv, ws, turn = [], [], []
    for c, sizes in enumerate([[3, 1, 250], [1], [40, 7000, 2], [1, 1, 1]]):
        t = 0
        for w, n in enumerate(sizes):
            conv += [f"c{c}"] * n
            ws += [w * 60_000_000] * n
            turn += range(t, t + n)
            t += n
    n = len(conv)
    ts = np.asarray(ws, dtype=np.int64) + np.arange(n, dtype=np.int64)
    tbl = pa.table(
        {
            "conv_id": conv,
            "window_start_us": pa.array(ws, pa.int64()),
            "turn_idx": pa.array(turn, pa.int64()),
            "ts_us": pa.array(ts),
            "latency_us": pa.array(rng.integers(0, 10**6, n).astype(np.float64)),
            "token_count": pa.array(rng.integers(0, 500, n).astype(np.float64)),
        }
    )
    whole = _run_block_arrow(tbl)
    for size in (1, 2, 97, 1000):
        out = list(_pack_flat_arrow(iter(tbl.to_batches(max_chunksize=size))))
        assert pa.Table.from_batches(out).equals(pa.Table.from_batches([whole]))
        if size == 1:  # each window is emitted as soon as the next one starts
            assert len(out) == whole.num_rows


def test_repack_equals_direct_pack(spark):
    """msrepack analogue: 1m payloads decoded and re-encoded at 1h must be
    byte-identical to packing 1h directly from raw metrics (dense turn_idx
    fixture) — the decode→re-window→encode loop loses nothing."""
    from sac2mseed_spark.operators.pack import repack_tier

    m = derive_turn_metrics(generate_transcripts(spark, "t_gaps", seed=42))
    direct = {
        (r["conv_id"], r["window_start_us"]): (bytes(r["payload"]), r["crc32"])
        for r in pack_tier(m, "1h").collect()
    }
    re1h = {
        (r["conv_id"], r["window_start_us"]): (bytes(r["payload"]), r["crc32"])
        for r in repack_tier(pack_tier(m, "1m"), "1h").collect()
    }
    assert re1h == direct


def test_read_tier_selection_prunes_and_matches(spark):
    """Selection read path: coarse blob pruning + exact point filter equals
    filtering the raw metrics directly."""
    from sac2mseed_spark.operators.pack import read_tier_selection

    m = derive_turn_metrics(generate_transcripts(spark, "t_small", seed=42))
    packed = pack_tier(m, "1m")
    lo = m.agg(F.expr("percentile(ts_us, 0.25)")).collect()[0][0]
    hi = m.agg(F.expr("percentile(ts_us, 0.75)")).collect()[0][0]
    sels = [("conv_0000000[0-4]", int(lo), int(hi)), ("conv_0000001?", None, None)]
    got = {
        (r["conv_id"], r["ts_us"])
        for r in read_tier_selection(packed, sels).collect()
    }
    from sac2mseed_spark.functions.selections import apply_selections

    want = {
        (r["conv_id"], r["ts_us"])
        for r in apply_selections(m, sels).select("conv_id", "ts_us").collect()
    }
    assert got == want and got


def test_payload_decodes_with_oracle(spark, packed_1m):
    _, packed = packed_1m
    row = packed.orderBy("conv_id", "window_start_us").first()
    ts, streams = oracle.decode_blob(
        bytes(row["payload"]), expect_xn=int(np.uint64(np.int64(row["xn"])))
    )
    assert len(ts) == row["n_points"]
    assert len(streams) == len(STREAMS)
    assert ts[0] == row["first_ts_us"] and ts[-1] == row["last_ts_us"]


def test_continuity_audit_shape(spark, packed_1m):
    _, packed = packed_1m
    cont = verify_continuity(packed)
    n_adj = cont.filter("adjacent").count()
    # adjacent windows must see a non-null prev_xn
    assert cont.filter(F.col("adjacent") & F.col("prev_xn").isNull()).count() == 0
    assert n_adj > 0
