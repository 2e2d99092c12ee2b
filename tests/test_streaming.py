"""Structured Streaming tier maintenance: streaming 1m tier over a file
source must equal the batch rollup's shared columns; session windows must
equal batch sessionization. (Watermark flush semantics <-> pack.c:337.)"""

import pytest
from pyspark.sql import functions as F

from sac2mseed_spark.functions.metrics import derive_turn_metrics
from sac2mseed_spark.operators.rollup import rollup_from_turns
from sac2mseed_spark.operators.sessionize import segments
from sac2mseed_spark.sources.transcripts import generate_transcripts
from sac2mseed_spark.streaming.rollup_stream import (
    stream_rollup,
    stream_sessionize,
    stream_turn_metrics,
    tier_sink,
)


SENTINEL = "wm_sentinel"


@pytest.fixture(scope="module")
def stream_setup(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    t = generate_transcripts(spark, "t_small", seed=42)
    src = str(base / "in")
    # two file "micro-batches"
    t.filter(F.col("turn_idx") < 30).write.mode("overwrite").parquet(src)
    t.filter(F.col("turn_idx") >= 30).write.mode("append").parquet(src)
    # watermark pusher: one far-future row so every real window is flushed
    # (append mode only emits windows the watermark has passed — the
    # streaming analogue of the reference's explicit flush, pack.c:337)
    far = t.agg(F.max("ts")).collect()[0][0]
    sent = spark.createDataFrame(
        [(SENTINEL, 0, "user", "x", None, far)],
        schema=t.schema,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
    sent.write.mode("append").parquet(src)
    schema = t.schema
    return base, t, src, schema


def test_stream_rollup_matches_batch(spark, stream_setup):
    base, t, src, schema = stream_setup
    stream = spark.readStream.schema(schema).parquet(src)
    tier = stream_rollup(stream_turn_metrics(stream), "1m")
    out = str(base / "out_1m")
    q = tier_sink(tier, out, str(base / "ckpt_1m"))
    q.awaitTermination(120)

    got = spark.read.parquet(out).filter(F.col("conv_id") != SENTINEL).select(
        "conv_id", "window_start_us", "n_points", "sum_tokens", "min_ts_us", "max_ts_us"
    )
    want = rollup_from_turns(derive_turn_metrics(t), "1m").select(
        "conv_id", "window_start_us", "n_points", "sum_tokens", "min_ts_us", "max_ts_us"
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w


def test_stream_sessionize_matches_batch(spark, stream_setup):
    base, t, src, schema = stream_setup
    stream = spark.readStream.schema(schema).parquet(src)
    segs = stream_sessionize(stream_turn_metrics(stream))
    out = str(base / "out_sess")
    q = tier_sink(segs, out, str(base / "ckpt_sess"))
    q.awaitTermination(120)

    got = {
        tuple(r)
        for r in spark.read.parquet(out).filter(F.col("conv_id") != SENTINEL)
        .select("conv_id", "seg_start_us", "seg_end_us", "n_turns", "sum_tokens")
        .collect()
    }
    want = {
        tuple(r)
        for r in segments(derive_turn_metrics(t))
        .select("conv_id", "seg_start_us", "seg_end_us", "n_turns", "sum_tokens")
        .collect()
    }
    assert got == want


def test_streaming_ooo_routes_to_heal_pending(spark, tmp_path):
    """Out-of-order rows through the STATEFUL STREAMING path are flagged
    (ooo column), routed into the pipeline's heal_pending/ by
    stateful_metrics_sink, and the next heal() repairs the tiers to
    byte-identity with a batch recompute — the streaming twin of the
    batch detector in plans/pipeline._process_one."""
    import os
    import shutil

    from pyspark.sql import functions as FF

    from sac2mseed_spark.operators.pack import pack_tier
    from sac2mseed_spark.operators.rollup import rollup_from_turns
    from sac2mseed_spark.plans.pipeline import IncrementalRollup
    from sac2mseed_spark.streaming.rollup_stream import stateful_metrics_sink

    from sac2mseed_spark.streaming.rollup_stream import stream_metrics_stateful

    bounds = [(0, 20), (40, 60), (20, 40), (60, 10_000)]  # snap 3 is late
    t = generate_transcripts(spark, "t_small", seed=42)
    src = str(tmp_path / "snaps")
    stream_src = str(tmp_path / "stream_src")
    os.makedirs(stream_src)
    for i, (lo, hi) in enumerate(bounds, start=1):
        part = t.filter((FF.col("turn_idx") >= lo) & (FF.col("turn_idx") < hi))
        part.write.mode("overwrite").parquet(os.path.join(src, f"snap_{i:08d}"))
        # single file per phase so maxFilesPerTrigger=1 delivers the
        # phases in exactly this (out-of-order) sequence
        part.coalesce(1).write.mode("append").parquet(stream_src)

    work = str(tmp_path / "work")
    inc = IncrementalRollup(spark, src, work, pack_tiers=("1m",))
    inc.process_pending()
    # drop the BATCH detector's own flags: what remains pending afterwards
    # came from the streaming path alone
    shutil.rmtree(os.path.join(work, "heal_pending"), ignore_errors=True)
    assert inc.heal() == 0

    stream = (
        spark.readStream.schema(t.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_src)
    )
    out = str(tmp_path / "metrics_out")
    q = stateful_metrics_sink(
        stream_metrics_stateful(stream), out, str(tmp_path / "ckpt"),
        work_dir=work,
    )
    q.awaitTermination(180)

    # the routed flags are exactly the conversations whose turns [20,40)
    # arrived after [40,60)
    pend = os.path.join(work, "heal_pending")
    assert os.path.isdir(pend) and os.listdir(pend)
    flagged = {
        r["conv_id"]
        for r in spark.read.parquet(os.path.join(pend, "*")).collect()
    }
    n_per_conv = {
        r["conv_id"]: r["n"]
        for r in t.groupBy("conv_id").agg(FF.count("*").alias("n")).collect()
    }
    assert flagged == {c for c, n in n_per_conv.items() if n > 40}

    assert inc.heal() == len(flagged)
    full_m = derive_turn_metrics(t)
    got = {
        tuple(r)
        for r in inc.tier("1h").collect()
    }
    want = {
        tuple(r)
        for r in rollup_from_turns(full_m, "1h")
        .select(*inc.tier("1h").columns).collect()
    }
    assert got == want
    got_p = {
        (r["conv_id"], r["window_start_us"]): bytes(r["payload"])
        for r in inc.packed_tier("1m").collect()
    }
    want_p = {
        (r["conv_id"], r["window_start_us"]): bytes(r["payload"])
        for r in pack_tier(full_m, "1m").collect()
    }
    assert got_p == want_p


def test_stateful_metrics_carry_latency_across_batches(spark, stream_setup, tmp_path):
    """applyInPandasWithState: the first turn of a conversation's
    continuation in micro-batch 2 gets its true latency from carried
    state (StreamState analogue) — values equal the batch derivation."""
    from sac2mseed_spark.streaming.rollup_stream import stream_metrics_stateful

    base, t, src, schema = stream_setup
    # maxFilesPerTrigger=1 forces multiple micro-batches so conversations
    # genuinely straddle batches and the state carry is exercised
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = str(tmp_path / "out")
    q = (
        stream_metrics_stateful(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["conv_id"], r["turn_idx"]): (r["ts_us"], r["latency_us"], r["token_count"])
        for r in spark.read.parquet(out).filter(F.col("conv_id") != SENTINEL).collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): (r["ts_us"], r["latency_us"], r["token_count"])
        for r in derive_turn_metrics(t)
        .select("conv_id", "turn_idx", "ts_us", "latency_us", "token_count")
        .collect()
    }
    assert got == want


def test_stateful_metrics_token_count_equals_batch(spark, tmp_path):
    """The stateful path counts tokens by the batch definition, also on
    texts where whitespace splitting in Python disagrees with it: a
    trailing newline, a lone newline or tab, a no-break space."""
    from sac2mseed_spark.streaming.rollup_stream import stream_metrics_stateful

    texts = ["hello world\n", "\n", "\t", "a\xa0b", "two words"]
    t = spark.createDataFrame(
        [
            ("c", i, "user", text, None, f"2024-01-01 00:00:{i:02d}")
            for i, text in enumerate(texts)
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "in")
    t.write.parquet(src)
    out = str(tmp_path / "out")
    q = (
        stream_metrics_stateful(spark.readStream.schema(t.schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["turn_idx"]: r["token_count"] for r in spark.read.parquet(out).collect()}
    want = {
        r["turn_idx"]: r["token_count"]
        for r in derive_turn_metrics(t).select("turn_idx", "token_count").collect()
    }
    assert want == {0: 3, 1: 2, 2: 2, 3: 1, 4: 2}
    assert got == want


def test_stream_kill_resume_more_data_no_dup_no_drop(spark, tmp_path):
    """Full kill/resume E2E: run the tier sink over partial input, stop the
    query, append more data, restart on the SAME checkpoint — the final
    tier equals a batch recompute over everything, no window duplicated or
    dropped (fpos resume, fileutils.c:367-384).

    The input is split by EVENT TIME (not row id): everything the resumed
    run delivers is newer than the checkpointed watermark, so windows
    straddling the split keep their partial aggregation state across the
    stop/start and complete correctly on resume."""
    t = generate_transcripts(spark, "t_small", seed=42)
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = t.schema
    cutoff = t.selectExpr("percentile(cast(ts as double), 0.5)").collect()[0][0]

    # phase 1: only events before the cutoff exist; run to completion, STOP
    t.filter(F.col("ts").cast("double") < cutoff).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    s1 = spark.readStream.schema(schema).parquet(src)
    tier_sink(stream_rollup(stream_turn_metrics(s1), "1m"), out, ckpt).awaitTermination(120)
    n_phase1 = spark.read.parquet(out).count()

    # phase 2: the rest + a far-future watermark pusher arrive
    t.filter(F.col("ts").cast("double") >= cutoff).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    far = t.agg(F.max("ts")).collect()[0][0]
    spark.createDataFrame(
        [(SENTINEL, 0, "user", "x", None, far)], schema=schema
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS")).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    # restart from the same checkpoint: only the new files are read
    s2 = spark.readStream.schema(schema).parquet(src)
    tier_sink(stream_rollup(stream_turn_metrics(s2), "1m"), out, ckpt).awaitTermination(120)

    got = spark.read.parquet(out).filter(F.col("conv_id") != SENTINEL)
    rows = got.collect()
    assert n_phase1 > 0 and len(rows) > n_phase1  # both runs really emitted
    keys = [(r["conv_id"], r["window_start_us"]) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate windows after resume"
    cols = ["conv_id", "window_start_us", "n_points", "sum_tokens",
            "min_ts_us", "max_ts_us"]
    want = {
        tuple(r)
        for r in rollup_from_turns(derive_turn_metrics(t), "1m").select(*cols).collect()
    }
    g = {tuple(r) for r in got.select(*cols).collect()}
    assert g == want


def test_streaming_packed_sink_bytes_equal_batch(spark, tmp_path):
    """Streaming PACKED sink E2E (record_handler analogue, sac2mseed.c:
    1437-1444): micro-batches land as snapshots, the incremental pipeline
    re-encodes touched windows, and after the run — and again after a
    stop/append-more/resume cycle on the same checkpoint — the packed 1m
    tier is byte-identical to a batch pack_tier over all ingested turns."""
    from sac2mseed_spark.operators.pack import pack_tier
    from sac2mseed_spark.plans.pipeline import IncrementalRollup
    from sac2mseed_spark.streaming.rollup_stream import incremental_sink

    t = generate_transcripts(spark, "t_small", seed=42)
    schema = t.schema
    src = str(tmp_path / "in")
    snaps = str(tmp_path / "snaps")
    work = str(tmp_path / "work")
    ckpt = str(tmp_path / "ckpt")

    def packed_dict(df):
        return {
            (r["conv_id"], r["window_start_us"]): (
                r["n_points"], r["n_chunks"], r["x0"], r["xn"],
                bytes(r["payload"]), r["crc32"],
            )
            for r in df.collect()
        }

    # phase 1: two files -> two micro-batches (maxFilesPerTrigger=1),
    # append-ordered per conversation
    t.filter(F.col("turn_idx") < 20).coalesce(1).write.mode("overwrite").parquet(src)
    t.filter((F.col("turn_idx") >= 20) & (F.col("turn_idx") < 60)).coalesce(
        1
    ).write.mode("append").parquet(src)
    s1 = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    incremental_sink(s1, snaps, work, ckpt).awaitTermination(180)

    inc = IncrementalRollup(spark, snaps, work)
    part = t.filter(F.col("turn_idx") < 60)
    assert packed_dict(inc.packed_tier("1m")) == packed_dict(
        pack_tier(derive_turn_metrics(part), "1m")
    )

    # phase 2: more turns arrive; resume on the SAME checkpoint
    t.filter(F.col("turn_idx") >= 60).coalesce(1).write.mode("append").parquet(src)
    s2 = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    incremental_sink(s2, snaps, work, ckpt).awaitTermination(180)

    assert packed_dict(inc.packed_tier("1m")) == packed_dict(
        pack_tier(derive_turn_metrics(t), "1m")
    )
    # aggregate tiers ride along in the same pipeline
    want_1h = rollup_from_turns(derive_turn_metrics(t), "1h")
    got = {tuple(r) for r in inc.tier("1h").collect()}
    assert got == {tuple(r) for r in want_1h.collect()}


def test_stream_checkpoint_resume_no_duplicates(spark, stream_setup, tmp_path):
    """Restarting from the same checkpoint with no new data emits nothing
    new (offset log = fpos analogue)."""
    base, t, src, schema = stream_setup
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(schema).parquet(src)
    tier = stream_rollup(stream_turn_metrics(stream), "1m")
    tier_sink(tier, out, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    # restart with the same checkpoint: availableNow sees no new files
    stream2 = spark.readStream.schema(schema).parquet(src)
    tier2 = stream_rollup(stream_turn_metrics(stream2), "1m")
    tier_sink(tier2, out, ckpt).awaitTermination(120)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2
