"""The traced run: per-layer metrics of the rollup engine.

Every traced run takes the same tour, whatever the workload, so it reports
every per-layer metric:

1. one untraced operation of the workload (its wall is the reference for
   the tracing overhead; its Spark jobs and tasks are ``spark.*``);
2. the batch layers on the fixture, each stage forced on its own:
   ``sources`` -> ``metrics`` -> ``rollup`` -> ``pack`` (1m, 1h) -> ``sinks``;
3. the codec in this Python process on a fixed sample of packed 1m blobs;
4. the incremental pipeline: traced snapshot commits and heals, then the
   read layers over the resulting delta chains (chain resolve, selection
   pruning, unpack, retention), then an explicit ``compact()``.

The tracing overhead is the traced wall minus the untraced wall of the
workload's own operation: a backfill pass against the stage-by-stage pass
of step 2, an ingest commit (out-of-order snapshot + heal) against the
traced commit of the same shape in step 4.

What each layer figure should move: the stage times of steps 2-3 the
backfill pass wall (``pass_p50_s``, ``turns_per_s``); ``codec.bytes_*``
``packed_bytes_per_point``; ``sinks.bytes_written`` and
``pipeline.write_amp`` ``stored_bytes_per_turn``; ``spark.jobs`` and
``pipeline.spark_jobs_per_commit`` ``spark_jobs_per_op``; the commit, heal
and compaction times the ingest ``commit_p50_s``; resolve, selection,
unpack and retention times the read latencies (``lookup_p50_s``,
``scan_p50_s``, ``dashboard_p50_s``).
"""

from __future__ import annotations

import os
import random
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from sac2mseed_spark import TIERS
from sac2mseed_spark.codec.decode_vec import decode_concat
from sac2mseed_spark.codec.vectorized import encode_chunks_vec
from sac2mseed_spark.functions.metrics import derive_turn_metrics
from sac2mseed_spark.functions.selections import glob_match
from sac2mseed_spark.operators.pack import pack_tier, read_tier_selection, unpack_tier
from sac2mseed_spark.operators.rollup import rollup_cascade
from sac2mseed_spark.sinks.tier_tables import write_tier
from sac2mseed_spark.sources.transcripts import read_transcripts_table

from fixture import SPEC, make_snapshots, snap_name
from harness import JobCounter, Tracer, dir_stats
from workloads import (
    INGEST_SHARES,
    INGEST_WITHHOLD,
    LOOKUP_SPAN_US,
    PACK_TIERS,
    Pipeline,
    payload_bytes_points,
)

CODEC_SAMPLE_CONVS = 96
CODEC_REPEATS = 7


def batch_stages(bench, wl, tr: Tracer, out: str) -> None:
    """Step 2: the backfill pass with every stage boundary forced."""
    spark = bench.spark
    with tr.span("pass"):
        with tr.span("sources.read"):
            raw = read_transcripts_table(spark, wl.fixture).persist()
            rows = raw.count()
        with tr.span("metrics.derive"):
            m = derive_turn_metrics(raw).persist()
            m.count()
        with tr.span("rollup.cascade"):
            tiers = rollup_cascade(m)
            windows = {}
            for t in TIERS:
                tiers[t] = tiers[t].persist()
                windows[t] = tiers[t].count()
        packed = {}
        for t in PACK_TIERS:
            with tr.span(f"pack.pack_{t}"):
                packed[t] = pack_tier(m, t).persist()
                blobs = packed[t].count()
            if t == "1m":
                tr.put("pack.blobs_1m", blobs, "count")
        with tr.span("sinks.write"):
            for t in TIERS:
                write_tier(tiers[t], os.path.join(out, "tiers"))
            for t in PACK_TIERS:
                write_tier(packed[t], os.path.join(out, "packed"))
    nbytes, nfiles = dir_stats(out)
    tr.put("sources.read_s", tr.last("sources.read"), "s")
    tr.put("sources.rows", rows, "count")
    tr.put("metrics.derive_s", tr.last("metrics.derive"), "s")
    tr.put("rollup.cascade_s", tr.last("rollup.cascade"), "s")
    for t in TIERS:
        tr.put(f"rollup.windows_{t}", windows[t], "count")
    for t in PACK_TIERS:
        tr.put(f"pack.pack_{t}_s", tr.last(f"pack.pack_{t}"), "s")
    tr.put("sinks.write_s", tr.last("sinks.write"), "s")
    tr.put("sinks.bytes_written", nbytes, "B")
    tr.put("sinks.files_written", nfiles, "count")
    for t in PACK_TIERS:
        b, p = payload_bytes_points(packed[t])
        tr.put(f"codec.bytes_per_point_{t}", b / p, "B/point")
    codec(bench, packed["1m"], tr)
    for df in (raw, m, *tiers.values(), *packed.values()):
        df.unpersist()


def codec(bench, packed_1m, tr: Tracer) -> None:
    """Step 3: decode and re-encode a seeded sample of 1m blobs in this
    Python process; throughputs are medians over repeats."""
    rng = random.Random(bench.seed)
    convs = [f"conv_{c:08d}" for c in rng.sample(range(SPEC.n_hot, SPEC.n_convs),
                                                  CODEC_SAMPLE_CONVS)]
    rows = (
        packed_1m.filter(F.col("conv_id").isin(convs))
        .select("payload", "n_points")
        .orderBy("conv_id", "window_start_us")
        .collect()
    )
    lens = np.array([len(r["payload"]) for r in rows], dtype=np.int64)
    data = np.frombuffer(b"".join(bytes(r["payload"]) for r in rows), dtype=np.uint8)
    ends = np.cumsum(lens)
    dec, enc = [], []
    for _ in range(CODEC_REPEATS):
        t0 = time.perf_counter()
        blob_pts, point_off, ts, streams = decode_concat(data, ends - lens, ends)
        dec.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        encode_chunks_vec(ts, point_off, streams)
        enc.append(time.perf_counter() - t0)
    n = int(blob_pts.sum())
    tr.put("codec.decode_points_per_s", n / statistics.median(dec), "1/s", len(dec))
    tr.put("codec.encode_points_per_s", n / statistics.median(enc), "1/s", len(enc))


def traced_commit(pipe: Pipeline, tr: Tracer, jobs: JobCounter, acc: dict) -> None:
    """One snapshot commit (plus heal after an out-of-order snapshot) with
    job counting, chain length and write volume."""
    k = pipe.next
    pipe.snaps.reveal(k, pipe.input_dir)
    in_bytes, _ = dir_stats(os.path.join(pipe.input_dir, snap_name(k)))
    before, _ = dir_stats(pipe.work_dir)
    with tr.span("commit"):
        with jobs.group("commit") as box, tr.span("pipeline.commit"):
            pipe.inc.process_pending()
        acc["commit_s"].append(tr.last("pipeline.commit"))
        acc["jobs"].append(box["jobs"])
        if k in pipe.snaps.heal_after:
            with tr.span("pipeline.heal"):
                acc["heal_convs"] += pipe.inc.heal()
            acc["heal_s"].append(tr.last("pipeline.heal"))
        acc["chain"] = max(acc["chain"], pipe.inc.chain_length())
        after, _ = dir_stats(pipe.work_dir)
    acc["in_bytes"] += in_bytes
    acc["out_bytes"] += after - before
    pipe.next += 1


def pipeline_commits(pipe: Pipeline, n_commits: int, tr: Tracer, jobs: JobCounter) -> None:
    """Step 4, writes: ``n_commits`` traced snapshot commits."""
    acc = {"commit_s": [], "jobs": [], "heal_s": [], "heal_convs": 0,
           "chain": 0, "in_bytes": 0, "out_bytes": 0}
    with tr.span("round"):
        for _ in range(n_commits):
            traced_commit(pipe, tr, jobs, acc)
    tr.put_median("pipeline.commit_s", acc["commit_s"], "s")
    tr.put_median("pipeline.spark_jobs_per_commit", acc["jobs"], "count")
    tr.put_median("pipeline.heal_s", acc["heal_s"], "s")
    tr.put("pipeline.heal_convs", acc["heal_convs"], "count", len(acc["heal_s"]))
    tr.put("pipeline.chain_len_max", acc["chain"], "count")
    tr.put("pipeline.write_amp", acc["out_bytes"] / acc["in_bytes"], "B/B", n_commits)


def read_layers(bench, inc, tr: Tracer) -> None:
    """Step 4, reads: chain resolve, selection pruning, unpack and
    retention over the store the traced commits left (chain part-way
    through a cycle), then an explicit compaction."""
    with tr.span("pipeline.resolve"):
        t1m = inc.tier("1m")
        last = t1m.agg(F.max("max_ts_us")).collect()[0][0]
    tr.put("pipeline.resolve_s", tr.last("pipeline.resolve"), "s")
    now_us = int(last) + 60_000_000

    packed = inc.packed_tier("1m").persist()
    blobs = packed.count()
    rng = random.Random(bench.seed)
    sample = packed.select("conv_id", "first_ts_us").orderBy("conv_id", "window_start_us")
    picks = rng.sample(sample.collect(), 4)
    sel = [(r["conv_id"], int(r["first_ts_us"]), int(r["first_ts_us"]) + LOOKUP_SPAN_US)
           for r in picks]
    pred = None
    for glob, lo, hi in sel:
        p = glob_match("conv_id", glob) & (F.col("last_ts_us") >= lo) & (
            F.col("first_ts_us") <= hi)
        pred = p if pred is None else pred | p
    tr.put("pack.sel_blobs_scanned", blobs, "count")
    tr.put("pack.sel_blobs_decoded", packed.filter(pred).count(), "count")
    with tr.span("pack.selection"):
        read_tier_selection(packed, sel).count()
    with tr.span("pack.unpack"):
        unpack_tier(packed).count()
    tr.put("pack.unpack_s", tr.last("pack.unpack"), "s")
    packed.unpersist()

    with tr.span("retention.apply"):
        inc.apply_retention(now_us)
    tr.put("retention.apply_s", tr.last("retention.apply"), "s")
    with tr.span("retention.serve"):
        inc.serve(now_us).groupBy("tier").agg(F.sum("n_points")).collect()
    tr.put("retention.serve_s", tr.last("retention.serve"), "s")
    with tr.span("pipeline.compact"):
        inc.compact()
    tr.put("pipeline.compact_s", tr.last("pipeline.compact"), "s")


def traced_run(bench, wl) -> tuple[dict, dict, int, int]:
    """The tour (module doc). Returns (metrics, detail, attempted, failed)."""
    from harness import metric

    tr = Tracer()
    jobs = JobCounter(bench.spark)
    with jobs.group("op") as box:
        t0 = time.perf_counter()
        wl.op(0)
        untraced = time.perf_counter() - t0
    tr.put("spark.jobs", box["jobs"], "count")
    tr.put("spark.tasks", box["tasks"], "count")

    out = bench.path("trace", "batch")
    batch_stages(bench, wl, tr, out)
    attempted = 1
    if wl.name == "backfill":
        wl.passes.append(out)  # the traced pass is checked like the others
        attempted = 2
    # ingest: checked before the traced commits extend the store; the read
    # mix is not run here (step 4 times the read layers)
    failed = wl.check([])
    if wl.name == "backfill":
        snaps = make_snapshots(bench.spark, wl.fixture, bench.path("trace", "stage"),
                               INGEST_SHARES, INGEST_WITHHOLD, bench.seed)
        pipe = Pipeline(bench, snaps, "trace")
    else:
        pipe = wl.pipe
    pipeline_commits(pipe, 2, tr, jobs)
    read_layers(bench, pipe.inc, tr)

    # the last traced commit (late snapshot + heal) has the ingest op's shape
    traced = tr.last("pass") if wl.name == "backfill" else tr.last("commit")
    tr.put("trace.overhead_s", traced - untraced, "s")
    metrics = {k: metric(v["value"], v["unit"]) for k, v in tr.metrics.items()}
    detail = {
        "layers": tr.metrics,
        "traced_wall_s": traced,
        "untraced_wall_s": untraced,
        "spans": [(n, round(t1 - t0, 4), p) for n, t0, t1, p in tr.spans],
    }
    return metrics, detail, attempted, min(attempted, failed)
