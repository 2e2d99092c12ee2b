"""Benchmark harness — prints ONE JSON line.

Headline: rolled-up points/sec across the 1m/1h/1d tier cascade + packed
payloads on a deterministic synthetic transcripts table (~1.7M turns,
FIXTURES['t_bench']), plus per-operator timings over the driver's sf tables
($SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1).

Methodology (same as tools/scaling_bench.py): this box is a shared host
whose CPU steal swings wall times up to 3x minute-to-minute, so every
query is timed ROUNDS times ($SPARK_GRAFT_BENCH_ROUNDS, default 2) in
interleaved order and the BEST wall is reported, with /proc/stat steal%%
recorded per round. A single cold measurement conflates kernel import +
steal with engine time (observed: the same pack query at 30.9s cold-noisy
vs 1.5s warm-quiet).

Every query is forced with a noop-sink write (full computation, zero
driver-side collection cost) — the number measures the engine, not py4j.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from sac2mseed_spark.functions.metrics import (  # noqa: E402
    derive_turn_metrics,
    slim_metrics,
)
from sac2mseed_spark.operators.pack import (  # noqa: E402
    pack_tier,
    repack_tier,
    unpack_tier,
)
from sac2mseed_spark.operators.rollup import rollup_cascade  # noqa: E402
from sac2mseed_spark.session import get_spark  # noqa: E402
from sac2mseed_spark.sources.transcripts import generate_transcripts  # noqa: E402

SUITE_QUERIES = [
    "rollup_1m",
    "rollup_1d",
    "pack_stats_1m",
    "segments",
    "gapfill_linear_1h",
    "gap_report",
    "dedup_exact",
    "text_quality",
    "doc_fingerprint",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "pii_scrub",
    "topk_ngrams",
    "stratified_sample",
    "embedding_quantize",
    "asof_attribution",
    "token_shards",
    "contamination",
    "anomaly_zscore",
    "ewma_smooth",
    "latency_percentiles",
    "m4_downsample",
    "rollup_month",
    "trend_slope",
    "concurrency_peak",
    "hourly_profile",
    "burst_detect",
    "role_transitions",
    "salient_terms",
    "bm25_search",
    "sft_pairs",
    "pref_pairs",
    "conv_survival",
    "template_turns",
    "context_fit",
    "simhash_pairs",
    "knn_bruteforce",
    "knn_lsh",
    "knn_ivf",
    "rat_approx",
    "multimodal_features",
    "counter_rate",
    "distinct_kmv",
    "burstiness",
    "interval_overlap",
    "latency_histogram",
    "autocorr",
    "changepoint_cusum",
    "seasonal_naive",
    "sax_words",
    "tool_gini",
    "cross_corr",
    "lttb_downsample",
    "response_latency",
    "cohort_retention",
    "activity_streaks",
    "robust_outliers",
    "term_cooccurrence",
    "ohlc_1h",
    "window_topk",
    "funnel",
    "utilization",
    "seasonal_anomaly",
    "dispersion_stats",
    "weekly_growth",
    "verbosity_drift",
    "role_mix_daily",
    "lexical_diversity",
    "tool_stall",
    "conv_outcomes",
    "conv_dedup",
    "repetition_loops",
    "dup_ngram_coverage",
    "layout_audit",
    "corpus_mix",
    "source_overlap",
    "shingle_novelty",
    "conv_near_dup",
    "conv_dup_clusters",
    "source_quality",
    "sliding_1h15m",
    "latency_cube",
    "daily_coverage",
    "twa_1h",
    "latency_rollup_hier",
]


def force(df):
    df.write.format("noop").mode("overwrite").save()


def _cpu_totals():
    parts = open("/proc/stat").readline().split()
    vals = list(map(int, parts[1:]))
    return vals, sum(vals)


class StealMeter:
    def __init__(self):
        self.v, self.t = _cpu_totals()

    def pct(self) -> float:
        v, t = _cpu_totals()
        steal = 100.0 * (v[7] - self.v[7]) / max(t - self.t, 1)
        self.v, self.t = v, t
        return round(steal, 2)


def _alu_calibration(procs: int = 4) -> float:
    """Aggregate M ops/s of a pure-ALU L1-resident loop at ``procs``
    pinned processes (same probe as tools/scaling_bench.py §0). Recorded
    in the output so cross-round bench comparisons self-normalize: the
    SAME deterministic suite has measured ~2x apart between sessions on
    this shared-host VM, tracking this calibration (round 2: 40.1 Mops
    @4p; round 3: 30.0)."""
    import multiprocessing as mp

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
    from scaling_bench import _alu_probe

    with mp.Pool(procs) as pool:
        pool.map(_alu_probe, range(procs))  # warm
        rates = pool.map(_alu_probe, range(procs))
    return round(sum(rates) / 1e6, 1)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "2"))
    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    # warm the Python worker pool (one tiny Arrow UDF round-trip) so the
    # timings below measure the engine, not 32 interpreter cold-starts
    warm = spark.range(64).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    )
    force(warm)

    # ---- fixtures (materialized once, outside all timing) ----
    t = generate_transcripts(spark, "t_bench", seed=42)
    # generator text is single-space by construction -> audited zero-regex
    # tokenizer (identical values, tests assert; ~2x cheaper map stage)
    m = slim_metrics(derive_turn_metrics(t, single_space_tokens=True)).persist()
    n_turns = m.count()
    tiers = rollup_cascade(m)
    rolled_points = tiers["1m"].count() + tiers["1h"].count() + tiers["1d"].count()
    packed_1m = pack_tier(m, "1m", assume_sorted=True).persist()
    packed_1m.count()  # materialize so unpack/repack timings are decode-side only

    def run_cascade():
        tiers = rollup_cascade(m)
        t1m = tiers["1m"].persist()
        force(t1m)
        force(tiers["1h"])  # re-aggregates the persisted 1m
        force(tiers["1d"])
        t1m.unpersist()

    qs = E.queries()
    thunks: list[tuple[str, object]] = [
        ("synth_cascade", run_cascade),
        ("synth_pack_1m", lambda: force(pack_tier(m, "1m", assume_sorted=True))),
        ("synth_unpack_1m", lambda: force(unpack_tier(packed_1m))),
        ("synth_repack_1h", lambda: force(repack_tier(packed_1m, "1h"))),
    ] + [
        (name, (lambda n: lambda: force(qs[n](spark, sf_dir)))(name))
        for name in SUITE_QUERIES
    ]

    # ---- interleaved best-of-N with per-round steal ----
    best: dict[str, float] = {}
    round_walls: list[float] = []
    round_steal: list[float] = []
    meter = StealMeter()
    for _ in range(rounds):
        r0 = time.perf_counter()
        for name, fn in thunks:
            t0 = time.perf_counter()
            fn()
            dt = round(time.perf_counter() - t0, 3)
            if name not in best or dt < best[name]:
                best[name] = dt
        round_walls.append(round(time.perf_counter() - r0, 3))
        round_steal.append(meter.pct())

    # compression measured at 1m and 1h (1m windows on this fixture hold
    # ~4 points, so the varint headers are a larger share there — same
    # physics as short miniSEED records); raw point = 8B ts + 8B per value
    # stream (2 streams)
    comp = {
        tier: pack_tier(m, tier)
        .agg(F.sum(F.length("payload")).alias("b"), F.sum("n_points").alias("p"))
        .collect()[0]
        for tier in ("1m", "1h")
    }
    bytes_per_point = {t: round(c["b"] / c["p"], 2) for t, c in comp.items()}
    compression_ratio = {t: round(24.0 * c["p"] / c["b"], 2) for t, c in comp.items()}
    packed_1m.unpersist()
    m.unpersist()

    queries = {name: best[name] for name, _ in thunks}
    total = round(sum(queries.values()), 3)
    out = {
        "metric": "rolled-up points/sec across 1m/1h/1d tiers (synthetic transcripts, ~1.7M turns) + operator suite wall time",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf_dir,
        "cpus": int(cpus),
        "rounds": rounds,
        "round_walls": round_walls,
        "round_steal_pct": round_steal,
        "alu_cal_4p_Mops": _alu_calibration(4),
        "notes": {
            "rat_approx": "wall is driver-side plan/codegen of the fixed "
            "17-step unrolled expression chain — constant in data size "
            "(functions/ratapprox.py), not engine throughput",
            "knn_ivf": "wall is overhead-dominated at suite scale (two "
            "mapInPandas assignment passes + broadcast setup); the plan "
            "itself is the scale path (operators/ivf.py)",
        },
        "n_turns": n_turns,
        "rolled_points": rolled_points,
        "points_per_sec": round(rolled_points / queries["synth_cascade"], 1),
        "pack_bytes_per_point": bytes_per_point,
        "pack_compression_ratio": compression_ratio,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
