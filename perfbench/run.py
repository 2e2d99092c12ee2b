"""Rollup-engine benchmark: ``backfill`` and ``ingest`` workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 4 --trace 0

One process, one ``get_spark`` session on ``local[nproc]`` with
``nproc`` shuffle partitions; every other engine argument stays at its
default. The last stdout line is the result JSON (``correct``,
``attempted``, ``failed``, ``metrics``).

``--trace 0`` reports the end-to-end metrics, measured untraced:
``setup_s`` (median of repeated set-up steps), ``packed_bytes_per_point``,
``stored_bytes_per_turn`` and ``spark_jobs_per_op``. These are the figures
that repeat from run to run on a shared 4-core host whose CPU steal swings
between 0 and 25 %; the wall-clock figures, which move with the steal, are
on the line before the result: ``pass_p50_s`` or ``commit_p50_s``,
``turns_per_s``, ``query_p50_s``, ``query_p90_s``, ``lookup_p50_s``,
``scan_p50_s``, ``dashboard_p50_s``, ``failed_frac``, every operation's
latency, and the environment (cores, heap, pyspark version, set-up
samples, CPU steal per operation).

``--trace 1`` runs the per-layer tour instead (perfbench/layers.py) and
reports the per-layer metrics, including the tracing overhead.

Exits non-zero without a result when the engine package is missing.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


def measure(bench, wl, seconds: float) -> tuple[dict, dict, int, int]:
    """Closed loop, one client: timed write operations until ``seconds``
    have elapsed (at least one) or none is left, then the read mix over
    the store they left.
    Returns (metrics, detail, attempted, failed)."""
    from harness import JobCounter, metric, quantile

    jobs = JobCounter(bench.spark)
    lat: list[float] = []
    op_jobs: list[int] = []
    turns = attempted = raised = 0
    deadline = time.perf_counter() + seconds
    bench.steal.pct()
    while not wl.exhausted():
        attempted += 1
        try:
            with jobs.group("op") as box:
                t0 = time.perf_counter()
                n = wl.op(attempted - 1)
                lat.append(time.perf_counter() - t0)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            traceback.print_exc()
            raised += 1
            break
        op_jobs.append(box["jobs"])
        bench.mark_round()
        turns += n
        if time.perf_counter() >= deadline:
            break
    if not lat:
        return {}, {}, attempted, min(attempted, raised)
    timed = wl.queries.run(wl.store(), bench.mark_round)
    attempted += len(timed)
    failed = min(attempted, raised + wl.check(timed))

    q_lat = [t for _, t, _ in timed]
    metrics = {
        "setup_s": metric(bench.setup_s(), "s"),
        "packed_bytes_per_point": metric(wl.packed_bytes_per_point, "B/point"),
        "stored_bytes_per_turn": metric(wl.stored_bytes_per_turn, "B/turn"),
        "spark_jobs_per_op": metric(statistics.median(op_jobs), "count"),
    }
    named = {
        "failed_frac": failed / attempted,
        "pass_p50_s" if wl.name == "backfill" else "commit_p50_s": statistics.median(lat),
        "turns_per_s": turns / sum(lat),
        "op_s": lat,
        "op_jobs": op_jobs,
        "query_p50_s": statistics.median(q_lat),
        "query_p90_s": quantile(q_lat, 0.9),
        "query_s": [(k, t) for k, t, _ in timed],
    }
    for kind in ("lookup", "scan", "dashboard"):
        named[f"{kind}_p50_s"] = statistics.median(t for k, t, _ in timed if k == kind)
    return metrics, named, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    if not os.path.isfile(os.path.join(root, "sac2mseed_spark", "__init__.py")):
        print(f"sac2mseed_spark not found under {root}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]

    from harness import Bench, emit
    from workloads import WORKLOADS

    bench = Bench(args.seed)
    try:
        bench.start()
        wl = WORKLOADS[args.workload](bench)
        wl.setup()
        if args.trace:
            from layers import traced_run

            metrics, named, attempted, failed = traced_run(bench, wl)
        else:
            metrics, named, attempted, failed = measure(bench, wl, args.seconds)
    finally:
        bench.close()
    if not metrics:
        print("no operation completed", file=sys.stderr)
        return 1
    detail = {"workload": args.workload, "trace": args.trace, "named": named,
              "env": bench.env_info()}
    emit(detail, {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics})
    return 0


if __name__ == "__main__":
    sys.exit(main())
