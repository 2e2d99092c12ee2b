"""Process set-up, Spark session, spans and output for the rollup benchmark.

Everything the benchmark writes lives under one scratch directory inside
the checkout (``.perfbench_scratch/<pid>``): the fixture, snapshots, work
dirs, Spark's local dirs, the JVM's temp dir and any ``spark-warehouse`` or
``metastore_db`` Spark creates in its working directory. ``Bench.close``
stops Spark, waits for the JVM to exit and removes the directory.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sac2mseed_spark"


def host_cpus() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_heap_mb() -> int:
    """Spark heap well below free RAM: a quarter of MemAvailable, capped
    at 1 GiB (the fixture needs far less; the heap is pre-touched at
    start, so a larger one only lengthens set-up). The engine's default
    16 GiB pre-touched heap cannot start on a 15 GB host."""
    avail_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
                break
    if avail_kb is None:
        return 1024
    return max(512, min(1024, avail_kb // 1024 // 4))


def _cpu_totals() -> tuple[list[int], int]:
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return vals, sum(vals)


class StealMeter:
    """Share of CPU time stolen by the hypervisor since the last reading."""

    def __init__(self):
        self.v, self.t = _cpu_totals()

    def pct(self) -> float:
        v, t = _cpu_totals()
        steal = 100.0 * (v[7] - self.v[7]) / max(t - self.t, 1) if len(v) > 7 else 0.0
        self.v, self.t = v, t
        return round(steal, 3)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker and
    checksum files."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class Bench:
    """One benchmark process: scratch dir, environment, Spark session."""

    def __init__(self, seed: int):
        self.seed = seed
        self.scratch = os.path.join(ROOT, ".perfbench_scratch", str(os.getpid()))
        self.cpus = host_cpus()
        self.heap_mb = spark_heap_mb()
        self.spark = None
        self.setup_parts: dict[str, list[float]] = {}
        self.steal = StealMeter()
        self.round_steal: list[float] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def start(self) -> None:
        """Prepare the environment and start the session (timed as set-up)."""
        t0 = time.perf_counter()
        shutil.rmtree(self.scratch, ignore_errors=True)
        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.makedirs(self.path("spark-local"))
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": str(self.cpus),
                "SPARK_GRAFT_DRIVER_MEM": f"{self.heap_mb}m",
                "SPARK_LOCAL_DIRS": self.path("spark-local"),
                "TMPDIR": tmp,
                "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.enabled=false"
                " --conf spark.ui.showConsoleProgress=false pyspark-shell",
            }
        )
        # spark-warehouse / metastore_db / derby.log land in the cwd
        os.chdir(self.scratch)
        from sac2mseed_spark.session import get_spark

        self.spark = get_spark("perfbench", shuffle_partitions=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup_parts["session_s"] = [time.perf_counter() - t0]

    @contextmanager
    def setup_step(self, name: str):
        """Time one sample of a set-up step; a step run several times
        counts with its median."""
        t0 = time.perf_counter()
        yield
        self.setup_parts.setdefault(name, []).append(time.perf_counter() - t0)

    def setup_s(self) -> float:
        return sum(statistics.median(v) for v in self.setup_parts.values())

    def mark_round(self) -> None:
        self.round_steal.append(self.steal.pct())

    def env_info(self) -> dict:
        import pyspark

        return {
            "cores": self.cpus,
            "heap_mb": self.heap_mb,
            "pyspark": pyspark.__version__,
            "seed": self.seed,
            "setup_parts_s": {k: [round(x, 4) for x in v] for k, v in self.setup_parts.items()},
            "round_steal_pct": self.round_steal,
        }

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit, remove the scratch dir."""
        os.chdir(ROOT)
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None) if gateway else None
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — any wait failure: kill
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        shutil.rmtree(self.scratch, ignore_errors=True)
        parent = os.path.dirname(self.scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


class JobCounter:
    """Counts Spark jobs and tasks started under a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    @contextmanager
    def group(self, label: str):
        self.n += 1
        gid = f"perfbench-{label}-{self.n}"
        self.sc.setJobGroup(gid, label)
        box = {"jobs": 0, "tasks": 0}
        try:
            yield box
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(gid)
            box["jobs"] = len(jobs)
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    box["tasks"] += si.numTasks if si else 0


class Tracer:
    """In-memory spans and per-layer metrics of the traced run.

    A span records (name, start, end, parent); metrics are named values with
    a unit and the number of samples they summarise."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, str | None]] = []
        self.metrics: dict[str, dict] = {}
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter(), parent))
            self._stack.pop()

    def last(self, name: str) -> float:
        for n, t0, t1, _ in reversed(self.spans):
            if n == name:
                return t1 - t0
        raise KeyError(name)

    def put(self, name: str, value: float, unit: str, samples: int = 1) -> None:
        self.metrics[name] = {"value": value, "unit": unit, "samples": samples}

    def put_median(self, name: str, values: list[float], unit: str) -> None:
        self.put(name, statistics.median(values) if values else 0.0, unit, len(values))


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def emit(detail: dict, result: dict) -> None:
    """Detail line first (humans), the contract's result line last."""
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    sys.stdout.flush()
