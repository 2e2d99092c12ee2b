"""SparkSession factory with scale-appropriate defaults.

All engine entry points accept an externally built session; this module is
the single place that encodes the config we would ship to a 1000-executor
cluster (AQE, skew join handling, Arrow batching) and the local-mode
overrides used by tests/bench.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that matter identically on local[32] and on a real cluster.
ENGINE_CONFS = {
    # deterministic oracle comparison (duckdb is UTC-naive)
    "spark.sql.session.timeZone": "UTC",
    # runtime re-planning: partition coalescing + skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs (the codec kernels)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # ANSI off: we want C-like truncating casts (sac2mseed.c:358-368 scales
    # float->int32 by truncation toward zero, matching non-ANSI CAST)
    "spark.sql.ansi.enabled": "false",
    # parquet scans: 128MB split targets for the 100TB case
    "spark.sql.files.maxPartitionBytes": "134217728",
}


def _local_heap() -> str:
    """A quarter of the host's MemAvailable, between 512m and 16g: the
    pre-touched heap must fit beside the Python workers, and a fixed
    size larger than the host's free memory keeps the JVM from starting."""
    avail_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    if not avail_kb:
        return "16g"
    return f"{max(512, min(16 * 1024, avail_kb // 1024 // 4))}m"


def get_spark(
    app_name: str = "sac2mseed_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` in the sandbox;
    on a cluster the caller passes none and spark-submit decides.
    """
    # Python workers must import this package regardless of caller cwd; in
    # local mode they inherit the driver process env, so export PYTHONPATH
    # before the JVM starts. (Cluster deployments ship the package with
    # spark-submit --py-files instead.)
    # numpy kernels allocate multi-MB temporaries per Arrow batch; with
    # glibc's default mmap threshold every such buffer is a fresh mmap that
    # must be page-faulted in, and 32 concurrent workers serialize on the
    # kernel's fault path. Raising the threshold keeps big blocks in the
    # (reused, already-faulted) heap arena.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "536870912")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "536870912")

    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )

    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    if master.startswith("local"):
        # local mode = one JVM for driver+executors; size the heap from the
        # memory the host can spare instead of Spark's 1g default (cluster
        # mode gets memory from spark-submit flags instead). Keep the heap
        # MODEST and pre-touched: an oversized growing heap spends more
        # time page-faulting fresh regions than it saves (measured: a 48g
        # heap ran the same job 3x slower than a 16g one).
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _local_heap()
        jvm_opts = f"-Xms{mem} -XX:+AlwaysPreTouch"
        # When the JVM is pinned to a core subset (emulated executors via
        # taskset), it still sizes GC/JIT/fork-join pools for every CPU it
        # can see — ~23 GC threads thrashing 4 cores. Let callers tell it
        # the truth.
        proc_count = os.environ.get("SPARK_GRAFT_PROC_COUNT")
        if proc_count:
            jvm_opts += f" -XX:ActiveProcessorCount={proc_count}"
        builder = builder.config("spark.driver.memory", mem).config(
            "spark.driver.extraJavaOptions", jvm_opts
        )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    if shuffle_partitions is None:
        # ~1 partition per core locally; a cluster deployment would size
        # this to 2-3x total cores (or rely on AQE coalescing from a high
        # initial value).
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 0
        except ValueError:
            n = 0
        shuffle_partitions = max(n, 32)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
