"""Profile synth_unpack_1m (BENCH r3 flagged a 4.2x regression).

Separates the three layers of unpack_tier's cost on the exact bench
fixture (t_bench, seed 42, packed with assume_sorted=True like bench.py):

  1. kernel: decode_concat on driver-collected blobs, pure numpy — the
     floor the Spark job should approach.
  2. spark wall: force(unpack_tier(packed_1m)) — the number bench.py
     reports, interleaved best-of-N.
  3. layout: per-partition blob counts + byte sizes of the persisted
     packed_1m.

Usage: python tools/profile_unpack.py [fixture] (default t_bench)
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def force(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    fixture = sys.argv[1] if len(sys.argv) > 1 else "t_bench"
    from sac2mseed_spark.functions.metrics import derive_turn_metrics, slim_metrics
    from sac2mseed_spark.operators.pack import pack_tier, unpack_tier
    from sac2mseed_spark.session import get_spark
    from sac2mseed_spark.sources.transcripts import generate_transcripts

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "prof_unpack", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")
    force(spark.range(64).mapInPandas(lambda it: (p for p in it), schema="id long"))

    m = slim_metrics(derive_turn_metrics(generate_transcripts(spark, fixture, seed=42)))
    m = m.persist()
    n_turns = m.count()
    packed = pack_tier(m, "1m", assume_sorted=True).persist()
    n_blobs = packed.count()

    # --- layout of the persisted packed tier ---
    import pyspark.sql.functions as F

    lay = packed.select(
        F.spark_partition_id().alias("pid"), F.length("payload").alias("sz")
    )
    per_part = (
        lay.groupBy("pid")
        .agg(F.count("*").alias("blobs"), F.sum("sz").alias("bytes"))
        .collect()
    )
    sizes = [int(r.bytes) for r in per_part]
    blobs = [int(r.blobs) for r in per_part]
    print(
        f"LAYOUT parts={len(per_part)} blobs={n_blobs} "
        f"blob_bytes total={sum(sizes)} "
        f"per_part blobs min/med/max={min(blobs)}/{sorted(blobs)[len(blobs)//2]}/{max(blobs)} "
        f"bytes min/med/max={min(sizes)}/{sorted(sizes)[len(sizes)//2]}/{max(sizes)}"
    )

    # --- pure-numpy kernel floor on the same blobs (single core) ---
    from sac2mseed_spark.codec.decode_vec import decode_concat

    rows = packed.select("payload").collect()
    buf = b"".join(r.payload for r in rows)
    lens = np.array([len(r.payload) for r in rows], dtype=np.int64)
    ends = np.cumsum(lens)
    starts = ends - lens
    data = np.frombuffer(buf, dtype=np.uint8)
    t0 = time.perf_counter()
    blob_pts, _, ts, _ = decode_concat(data, starts, ends)
    k1 = time.perf_counter() - t0
    print(
        f"KERNEL 1-core decode_concat: {k1:.3f}s for {len(ts)} pts "
        f"({len(ts)/k1/1e6:.2f} M pts/s), {n_blobs} blobs"
    )

    # --- spark wall, interleaved best-of-3 ---
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        force(unpack_tier(packed))
        walls.append(round(time.perf_counter() - t0, 3))
    print(
        f"SPARK unpack_tier walls={walls} best={min(walls)} "
        f"(n_turns={n_turns}, ideal {int(cpus)}-core kernel ~{k1/int(cpus):.3f}s)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
