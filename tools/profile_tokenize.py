"""Micro-bench: token_count formulations on real fixture text.

A stage profile of the metrics derivation showed tokenization at ~70%
of its dominant stage. Java regex (regexp_count) is the
current implementation; candidates below are value-identical on
single-space-separated corpora (the fixture, by construction) and are
checked for exact agreement before timing is trusted.

Usage: taskset -c 0-3 python tools/profile_tokenize.py [slice_mod_idx]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scaling_bench import FIXTURE_DIR  # noqa: E402


def main():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "12g")
    os.environ.setdefault("SPARK_GRAFT_PROC_COUNT", "4")
    from pyspark.sql import functions as F

    from sac2mseed_spark.session import get_spark

    spark = get_spark("profile_tok", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sl = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    df = (
        spark.read.parquet(FIXTURE_DIR)
        .filter(F.col("slice") == sl)
        .select("text")
    )

    t = F.trim(F.col("text"))
    variants = {
        # current: general \s+ run count
        "regexp_count": F.when(F.length(t) == 0, F.lit(0)).otherwise(
            F.regexp_count(t, F.lit(r"\s+")) + 1
        ),
        # regex split on runs of spaces
        "split_regex": F.when(F.length(t) == 0, F.lit(0)).otherwise(
            F.size(F.split(t, r" +"))
        ),
        # zero-regex: spaces+1 (exact for single-space-separated text)
        "replace_len": F.when(F.length(t) == 0, F.lit(0)).otherwise(
            F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1
        ),
    }

    def force(c):
        return df.select(c.cast("long").alias("tc")).agg(
            F.sum("tc").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]

    # agreement check once
    sums = {}
    for name, c in variants.items():
        r = force(c)
        sums[name] = (int(r["s"]), int(r["n"]))
    print("AGREEMENT", json.dumps(sums))

    for it in range(2):
        out = {"iter": it}
        for name, c in variants.items():
            t0 = time.perf_counter()
            force(c)
            out[name] = round(time.perf_counter() - t0, 2)
        print("PROFILE_TOKENIZE " + json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
