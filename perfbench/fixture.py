"""Seeded inputs of the benchmark and the batch-path answers it checks against.

The fixture is ``generate_transcripts(SPEC, seed)`` written once to parquet
with ``write_transcripts_table``. Snapshots for the incremental pipeline are
time slices of the same rows, cut at the whole hours nearest below the
ts quantiles of the requested shares, so no 1m or 1h window straddles two
snapshots except where turns are withheld. A snapshot listed in
``withhold_at`` keeps back the earlier half of a few seeded conversations'
turns and delivers them with the next snapshot, so that next commit is
out-of-order for those conversations and is followed by ``heal()``.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sac2mseed_spark.functions.metrics import derive_turn_metrics
from sac2mseed_spark.operators.rollup import TIER_AGG_COLS
from sac2mseed_spark.sources.transcripts import (
    TranscriptSpec,
    read_transcripts_table,
    write_transcripts_table,
)

# ~52k turns: 796 conversations of 40-80 turns and 4 hot ones of 1,000
# turns that carry the skew. Bytes per point follows each conversation's
# seeded turn spacing, so it moves with the seed unless many
# conversations, each a small share of the points, average it out. Hot
# conversations cross a 24 h gap every 250 turns, so the data spans more
# than the 2-day 1m retention horizon and a retention sweep evicts some 1m
# windows whatever the seed.
SPEC = TranscriptSpec(
    n_convs=800,
    min_turns=40,
    max_turns=80,
    n_hot=4,
    hot_turns=1_000,
    gap_every=250,
    gap_us=24 * 3_600_000_000,
)

HOUR_US = 3_600_000_000
WITHHELD_CONVS = 3  # conversations held back per withholding snapshot

TIER_COLS = ["conv_id", "window_start_us", *TIER_AGG_COLS, "tier"]
PACKED_COLS = [
    "conv_id",
    "window_start_us",
    "n_points",
    "n_chunks",
    "first_ts_us",
    "last_ts_us",
    "x0",
    "xn",
    "payload",
    "crc32",
]


def materialise(spark, path: str, seed: int) -> None:
    write_transcripts_table(spark, path, SPEC, seed)


def turn_keys(spark, fixture_path: str):
    """(conv_id, turn_idx, ts_us) of every fixture turn, as pandas."""
    return (
        read_transcripts_table(spark, fixture_path)
        .select("conv_id", "turn_idx", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
        .toPandas()
    )


def lookup_picks(keys, seed: int, n: int) -> list[tuple[str, int]]:
    """``n`` seeded (conv_id, ts_us) turns of non-hot conversations: the
    starts of the benchmark's one-hour lookups."""
    cold = keys[keys["conv_id"] >= f"conv_{SPEC.n_hot:08d}"].sort_values(["conv_id", "turn_idx"])
    rows = random.Random(seed).sample(range(len(cold)), n)
    return [(str(cold["conv_id"].iat[i]), int(cold["ts_us"].iat[i])) for i in rows]


def snap_name(k: int) -> str:
    return f"snap_{k:08d}"


@dataclass
class Snapshots:
    stage_dir: str  # every snapshot, staged: stage_dir/snap_{k:08d}
    turns: list[int]  # rows per snapshot, index k-1
    heal_after: set[int]  # snapshots whose commit is followed by heal()
    keys: object  # turn_keys() of the fixture plus each turn's snapshot ``snap``

    def through(self, k: int):
        """Keys of the turns visible once snapshots 1..k are committed."""
        return self.keys[self.keys["snap"] <= k]

    def reveal(self, k: int, input_dir: str) -> None:
        """Make snapshot k visible in a pipeline's input table (hard links,
        so several pipelines can consume the same staged snapshots)."""
        src = os.path.join(self.stage_dir, snap_name(k))
        shutil.copytree(src, os.path.join(input_dir, snap_name(k)), copy_function=os.link)

    @staticmethod
    def visible_paths(input_dir: str) -> list[str]:
        return sorted(os.path.join(input_dir, n) for n in os.listdir(input_dir))


def make_snapshots(
    spark,
    fixture_path: str,
    stage: str,
    shares: tuple[float, ...],
    withhold_at: set[int],
    seed: int,
) -> Snapshots:
    """Split the fixture into time-ordered snapshots holding about the
    given ``shares`` of its turns (one
    partitioned write) staged under ``stage``."""
    raw = read_transcripts_table(spark, fixture_path)
    keys = turn_keys(spark, fixture_path)
    ts = keys["ts_us"].to_numpy()
    n_snaps = len(shares)
    q = np.quantile(ts, np.cumsum(shares)[:-1])
    edges = [int(e) - int(e) % HOUR_US for e in q]
    snap = np.searchsorted(np.array(edges), ts, side="right") + 1
    keys["snap"] = snap

    # seeded conversations withheld at each withholding snapshot
    rng = random.Random(seed)
    withheld = []  # (conv_id, snapshot, cut_turn)
    for k in sorted(withhold_at):
        span = keys[keys["snap"] == k].groupby("conv_id")["turn_idx"].agg(["min", "max"])
        span = span[span["max"] - span["min"] >= 3].sort_index()
        for conv in rng.sample(list(span.index), min(WITHHELD_CONVS, len(span))):
            lo, hi = int(span.at[conv, "min"]), int(span.at[conv, "max"])
            withheld.append((conv, k, (lo + hi) // 2 + 1))

    snap_col = F.lit(n_snaps)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    for i in range(len(edges) - 1, -1, -1):
        snap_col = F.when(ts_us < F.lit(edges[i]), F.lit(i + 1)).otherwise(snap_col)
    late = F.lit(False)
    for conv, k, cut in withheld:
        late = late | (
            (F.col("conv_id") == conv) & (snap_col == k) & (F.col("turn_idx") < cut)
        )
        moved = (
            (keys["conv_id"] == conv) & (keys["snap"] == k) & (keys["turn_idx"] < cut)
        )
        keys.loc[moved, "snap"] = k + 1
    raw = raw.withColumn("snap", F.when(late, snap_col + 1).otherwise(snap_col))

    raw.write.mode("overwrite").partitionBy("snap").parquet(stage)
    snaps = Snapshots(stage, [], {k + 1 for k in withhold_at}, keys)
    counts = keys["snap"].value_counts()
    for k in range(1, n_snaps + 1):
        os.rename(os.path.join(stage, f"snap={k}"), os.path.join(stage, snap_name(k)))
        snaps.turns.append(int(counts.get(k, 0)))
    return snaps


def table_digest(df: DataFrame, cols: list[str]) -> tuple:
    """Order-insensitive digest of a table: (rows, sum and xor of row hashes)."""
    h = F.xxhash64(*[F.col(c) for c in cols])
    r = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.bit_xor("h").alias("x"),
    ).collect()[0]
    return int(r["n"]), str(r["s"]), int(r["x"] or 0)


def batch_metrics(spark, paths: list[str]) -> DataFrame:
    return derive_turn_metrics(spark.read.parquet(*paths))
