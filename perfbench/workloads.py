"""Workloads ``backfill`` and ``ingest``, and the read mix both end with.

Each is a closed loop with one client that calls the public functions of
``sac2mseed_spark`` and checks every output against the batch path. A
workload object has ``setup`` (timed into ``setup_s``, including one
untimed warm-up operation), ``op`` (one timed write operation; returns the
turns it covered), ``exhausted`` (no write operation left), ``store`` (the
store the reads run against), and ``check`` (verifies the write outputs
and the read answers, sets ``packed_bytes_per_point`` and
``stored_bytes_per_turn``; returns the failed operations).

After the write loop the client runs a fixed, seeded read mix
(``QueryMix``) over the store the writes left: one-hour ``lookup`` of one
conversation, a conversation-prefix ``scan`` over the whole time range and
a ``dashboard`` (the age-banded serving view summed per tier). On
``backfill`` the store is the pass's written tier tables; on ``ingest`` it
is the pipeline's delta chains, so longer chains show as slower reads.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sac2mseed_spark import TIERS
from sac2mseed_spark.codec.decode_vec import check_xn, decode_concat
from sac2mseed_spark.functions.metrics import derive_turn_metrics
from sac2mseed_spark.operators.pack import pack_tier, read_tier_selection
from sac2mseed_spark.operators.retention import serve_tiered
from sac2mseed_spark.operators.rollup import rollup_cascade, rollup_from_turns
from sac2mseed_spark.plans.pipeline import IncrementalRollup
from sac2mseed_spark.sinks.tier_tables import read_tier, write_tier
from sac2mseed_spark.sources.transcripts import read_transcripts_table

from fixture import (
    PACKED_COLS,
    SPEC,
    TIER_COLS,
    Snapshots,
    batch_metrics,
    lookup_picks,
    make_snapshots,
    materialise,
    table_digest,
    turn_keys,
)
from harness import dir_stats

PACK_TIERS = ("1m", "1h")
# Snapshot 1 is the bulk of the history, later ones are small deltas, so
# the store the reads run against holds most of the fixture and its bytes
# per point barely move with the seed. Odd snapshots withhold a few
# conversations' turns; the next (even) snapshot delivers them out of
# order and its commit is followed by heal(). ingest commits 1 as warm-up
# and times 2; the traced run goes on with 3 and 4. One timed commit per
# run: a commit costs ~12 s of per-job fixed overhead on 4 cores, and one
# keeps a run near a minute.
INGEST_SHARES = (0.6, 0.2, 0.1, 0.1)
INGEST_WITHHOLD = {1, 3}
INGEST_MEASURED = 2  # last snapshot the timed loop commits
SETUP_REPEATS = 3  # fixture writes per run; setup_s takes their median
LOOKUP_SPAN_US = 3_600_000_000
SCAN_GLOB = "conv_000001*"  # conversations 100-199, none of them hot
MINUTE_US = 60_000_000


def payload_bytes_points(packed) -> tuple[int, int]:
    r = packed.agg(
        F.sum(F.length("payload")).alias("b"), F.sum("n_points").alias("p")
    ).collect()[0]
    return int(r["b"] or 0), int(r["p"] or 0)


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows (repr keeps NaNs equal)."""
    return hashlib.sha1(repr(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()


def materialise_fixture(bench) -> str:
    """Write the fixture ``SETUP_REPEATS`` times, each write timed as a
    set-up sample; keep the last copy."""
    spark, seed = bench.spark, bench.seed
    for i in range(SETUP_REPEATS):
        path = bench.path(f"fixture_{i}")
        with bench.setup_step("fixture_s"):
            materialise(spark, path, seed)
        if i + 1 < SETUP_REPEATS:
            shutil.rmtree(path)
    return path


@dataclass
class Store:
    """What the read mix runs against: the packed 1m tier and the
    age-banded serving view."""

    packed_1m: Callable[[], DataFrame]
    serve: Callable[[int], DataFrame]


class BatchReference:
    """The batch path over all the data: per-turn metrics, every tier and
    the packed 1m tier, persisted so that every check reads them once."""

    def __init__(self, m: DataFrame):
        self.m = m.persist()
        self.tiers = {t: rollup_from_turns(self.m, t).persist() for t in TIERS}
        self.packed_1m = pack_tier(self.m, "1m").persist()
        self.store = Store(
            lambda: self.packed_1m, lambda now: serve_tiered(self.tiers, now)
        )

    def close(self) -> None:
        for df in (self.m, *self.tiers.values(), self.packed_1m):
            df.unpersist()


class QueryMix:
    """One lookup (seeded from the turns the store holds), one scan and
    one dashboard."""

    def __init__(self, seed: int, keys):
        self.now_us = int(keys["ts_us"].max()) + MINUTE_US
        [(conv, t)] = lookup_picks(keys, seed, 1)
        self.ops = [
            ("lookup", [(conv, t, t + LOOKUP_SPAN_US)]),
            ("scan", [(SCAN_GLOB, None, None)]),
            ("dashboard", None),
        ]

    def answer(self, kind: str, sel, store: Store):
        if kind == "dashboard":
            rows = (
                store.serve(self.now_us)
                .groupBy("tier")
                .agg(F.count(F.lit(1)), F.sum("n_points"))
                .collect()
            )
            return sorted(tuple(r) for r in rows)
        df = read_tier_selection(store.packed_1m(), sel)
        return df.count() if kind == "scan" else rows_digest(df.collect())

    def run(self, store: Store, on_done: Callable[[], None]) -> list[tuple[str, float, object]]:
        """Timed answers: (kind, latency_s, answer) per query."""
        out = []
        for kind, sel in self.ops:
            t0 = time.perf_counter()
            ans = self.answer(kind, sel, store)
            out.append((kind, time.perf_counter() - t0, ans))
            on_done()
        return out

    def failures(self, timed, store: Store) -> int:
        """Queries whose answer differs from the same query on ``store``."""
        return sum(
            ans != self.answer(kind, sel, store)
            for (kind, sel), (_, _, ans) in zip(self.ops, timed)
        )


class Pipeline:
    """An IncrementalRollup (default pack tiers and compaction policy) over
    its own input table, fed one staged snapshot at a time."""

    def __init__(self, bench, snaps: Snapshots, label: str):
        self.spark = bench.spark
        self.snaps = snaps
        self.input_dir = bench.path(label, "input")
        self.work_dir = bench.path(label, "work")
        os.makedirs(self.input_dir)
        self.inc = IncrementalRollup(self.spark, self.input_dir, self.work_dir)
        self.next = 1

    def commit(self) -> int:
        """Snapshot becomes visible -> process_pending (+ heal after an
        out-of-order snapshot). Returns the snapshot's turns."""
        k = self.next
        self.snaps.reveal(k, self.input_dir)
        self.inc.process_pending()
        if k in self.snaps.heal_after:
            self.inc.heal()
        self.next += 1
        return self.snaps.turns[k - 1]

    def store(self) -> Store:
        return Store(lambda: self.inc.packed_tier("1m"), self.inc.serve)

    def check(self, ref: BatchReference) -> bool:
        """Every tier and the packed 1m tier equal the batch recompute over
        all visible snapshots, compared by digest."""
        ok = all(
            table_digest(self.inc.tier(t), TIER_COLS) == table_digest(ref.tiers[t], TIER_COLS)
            for t in TIERS
        )
        return ok and table_digest(self.inc.packed_tier("1m"), PACKED_COLS) == table_digest(
            ref.packed_1m, PACKED_COLS
        )


class Backfill:
    """One batch job per operation: read -> derive_turn_metrics ->
    rollup_cascade -> pack_tier (1m, 1h) -> write_tier."""

    name = "backfill"

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.passes: list[str] = []

    def setup(self) -> None:
        self.fixture = materialise_fixture(self.b)
        with self.b.setup_step("inputs_s"):
            keys = turn_keys(self.spark, self.fixture)
            self.n_turns = len(keys)
        rng = random.Random(self.b.seed)
        self.sample_convs = [f"conv_{c:08d}" for c in rng.sample(range(SPEC.n_convs), 4)]
        self.queries = QueryMix(self.b.seed, keys)
        with self.b.setup_step("warmup_s"):
            out = self.b.path("warmup")
            self.run_pass(out)
            shutil.rmtree(out)

    def run_pass(self, out: str) -> None:
        raw = read_transcripts_table(self.spark, self.fixture)
        # rollup_cascade's contract: callers persist its input
        m = derive_turn_metrics(raw).persist()
        tiers = rollup_cascade(m)
        for t in TIERS:
            write_tier(tiers[t], os.path.join(out, "tiers"))
        for t in PACK_TIERS:
            write_tier(pack_tier(m, t), os.path.join(out, "packed"))
        m.unpersist()

    def written_store(self, out: str) -> Store:
        spark = self.spark
        tiers = os.path.join(out, "tiers")
        return Store(
            lambda: read_tier(spark, os.path.join(out, "packed"), tier="1m"),
            lambda now: serve_tiered({t: read_tier(spark, tiers, tier=t) for t in TIERS}, now),
        )

    def exhausted(self) -> bool:
        return False

    def op(self, i: int) -> int:
        out = self.b.path("backfill", f"pass_{i}")
        self.passes.append(out)
        self.run_pass(out)
        return self.n_turns

    def store(self) -> Store:
        return self.written_store(self.passes[-1])

    def check_pass(self, out: str) -> bool:
        """Each tier's sum(n_points) and each packed tier's points equal the
        turn count; a decoded sample of 1m blobs passes the Xn check."""
        spark = self.spark
        tiers = spark.read.parquet(os.path.join(out, "tiers"))
        per_tier = {r[0]: r[1] for r in tiers.groupBy("tier").agg(F.sum("n_points")).collect()}
        packed = spark.read.parquet(os.path.join(out, "packed"))
        stats = {
            r["tier"]: (int(r["b"]), int(r["p"]))
            for r in packed.groupBy("tier")
            .agg(F.sum(F.length("payload")).alias("b"), F.sum("n_points").alias("p"))
            .collect()
        }
        ok = all(per_tier.get(t) == self.n_turns for t in TIERS) and all(
            stats.get(t, (0, 0))[1] == self.n_turns for t in PACK_TIERS
        )
        b, p = (sum(stats[t][i] for t in PACK_TIERS if t in stats) for i in (0, 1))
        self.packed_bytes_per_point = b / p if p else 0.0
        rows = (
            packed.filter((F.col("tier") == "1m") & F.col("conv_id").isin(self.sample_convs))
            .select("payload", "xn", "n_points")
            .collect()
        )
        lens = np.array([len(r["payload"]) for r in rows], dtype=np.int64)
        data = np.frombuffer(b"".join(bytes(r["payload"]) for r in rows), dtype=np.uint8)
        blob_pts, point_off, _, streams = decode_concat(
            data, np.cumsum(lens) - lens, np.cumsum(lens)
        )
        xn = np.array([r["xn"] for r in rows], np.int64).view(np.uint64)
        try:
            check_xn(streams, point_off, xn)
        except ValueError:
            return False
        return ok and int(blob_pts.sum()) == sum(r["n_points"] for r in rows) > 0

    def check(self, timed_queries) -> int:
        self.stored_bytes_per_turn = dir_stats(self.passes[-1])[0] / self.n_turns
        failed = sum(0 if self.check_pass(p) else 1 for p in self.passes)
        ref = BatchReference(derive_turn_metrics(read_transcripts_table(self.spark, self.fixture)))
        failed += self.queries.failures(timed_queries, ref.store)
        ref.close()
        for p in self.passes:
            shutil.rmtree(p, ignore_errors=True)
        return failed


class Ingest:
    """Snapshot commits on time-ordered snapshots of the fixture: the
    warm-up commits a snapshot that withholds a few seeded conversations'
    turns; the timed operation commits the next snapshot, which delivers
    them out of order, and heals."""

    name = "ingest"

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.commits = 0

    def setup(self) -> None:
        self.fixture = materialise_fixture(self.b)
        with self.b.setup_step("inputs_s"):
            self.snaps = make_snapshots(
                self.spark, self.fixture, self.b.path("stage"), INGEST_SHARES,
                INGEST_WITHHOLD, self.b.seed,
            )
            self.pipe = Pipeline(self.b, self.snaps, "ingest")
        self.queries = QueryMix(self.b.seed, self.snaps.through(INGEST_MEASURED))
        with self.b.setup_step("warmup_s"):
            self.pipe.commit()  # snapshot 1, untimed

    def exhausted(self) -> bool:
        return self.pipe.next > INGEST_MEASURED

    def op(self, i: int) -> int:
        self.commits += 1
        return self.pipe.commit()

    def store(self) -> Store:
        return self.pipe.store()

    def check(self, timed_queries) -> int:
        visible = Snapshots.visible_paths(self.pipe.input_dir)
        ref = BatchReference(batch_metrics(self.spark, visible))
        committed = sum(self.snaps.turns[: self.pipe.next - 1])
        self.stored_bytes_per_turn = dir_stats(self.pipe.work_dir)[0] / committed
        ok = self.pipe.check(ref)
        failed = (0 if ok else self.commits) + self.queries.failures(timed_queries, ref.store)
        # the pipeline's packed 1m tier equals the reference's when ok
        b, p = payload_bytes_points(ref.packed_1m) if ok else (0, 0)
        self.packed_bytes_per_point = b / p if p else 0.0
        ref.close()
        return failed


WORKLOADS = {w.name: w for w in (Backfill, Ingest)}
