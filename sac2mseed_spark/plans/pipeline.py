"""Incremental, resumable tier maintenance over snapshot batches.

Iceberg stand-in for the sandbox: the input "table" is a directory of
snapshot subdirectories (``snap_00000001/``, ``snap_00000002/``, … each a
parquet dir of new transcript rows — the shape an Iceberg incremental read
between two snapshot ids yields). The engine state is:

  tiers/d{n}/tier={t}/     aggregate tiers: ONE MERGE-on-read delta chain,
                           every tier in each entry (one partitioned write)
  packed/d{n}/tier={t}/    packed-payload tiers, the same form
  state/d{n}/              per-conversation carry state, the same chain form
  metrics/                 append-only rollup-count + lineage table (per
                           snapshot and tier: running totals, source files,
                           wall, out-of-order conversations, chain length)
  retention/               eviction-sweep accounting table
  heal_pending/d{n}/       conversations flagged out-of-order at snapshot n
  _checkpoint.json         atomically-committed resume token

EVERY table family is a delta chain of numbered entries: every commit
and every heal writes ONLY the rows it touches to the next entry,
``d{n}``, of each family, where n is one past the checkpoint's entry
counter ``entries`` — the stand-in for Iceberg's one snapshot sequence,
in which every MERGE, a commit's or a heal's, is the next snapshot.
Reads resolve latest-entry-wins per key (aggregate and packed tiers key
on (tier, conv_id, window_start_us); conv state keys on conv_id). There are
three families whatever ``TIERS`` and ``pack_tiers`` hold, and one
writer (``_write_entries``) fills an entry of each from per-turn metrics:
one resolve, one MERGE and one write per family. Each write's files
follow the size rule of sinks/tier_tables.table_writer — a leaf of a
small entry (``state/d{n}``, ``tiers/d{n}/tier={t}``) is one file,
whatever the session's shuffle parallelism — except the packed write's,
one per task of its pack. The tier MERGE is the
one tier aggregate, ``merge_tiers``, over the previous rows of the
touched windows ∪ the delta's turns as one-point rows of every tier
(operators/rollup.py). A chain is resolved in ONE scan of its entries
(of a window-keyed chain, of the ``tier={t}`` leaf dirs the read needs),
each row ranked by the entry directory it was read from; a commit's
resolves are fused into the exchanges of their consumers (below).
Per-snapshot write volume is therefore proportional to the delta, not
the table — the reference merges into only the touched trace the same way
(/root/reference/libmseed/tracelist.c:135-606 fast paths), and an Iceberg
deployment expresses the same chain as MERGE + positional deletes (no
Iceberg jars in this sandbox, so parquet dirs + this resolver stand in).
``compact()`` is the rewrite_data_files analogue that folds a long chain
into one entry: the next numbered entry, like a commit's or a heal's.

Cross-snapshot state (libmseed's StreamState, libmseed.h:458-465): each
snapshot also writes the touched conversations' new ``(conv_id,
last_turn_idx, last_ts_us)``. The next commit unions each of its
conversations' latest last turn into the snapshot's turns as a
``_carried`` row, so the metrics' own lag window gives the first
continued turn its true inter-turn latency — exactly how record N+1's
first Steim difference is seeded from record N's last sample
(pack.c:1003-1039). The writers drop the carried rows after the conv
state has read them. With that carry, the merged tiers are
bit-identical to a full batch recompute over all snapshots for
append-ordered input (tests assert).

Out-of-order input and the heal pass (the mst_groupheal analogue,
/root/reference/src/../libmseed/traceutils.c:776-915): a snapshot whose
minimum turn_idx for a conversation is <= its carried turn's is
out-of-order — its within-snapshot latencies were derived against the
wrong predecessor. ``_process_one`` still rolls it in (the aggregate
merge is order-insensitive in structure, only the affected latency VALUES
are provisional). The flag is a column of the conv-state delta; an
observation on that write brings the flagged conv_ids back to the
driver, which writes them under ``heal_pending/`` when there are any.
``heal()`` then
re-derives ONLY those conversations from all raw snapshots and writes
them as the next entry of every table family, ranked after everything
before it. A heal is a commit without previous rows: the same writer,
given the conversations' whole history, no carried state and nothing to
merge with. A second heal at the same snapshot version (flags routed by
the streaming path) is simply a later entry: it overrides only its own
conversations' rows. Afterwards all tiers are byte-identical to a full
recompute (tests assert), and incremental processing resumes unchanged.

Retention (downsample-and-expire): ``apply_retention`` commits per-tier
eviction BOUNDS into the checkpoint — eviction is a pure predicate on
window_start_us (operators/retention.retained) applied by every chain
read and every write, i.e. the metadata-only
``DELETE WHERE window_start_us < bound`` of operators/retention.py, with
the sweep accounting row written to ``retention/``. No data files are
touched until ``compact()`` reclaims the space physically.

Resume protocol (the fpos analogue, /root/reference/libmseed/
fileutils.c:367-384, recast as snapshot ids per the north rule):

  1. read _checkpoint.json -> last committed version v, entry counter n
  2. for snapshot v+1: remove every family dir above n, then write the
     d{n+1} entry of every family — BEFORE the checkpoint advances
  3. append metrics, then atomic-rename the new _checkpoint.json
     (version v+1, entries n+1)

A crash between (2) and (3) leaves orphan d{n+1} directories that the
rerun removes before it writes — re-aggregation is deterministic and the
merge is integer-exact-associative (operators/rollup.py contract), so
replaying a snapshot is idempotent: the chain resolver never reads past
the committed counter, so nothing is double-counted. A heal and a
compaction follow the same three steps without a snapshot (a compaction
then deletes the entries below its own). Rollup-count totals in
the metrics table are maintained ARITHMETICALLY (previous committed
totals + the windows and points of each tier the MERGE wrote minus those
of the previous rows it replaced, crash-safe inside the same checkpoint),
never by re-scanning the table: both figures come from
``DataFrame.observe`` on the MERGE write itself — each output row carries
the ``n_points`` of the row it replaced — so a commit runs no
bookkeeping job.

A commit's Spark actions are its three family writes, nothing else:
``state`` (the conv-state entry), ``tiers`` (the MERGE) and ``pack`` (the
packed re-encode). Each carries a job description naming its phase
(``commit d00000002 tiers``, ``heal d00000002 pack``, ``compact tiers``);
a commit and a heal share these three phases. ``state`` runs first: it
builds the persisted frame's cache, which the other two only read, so
``tiers`` and ``pack`` then run together (``_together``: one in the
caller's thread, the other in a ``pyspark.InheritableThread``, which
carries the caller's job group over). Both are joined before an error
of either is re-raised, and before the totals, the heal flags and the
checkpoint are written, so a failed write leaves debris above the
counter like any crash. A compaction's three family writes run
together the same way: no family reads another.

What the driver already holds it writes itself, with pyarrow
(sinks/tier_tables.write_driver_table): the heal flags, from the state
write's observation; the ``metrics/`` rows, from the checkpoint's totals
and the snapshot's file listing; a retention sweep's ``retention/``
accounting, from the sweeps' collected rows. A Spark write of such rows
would start a job and a Python worker for a few rows.

The jobs of a commit are fixed costs, so each is cut where it arises:

  * schema-on-read: every parquet read takes its schema from the footer
    of its first data file, read with pyarrow (sources/tables
    .read_parquet — the one footer Spark reads itself with
    ``mergeSchema`` off), so the ``read`` and ``state read`` phases of a
    commit and a heal's ``read`` start no job. Their semi-joins take
    plain key columns: a left-semi join needs no unique keys, and a
    ``distinct`` would be a shuffle;
  * every commit resolve is fused into its consumer's exchange: the
    resolve returns the touched rows of EVERY chain entry with their
    entry rank and no latest-wins window. ``merge_tiers`` takes each
    window's latest previous row per statistic (``max_by(value, rank)``)
    in the same partial + final hash aggregate that merges the turn rows
    — one exchange on the window keys where a window and the aggregate
    took two; the state and packed resolves follow;
  * the heal flags are read by the driver (pyarrow: a few small files),
    and the snapshots' scan filters on the flagged conv_ids — no join;
  * one persisted frame per commit and per heal (``_turn_metrics``): the
    per-turn delta with its carried turns, only the columns the writers
    read (``SLIM_COLS``) plus the ``_carried`` flag. The state read is
    fused into it like the tier resolve: it returns every entry's state
    rows of the touched conversations, ranked, and a ``max(RANK)``
    window over conv_id keeps each conversation's latest carried row —
    in the lag window's exchange and sort, with the stateless metrics
    computed below both so no ``text`` is shuffled. The conv state is
    one ``groupBy("conv_id")`` over the frame, which needs no exchange
    because the cache is hash-partitioned on conv_id by those windows,
    and no join: the carry is a row of the frame, not a column;
  * the packed chain is resolved into the pack the same way: every
    entry's blobs of the touched conversations, ranked, of every pack
    tier, ride in one union with the delta's points through ONE pack
    (``pack_points``) — one conv_id exchange, one sort, one kernel pass
    that takes each window's latest blob, restores its old points'
    turn_idx from the earlier windows' point counts and decodes only
    the windows with a new point. One plan shape, and as many jobs for
    two pack tiers as for one.

Reads never see uncommitted data, and never write: every chain entry,
a commit's, a heal's or a compaction's, is invisible until the
atomically-swapped checkpoint's ``entries`` counter reaches it. Crash
debris above the counter is removed by the next writer before it writes
(``_gc_uncommitted``), so the counter never passes an entry it did not
commit. A compaction's entry holds the latest row of every key above the
committed retention bounds and ranks above every older entry, so the
older entries it deletes after its checkpoint are shadowed or
read-filtered: a crash partway through the deletes leaves a chain that
reads the same, which ``chain_length`` still counts and the next
compaction folds.

``compact()`` runs automatically when any family's chain exceeds
``max_chain`` entries after a commit or a heal (ctor policy) — bounding
the per-read latest-wins resolve at O(max_chain) deltas — and remains
callable as an explicit maintenance action.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from contextlib import contextmanager
from functools import partial, reduce

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .. import TIERS
from ..functions.metrics import SLIM_COLS, turn_values, turn_window, with_latency
from ..operators.pack import pack_points, tier_points
from ..operators.retention import (
    retained,
    retention_bounds,
    retention_sweep,
    serve_tiered,
)
from ..operators.rollup import RANK, REPLACED_POINTS, merge_tiers, turn_rows
from ..sinks.tier_tables import table_writer, write_driver_table
from ..sources.tables import read_parquet

_SNAP_RE = re.compile(r"^snap_(\d+)$")
# d{n}: the n-th entry of a chain (and a snapshot's heal flags)
_DELTA_RE = re.compile(r"^d(\d+)$")

# latest-wins keys: a window-keyed family holds every tier in one chain
_WINDOW_KEYS = ["tier", "conv_id", "window_start_us"]
_CONV_KEYS = ["conv_id"]
# chain entry of a row: the d{n:08d} directory holding its file; in a
# window-keyed family, its tier: the tier={t} leaf dir between entry and
# file
_ENTRY_RE = r"/d([0-9]{8})/(?:tier=([^/]+)/)?[^/]+$"

# the rows a commit writes to ``metrics/``, one per tier
_METRICS_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("snapshot_id", pa.int32()),
        ("tier", pa.string()),
        ("n_windows", pa.int64()),
        ("n_points", pa.int64()),
        ("lineage", pa.string()),
        ("wall_s", pa.float64()),
        ("ooo_convs", pa.int64()),
        ("chain_len", pa.int32()),
    ]
)
# the conversations a commit flags for heal()
_PENDING_SCHEMA = pa.schema([("conv_id", pa.string())])
# a retention sweep's accounting rows, one per swept tier
_SWEEP_SCHEMA = pa.schema(
    [
        ("swept_at_us", pa.int64()),
        ("tier", pa.string()),
        ("n_kept", pa.int64()),
        ("n_evicted", pa.int64()),
        ("pts_kept", pa.int64()),
        ("pts_evicted", pa.int64()),
    ]
)


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def _turn_metrics(raw: DataFrame, carry: DataFrame | None = None) -> DataFrame:
    """The one frame a commit or a heal persists: the per-turn metrics of
    the transcript rows ``raw``, only the columns the writers read
    (``SLIM_COLS``) and ``_carried``. ``carry`` holds the conv state rows
    of every chain entry, ranked (conv_id, last_turn_idx, last_ts_us,
    ``RANK``); each conversation's latest one, its highest rank, is added
    to the turns as its committed last turn, flagged ``_carried``, so the
    lag window gives the first continued turn its true latency. The latest
    carried row is picked by a window over conv_id in the lag window's
    order, so the two windows share one exchange and one sort; the
    stateless metrics are computed below both, so the raw text, role and
    tool are pruned below that exchange."""
    turns = raw.withColumn("_carried", F.lit(False))
    if carry is not None:
        last = carry.select(
            "conv_id",
            F.col("last_turn_idx").alias("turn_idx"),
            F.timestamp_micros("last_ts_us").cast(raw.schema["ts"].dataType).alias("ts"),
            F.lit(True).alias("_carried"),
            RANK,
        )
        turns = turns.unionByName(last, allowMissingColumns=True)
    turns = turn_values(turns)
    if carry is not None:
        conv = turn_window().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        turns = (
            turns.withColumn("_latest", F.max(RANK).over(conv))
            .filter(~F.col("_carried") | (F.col(RANK) == F.col("_latest")))
            .drop(RANK, "_latest")
        )
    return with_latency(turns).select(*SLIM_COLS, "_carried").persist()


def _together(*writes) -> None:
    """Run the ``writes`` (callables) at once: the first in the caller's
    thread, each other in a ``pyspark.InheritableThread``, which carries
    the caller's job group and job description over to its own JVM
    thread. Every thread is joined before the first error is re-raised,
    so no write is still running when the caller sees it."""
    errors = []

    def run(write):
        try:
            write()
        except BaseException as e:  # re-raised after the join
            errors.append(e)

    threads = [InheritableThread(run, args=(w,)) for w in writes[1:]]
    for t in threads:
        t.start()
    run(writes[0])
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _write_by_tier(df: DataFrame, path: str) -> None:
    """Write one entry of a window-keyed family: a ``tier={t}`` leaf per
    tier with rows, its files by the size rule (sinks/tier_tables
    .table_writer). An entry with no row at all gets an empty ``tier=``
    leaf instead (no tier reads it by name), so a read of a tier without
    rows still finds the family's columns."""
    table_writer(df, _WINDOW_KEYS).partitionBy("tier").mode("overwrite").parquet(path)
    if not any(n.startswith("tier=") for n in os.listdir(path)):
        schema = df.drop("tier").schema
        table_writer(df.sparkSession.createDataFrame([], schema)).parquet(
            os.path.join(path, "tier=")
        )


def _observe_totals(merged: DataFrame, obs: Observation) -> DataFrame:
    """``merged`` (a MERGE's output rows of any tiers) with what it adds
    to each tier's running totals observed by ``obs``: ``w_{t}`` windows
    (those without a replaced row) and ``p_{t}`` points (minus the
    ``REPLACED_POINTS`` of the row each replaced)."""
    rep = F.col(REPLACED_POINTS) if REPLACED_POINTS in merged.columns else F.lit(None)
    added = F.col("n_points") - F.coalesce(rep, F.lit(0))
    is_t = {t: F.col("tier") == t for t in TIERS}
    return merged.observe(
        obs,
        *[F.count_if(c & rep.isNull()).alias(f"w_{t}") for t, c in is_t.items()],
        *[
            F.coalesce(F.sum(F.when(c, added)), F.lit(0)).alias(f"p_{t}")
            for t, c in is_t.items()
        ],
    )


def _observed(obs: Observation, *names: str) -> tuple:
    """The named metrics the finished action reported for ``obs``. A metric
    the plan did not report (its observed node was optimised away) raises:
    a running total must never silently count it as 0."""
    try:
        got = obs.get
    except Py4JJavaError:  # the action reported no row for ``obs``
        got = {}
    missing = [n for n in names if got.get(n) is None]
    if missing:
        raise RuntimeError(f"observation reported no value for {missing}")
    return tuple(got[n] for n in names)


def list_snapshots(input_dir: str) -> list[tuple[int, str]]:
    out = []
    for name in sorted(os.listdir(input_dir)):
        m = _SNAP_RE.match(name)
        if m:
            out.append((int(m.group(1)), os.path.join(input_dir, name)))
    return out


class IncrementalRollup:
    """Resumable snapshot-by-snapshot tier maintenance with lineage.

    Maintains aggregate tiers, packed payload tiers, and conversation
    carry state as MERGE-on-read delta chains (module doc). Packed-tier
    snapshots re-encode ONLY the windows the delta touches (windows are
    self-delimiting, so untouched blobs are reusable as-is — the
    reference's incremental record emission,
    /root/reference/libmseed/pack.c:70-395): re-encoding a touched window
    decodes its previous blob, restores each old point's turn_idx from
    the conversation's cumulative window point counts (metadata only —
    no other window is decoded), unions the delta points, and packs.
    The result is byte-identical to a full batch pack_tier over all
    snapshots (tests assert).

    Preconditions for the incremental fast path: append-ordered
    snapshots, dense per-conversation turn_idx from 0, ts monotone
    w.r.t. turn_idx. Out-of-order input is detected per conversation and
    repaired by ``heal()`` (module doc) rather than silently corrupting
    the fast path.
    """

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        work_dir: str,
        pack_tiers: tuple[str, ...] = ("1m",),
        max_chain: int | None = 8,
    ):
        self.spark = spark
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.pack_tiers = tuple(pack_tiers)
        # auto-compaction policy: after a commit or a heal, if any family's
        # chain exceeds this many entries, compact() runs inline (None
        # disables). Bounds the entries every chain resolve scans: a
        # commit's fused resolves carry the touched rows of every entry,
        # and a read ranks every entry's rows in a row_number window —
        # without it, hourly snapshots grow ~720 dirs/family/month
        # between manual maintenance windows.
        self.max_chain = max_chain
        os.makedirs(work_dir, exist_ok=True)
        self.ckpt_path = os.path.join(work_dir, "_checkpoint.json")

    # -- checkpoint -----------------------------------------------------
    def _read_ckpt(self) -> dict:
        if not os.path.exists(self.ckpt_path):
            return {
                "version": 0,
                "entries": 0,
                "run_id": str(uuid.uuid4()),
                "totals": {},
                "retention_bounds": {},
            }
        with open(self.ckpt_path) as f:
            return json.load(f)

    def _commit_ckpt(self, state: dict) -> None:
        tmp = self.ckpt_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.ckpt_path)  # atomic commit

    @contextmanager
    def _phase(self, desc: str):
        """Describe the Spark jobs started inside as engine phase ``desc``
        (e.g. ``commit d00000002 tiers``). The caller's description
        is restored afterwards; its job group is left alone."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(desc)
        try:
            yield
        finally:
            sc.setJobDescription(prev)

    # -- chain layout ---------------------------------------------------
    def _base(self, family: str) -> str:
        """Root of ``family``: a chain (``tiers``, ``packed``, ``state``),
        the ``heal_pending`` flags or a table written with pyarrow
        (``metrics``, ``retention``)."""
        return os.path.join(self.work_dir, family)

    def _delta_path(self, base: str, n: int) -> str:
        return os.path.join(base, f"d{n:08d}")

    def _compact_jobs(self) -> list[tuple[str, list[str]]]:
        """(base, latest-wins keys) of the three chained table families."""
        return [
            (self._base("tiers"), _WINDOW_KEYS),
            (self._base("packed"), _WINDOW_KEYS),
            (self._base("state"), _CONV_KEYS),
        ]

    def _chain_dirs(self, base: str, entries: int) -> list[str]:
        """The committed entries of a chain, ``d{n}`` with n <= ``entries``
        (the checkpoint's counter), in ascending order. An entry above the
        counter is the debris of a commit, heal or compaction that crashed
        before its checkpoint: invisible to every read (no torn reads — the
        module doc's reads-never-see-uncommitted-data invariant), and
        removed by ``_gc_uncommitted`` before the next writer writes.
        Entries below a compaction's that a crash left undeleted are
        listed too: shadowed, they read the same."""
        if not os.path.isdir(base):
            return []
        found = []
        for name in os.listdir(base):
            m = _DELTA_RE.match(name)
            if m and int(m.group(1)) <= entries:
                found.append((int(m.group(1)), name))
        return [os.path.join(base, name) for _, name in sorted(found)]

    def _resolve_chain(
        self,
        base: str,
        entries: int,
        keys: list[str],
        touched: DataFrame | None = None,
        bounds: dict | None = None,
        tiers: tuple[str, ...] | None = None,
        ranked: bool = False,
    ) -> DataFrame | None:
        """MERGE-on-read: one scan of the chain's entries <= ``entries``,
        latest entry wins per key. Each row is ranked by the number n of
        the entry ``d{n}`` its file lives in (``_metadata.file_path``).
        ``ranked`` returns every entry's rows with their rank in ``RANK``
        instead of the latest row per key: a fused MERGE (``merge_tiers``)
        resolves them in its own aggregate. ``touched`` semi-joins the
        scan, on its columns, down to the rows a merge needs, so the rows
        shuffled are delta-sized: the keys themselves, or just conv_id when
        the caller needs every window of the touched conversations (the
        packed re-encode path).

        A window-keyed family (``keys`` lead with ``tier``) is read from
        the ``tier={t}`` leaf dirs of its entries, only those of ``tiers``
        (default: all), and its ``tier`` column, last, comes from the
        path; if no entry holds a row of ``tiers``, the result is an empty
        frame of the family's columns. ``bounds`` (tier -> bound) applies
        the committed retention predicate (operators/retention.retained)."""
        dirs = self._chain_dirs(base, entries)
        by_tier = keys[0] == "tier"
        empty = False
        if by_tier:
            leaves = [
                (n[len("tier="):], os.path.join(d, n))
                for d in dirs
                for n in sorted(os.listdir(d))
                if n.startswith("tier=")
            ]
            dirs = [p for t, p in leaves if tiers is None or t in tiers]
            empty = not dirs
            dirs = dirs or [p for _, p in leaves[:1]]
        if not dirs:
            return None
        path = F.col("_metadata.file_path")
        df = read_parquet(self.spark, *dirs).withColumn(
            RANK, F.regexp_extract(path, _ENTRY_RE, 1).cast("long")
        )
        if by_tier:
            df = df.withColumn("tier", F.regexp_extract(path, _ENTRY_RE, 2))
            if bounds:
                df = df.filter(retained(bounds))
        if empty:
            df = df.limit(0)
        if touched is not None:
            df = df.join(touched, touched.columns, "left_semi")
        if ranked:
            return df
        w = Window.partitionBy(*keys).orderBy(F.desc(RANK))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop(RANK, "_rn")
        )

    # -- readers --------------------------------------------------------
    def conv_state(self) -> DataFrame | None:
        state = self._read_ckpt()
        return self._resolve_chain(self._base("state"), state["entries"], _CONV_KEYS)

    def tier(self, tier: str) -> DataFrame | None:
        state = self._read_ckpt()
        return self._read_family("tiers", tier, state)

    def packed_tier(self, tier: str) -> DataFrame | None:
        state = self._read_ckpt()
        return self._read_family("packed", tier, state)

    def _read_family(self, family: str, tier: str, state: dict) -> DataFrame | None:
        """One tier of a window-keyed family as committed in ``state`` (the
        checkpoint the public call read), with the committed retention
        bounds."""
        return self._resolve_chain(
            self._base(family),
            state["entries"],
            _WINDOW_KEYS,
            bounds=state["retention_bounds"],
            tiers=(tier,),
        )

    def _read_tiers(self, state: dict) -> dict[str, DataFrame]:
        """Every aggregate tier as committed in ``state`` (none
        before the first commit)."""
        tiers = ((t, self._read_family("tiers", t, state)) for t in TIERS)
        return {t: df for t, df in tiers if df is not None}

    def metrics_table(self) -> DataFrame | None:
        return self._read_listed("metrics", "snap_")

    def retention_table(self) -> DataFrame | None:
        return self._read_listed("retention", "sweep_")

    def _read_listed(self, family: str, prefix: str) -> DataFrame | None:
        """The ``{prefix}*`` dirs of ``family``, a table written with
        pyarrow (one dir per commit or sweep; none yet: None), read by the
        driver with pyarrow into a local relation: no job to build or to
        collect, however many dirs there are. The schema is the newest
        dir's, and a dir written before a column existed reads that column
        as null."""
        p = self._base(family)
        names = os.listdir(p) if os.path.isdir(p) else []
        dirs = sorted((n for n in names if n.startswith(prefix)), reverse=True)
        if not dirs:
            return None
        tables = [pq.read_table(os.path.join(p, n)) for n in dirs]
        table = pa.concat_tables(tables, promote_options="default")
        return self.spark.createDataFrame(table.select(tables[0].schema.names))

    # -- processing -----------------------------------------------------
    def process_pending(self) -> int:
        """Roll every unprocessed snapshot into the tier tables; returns
        the number of snapshots processed. Safe to call after a crash."""
        state = self._read_ckpt()
        done = 0
        for snap_id, snap_path in list_snapshots(self.input_dir):
            if snap_id <= state["version"]:
                continue
            self._process_one(state, snap_id, snap_path)
            state["version"] = snap_id
            self._commit_ckpt(state)
            done += 1
            self._bound_chain(state)
        return done

    def _process_one(self, state: dict, snap_id: int, snap_path: str) -> None:
        t0 = time.time()
        tag = f"commit d{snap_id:08d}"
        with self._phase(f"{tag} read"):
            raw = read_parquet(self.spark, snap_path)
        # StreamState carry: each touched conversation's committed last
        # turn joins the snapshot as a row of its own, so the metrics' lag
        # window seeds the first continued turn's latency from it. The
        # state read is delta-sized too: only the snapshot's own
        # conversations are read down the chain, every entry's row ranked
        # (``_turn_metrics`` keeps the latest).
        with self._phase(f"{tag} state read"):
            carry = self._resolve_chain(
                self._base("state"),
                state["entries"],
                _CONV_KEYS,
                touched=raw.select("conv_id"),
                ranked=True,
            )
        delta_m = _turn_metrics(raw, carry)
        _, ooo_convs = self._write_entries(state, snap_id, tag, delta_m)
        wall = time.time() - t0
        delta_m.unpersist()

        # lineage: what the commit did, from driver-side facts only
        lineage = ",".join(
            sorted(f for f in os.listdir(snap_path) if f.endswith(".parquet"))
        )
        chain_len = self.chain_length(state)
        # keyed-by-snapshot OVERWRITE, not a blind append: a crash between
        # this write and the checkpoint commit makes the rerun rewrite the
        # same directory instead of double-appending the snapshot's rows —
        # metrics share the tier tables' replay-idempotence guarantee.
        write_driver_table(
            [
                {
                    "run_id": state["run_id"],
                    "snapshot_id": snap_id,
                    "tier": tier,
                    **state["totals"][tier],
                    "lineage": lineage,
                    "wall_s": wall,
                    "ooo_convs": ooo_convs,
                    "chain_len": chain_len,
                }
                for tier in TIERS
            ],
            _METRICS_SCHEMA,
            os.path.join(self._base("metrics"), f"snap_{snap_id:08d}"),
        )

    def _write_entries(
        self,
        state: dict,
        version: int,
        tag: str,
        metrics: DataFrame,
        heal: bool = False,
    ) -> tuple[int, int]:
        """Write the next entry ``d{n}`` of every table family, n one past
        ``state["entries"]``, from the per-turn ``metrics`` of the
        conversations it touches (``_turn_metrics``): their conv state,
        their windows of every tier, their blobs of every pack tier. The
        family dirs above the committed counter (a crashed write) are
        removed first. A commit of snapshot ``version`` merges with what
        is committed — the carried last turns (the ``_carried`` rows of
        ``metrics``) and the touched windows' rows — keeps the running
        totals and flags its out-of-order conversations under
        ``heal_pending/d{version}``. A heal holds its
        conversations' whole history, so it has no carried rows and no
        previous rows, and it changes no window's count or points, so the
        totals stand. Late data behind a committed retention bound is
        dropped: it would be read-filtered and eviction-eligible anyway,
        and admitting it would let the totals drift from what reads see.
        Advances ``state["entries"]`` to n, for the caller to commit.
        Returns (conversations written, of them out of order)."""
        self._gc_uncommitted(state)
        n = state["entries"] + 1
        bounds = state["retention_bounds"]
        # conv state: each conversation's new last turn, the latest of its
        # carried and new turns, plus the out-of-order flag (heal trigger,
        # module doc): a new turn at or before the carried last turn means
        # this conversation's derived latencies are provisional until
        # heal(). One aggregate over ``metrics``, which the lag window left
        # clustered on conv_id.
        carried = F.col("_carried")
        conv = metrics.groupBy("conv_id").agg(
            F.max(F.struct("turn_idx", "ts_us")).alias("_l"),
            F.coalesce(
                F.min(F.when(~carried, F.col("turn_idx")))
                <= F.max(F.when(carried, F.col("turn_idx"))),
                F.lit(False),
            ).alias("_ooo"),
        ).select(
            "conv_id",
            F.col("_l.turn_idx").alias("last_turn_idx"),
            F.col("_l.ts_us").alias("last_ts_us"),
            "_ooo",
        )
        # the state write's observation also brings the flagged
        # conversations back (a list bounded by the snapshot's
        # out-of-order conversations, each of which heal() re-derives
        # anyway); the driver writes them as the heal flags.
        conv_obs = Observation()
        with self._phase(f"{tag} state"):
            table_writer(
                conv.observe(
                    conv_obs,
                    F.count(F.lit(1)).alias("n"),
                    F.collect_list(F.when(F.col("_ooo"), F.col("conv_id"))).alias("ooo"),
                ).drop("_ooo"),
                _CONV_KEYS,
            ).mode("overwrite").parquet(self._delta_path(self._base("state"), n))
        n_convs, ooo = _observed(conv_obs, "n", "ooo")

        # the state write has built ``metrics``' cache; the tier and pack
        # writes only read it, so they run together (``_together``) — run
        # beside the state write, each would build the cache itself.
        # tiers: ONE aggregate over the turn rows of every tier (a turn is
        # a one-point tier row) and, on a commit, every entry's ranked
        # previous rows of ONLY the windows they touch — a semi-join down
        # the chain, never a full-table read; the aggregate itself picks
        # each window's latest previous row. Running totals: previous
        # committed totals + what this write itself observed per tier —
        # windows and points it wrote minus those of the rows it
        # replaced. No re-read. The carried turns are committed already.
        metrics = metrics.filter(~carried)
        out_obs = Observation()

        def write_tiers():
            rows = _union([turn_rows(metrics, t) for t in TIERS]).filter(retained(bounds))
            with self._phase(f"{tag} tiers"):
                prev = None if heal else self._resolve_chain(
                    self._base("tiers"),
                    state["entries"],
                    _WINDOW_KEYS,
                    touched=rows.select(*_WINDOW_KEYS),
                    bounds=bounds,
                    ranked=True,
                )
                if prev is not None:
                    rows = prev.unionByName(rows, allowMissingColumns=True)
                _write_by_tier(
                    _observe_totals(merge_tiers(rows), out_obs).drop(REPLACED_POINTS),
                    self._delta_path(self._base("tiers"), n),
                )

        def write_packed():
            with self._phase(f"{tag} pack"):
                self._write_packed(state, n, metrics, heal)

        _together(write_tiers, *([write_packed] if self.pack_tiers else []))
        if ooo:
            write_driver_table(
                [{"conv_id": c} for c in sorted(ooo)],
                _PENDING_SCHEMA,
                self._delta_path(self._base("heal_pending"), version),
            )
        if not heal:
            for t in TIERS:
                w, p = _observed(out_obs, f"w_{t}", f"p_{t}")
                tot = state["totals"].setdefault(t, {"n_windows": 0, "n_points": 0})
                tot["n_windows"] += w
                tot["n_points"] += p
        state["entries"] = n
        return n_convs, len(ooo)

    def _write_packed(self, state: dict, n: int, metrics: DataFrame, heal: bool) -> None:
        """Pack every pack tier's touched windows into entry ``d{n}`` in one
        write. A commit re-encodes only the windows its delta touches
        (class doc): the touched conversations' blobs of every chain
        entry, ranked, ride with the new points into the pack, whose
        kernel picks each window's latest blob, numbers its old points and
        decodes only the windows with a new point (operators/pack.py); a
        heal packs its conversations' whole history. The points of all
        pack tiers go through one pack."""
        bounds = state["retention_bounds"]
        # same retention drop as the aggregate tiers
        pts = _union([tier_points(metrics, t) for t in self.pack_tiers]).filter(
            retained(bounds)
        )
        # chain read pruned to the delta's CONVERSATIONS: all windows of a
        # touched conversation are needed to restore old points' turn_idx
        # from cumulative n_points; only the touched windows' payloads are
        # decoded
        prev = None if heal else self._resolve_chain(
            self._base("packed"),
            state["entries"],
            _WINDOW_KEYS,
            touched=metrics.select("conv_id"),
            bounds=bounds,
            tiers=self.pack_tiers,
            ranked=True,
        )
        if prev is not None:
            blobs = prev.select(*_WINDOW_KEYS, RANK, "n_points", "payload", "xn")
            pts = pts.unionByName(blobs, allowMissingColumns=True)
        _write_by_tier(pack_points(pts), self._delta_path(self._base("packed"), n))

    # -- heal (mst_groupheal analogue) ----------------------------------
    def heal(self) -> int:
        """Repair every conversation flagged out-of-order since the last
        heal: re-derive its per-turn metrics from ALL raw snapshots (the
        batch path is order-insensitive), then write them as the next
        entry of every table family — the commit's own writer
        (``_write_entries``) with no carry and no previous rows. The entry
        ranks after every earlier one, so it overrides only the healed
        conversations' rows, also when an earlier heal at the same
        snapshot version wrote other conversations. Afterwards all reads
        are byte-identical to a full recompute (tests assert) and
        incremental mode resumes.

        The reference's analogue walks a broken trace group and re-sorts
        / re-merges its segments in place with the merge it uses on
        insert (mst_groupheal, /root/reference/libmseed/traceutils.c:
        776-915; out-of-order insertion tracelist.c:392-556); here the
        "group" is the affected conversation set and the repair is a
        scoped batch recompute — O(affected conversations), never
        O(table).

        Crash-safe: the entry is INVISIBLE to chain reads until the
        checkpoint's ``entries`` counter reaches it, and the counter
        advances only after every family's dir is fully written, so a
        mid-heal crash leaves reads exactly as before the heal; the rerun
        removes the debris and writes the entry again. Like a commit, a
        heal is followed by the auto-compaction policy (``max_chain``).
        Returns the number of conversations healed, as observed on the
        conv-state write (one row per conversation)."""
        state = self._read_ckpt()
        v = state["version"]
        if v == 0:
            return 0
        # EVERY pending dir is due, regardless of version: heal deletes
        # the dirs it processed only AFTER its checkpoint commit, so a
        # leftover means "not certainly healed" and is re-healed (the
        # repair is deterministic — idempotent). Flags can also arrive
        # from the streaming path at an already-healed version
        # (streaming/rollup_stream.route_ooo_to_pending).
        base = self._base("heal_pending")
        pend_dirs = (
            [
                os.path.join(base, n)
                for n in sorted(os.listdir(base))
                if _DELTA_RE.match(n)
            ]
            if os.path.isdir(base)
            else []
        )
        if not pend_dirs:
            return 0
        tag = f"heal d{v:08d}"
        snap_paths = [p for sid, p in list_snapshots(self.input_dir) if sid <= v]
        # the flags are few (the flagged conversations) and small files,
        # most written by the driver itself: the driver reads them, and the
        # snapshots' scan filters on the list. A conversation flagged in
        # several pending dirs (or appended twice) is healed once.
        flags = [pq.read_table(d, columns=["conv_id"])["conv_id"] for d in pend_dirs]
        flagged = sorted({c for f in flags for c in f.to_pylist()})
        with self._phase(f"{tag} read"):
            raw = read_parquet(self.spark, *snap_paths).filter(F.col("conv_id").isin(flagged))
        healed_m = _turn_metrics(raw)
        n_convs, _ = self._write_entries(state, v, tag, healed_m, heal=True)
        healed_m.unpersist()
        self._commit_ckpt(state)
        # delete the processed pending dirs only now: a crash before this
        # point re-heals them (idempotent); deleting earlier could lose
        # flags. Dirs that appeared concurrently stay for the next heal.
        for p in pend_dirs:
            shutil.rmtree(p, ignore_errors=True)
        self._bound_chain(state)
        return n_convs

    # -- retention (downsample-and-expire) ------------------------------
    def apply_retention(self, now_us: int, horizons=None) -> DataFrame:
        """Evict expired windows per tier: commit the per-tier retention
        bound into the checkpoint (a pure predicate every chain read
        applies — the metadata-only DELETE of operators/retention.py;
        Iceberg drops the partitions in metadata the same way), update
        the running totals by the evicted counts, and write the sweep
        accounting to the ``retention/`` table — packed tiers get their
        own accounting rows (tier ``packed:{t}``, same horizon as the
        aggregate twin; their reads honor the same committed bound).

        Commit order: bounds + totals go into the checkpoint FIRST, the
        accounting parquet is written after — so ``retention_table`` never
        shows a sweep whose eviction did not commit (a crash between the
        two loses only the accounting row, and a rerun with the same
        ``now_us`` rewrites it keyed-idempotently). Physical space is
        reclaimed later by ``compact()``. Returns the accounting rows."""
        state = self._read_ckpt()
        # one resolve and one grouped sweep per family; packed rows are
        # named ``packed:{t}`` (windows are the unit of eviction for both
        # representations, so each shares its aggregate twin's bound)
        rows = []
        families = [("tiers", "", None)]
        if self.pack_tiers:
            families.append(("packed", "packed:", self.pack_tiers))
        for family, prefix, tiers in families:
            with self._phase(f"retention sweep {family}"):
                df = self._resolve_chain(
                    self._base(family),
                    state["entries"],
                    _WINDOW_KEYS,
                    bounds=state["retention_bounds"],
                    tiers=tiers,
                )
                if df is None:
                    continue
                swept = retention_sweep(df, now_us, horizons).collect()
            rows += sorted((prefix + r["tier"], r) for r in swept)
        for tier, lo in retention_bounds(now_us, horizons).items():
            old = state["retention_bounds"].get(tier)
            state["retention_bounds"][tier] = lo if old is None else max(old, lo)
        for tier, r in rows:
            tot = state["totals"].get(tier)
            if tot is not None:
                tot["n_windows"] -= int(r["n_evicted"])
                tot["n_points"] -= int(r["pts_evicted"])
        self._commit_ckpt(state)
        acct = write_driver_table(
            [{"swept_at_us": now_us, **r.asDict(), "tier": name} for name, r in rows],
            _SWEEP_SCHEMA,
            os.path.join(self._base("retention"), f"sweep_{now_us:020d}"),
        )
        # a local relation of the rows: no job, no Python worker
        return self.spark.createDataFrame(acct)

    def serve(self, now_us: int, horizons=None) -> DataFrame:
        """Age-banded serving view over the maintained tiers: the finest
        retained tier per age band (operators/retention.serve_tiered),
        read straight off the delta chains. Pure prunable predicates +
        union — the query a dashboard runs against this store."""
        state = self._read_ckpt()
        return serve_tiered(self._read_tiers(state), now_us, horizons)

    # -- maintenance ----------------------------------------------------
    def _gc_uncommitted(self, state: dict) -> None:
        """Remove every chain entry above the committed ``entries``
        counter — the debris of a commit, heal or compaction that crashed
        before its checkpoint. Runs before each of them writes, so the
        counter never passes an entry it did not commit."""
        for base, _ in self._compact_jobs():
            if not os.path.isdir(base):
                continue
            for name in os.listdir(base):
                m = _DELTA_RE.match(name)
                if m and int(m.group(1)) > state["entries"]:
                    shutil.rmtree(os.path.join(base, name))

    def _bound_chain(self, state: dict) -> None:
        """The auto-compaction policy (ctor doc), run once a commit or a
        heal has committed its entry in ``state``: compact when any
        family's chain is longer than ``max_chain``. It runs AFTER the
        checkpoint, so a crash inside compact() never loses what was
        committed."""
        if self.max_chain is not None and self.chain_length(state) > self.max_chain:
            self.compact(state)

    def chain_length(self, state: dict | None = None) -> int:
        """Longest delta chain across the three table families
        (auto-compaction trigger metric; also what an operator would
        alert on)."""
        state = state or self._read_ckpt()
        return max(
            len(self._chain_dirs(b, state["entries"]))
            for b, _ in self._compact_jobs()
        )

    def compact(self, state: dict | None = None) -> None:
        """Fold every chain into one entry (Iceberg's rewrite_data_files
        maintenance action): each family's latest-wins resolve under the
        committed retention bounds, written as the next entry ``d{n}`` like
        a commit's or a heal's, then the entries below it are deleted.
        Reads before/after are row-identical (tests assert). ``state`` (the
        committed checkpoint; default: read it) advances to n.

        The one crash protocol of every writer: debris above the counter
        is removed first, the entry is invisible until the checkpoint
        counts it, and it holds the latest row of every key above the
        bounds while ranking above every older entry — so the older rows
        are shadowed or read-filtered, and deleting them after the
        checkpoint only reclaims space. A crash partway through the
        deletes leaves a chain that reads the same and that
        ``chain_length`` still counts, so the next compaction folds it."""
        state = state or self._read_ckpt()
        if state["entries"] == 0:
            return  # nothing committed yet
        self._gc_uncommitted(state)
        n = state["entries"] + 1

        def fold(base: str, keys: list[str]) -> None:
            df = self._resolve_chain(
                base, state["entries"], keys, bounds=state["retention_bounds"]
            )
            if df is None:
                return
            path = self._delta_path(base, n)
            with self._phase(f"compact {os.path.basename(base)}"):
                if keys == _WINDOW_KEYS:
                    _write_by_tier(df, path)
                else:
                    table_writer(df, keys).mode("overwrite").parquet(path)

        # no family reads another: the three writes run together
        _together(*(partial(fold, base, keys) for base, keys in self._compact_jobs()))
        state["entries"] = n
        self._commit_ckpt(state)
        for base, _ in self._compact_jobs():
            for p in self._chain_dirs(base, n - 1):
                shutil.rmtree(p)
