"""Incremental, resumable tier maintenance over snapshot batches.

Iceberg stand-in for the sandbox: the input "table" is a directory of
snapshot subdirectories (``snap_00000001/``, ``snap_00000002/``, … each a
parquet dir of new transcript rows — the shape an Iceberg incremental read
between two snapshot ids yields). The engine state is:

  tiers/d{n}[h]/tier={t}/  aggregate tiers: ONE MERGE-on-read delta chain,
                           every tier in each entry (one partitioned write)
  packed/d{n}[h]/tier={t}/ packed-payload tiers, the same form
  state/d{n}[h]/           per-conversation carry state, the same chain form
  metrics/                 append-only rollup-count + lineage table (per
                           snapshot and tier: running totals, source files,
                           wall, out-of-order conversations, chain length)
  retention/               eviction-sweep accounting table
  heal_pending/d{n}/       conversations flagged out-of-order at snapshot n
  _checkpoint.json         atomically-committed resume token

EVERY table family is a delta chain: snapshot n writes ONLY the rows its
delta touches to a ``d{n}`` directory, and reads resolve
latest-version-wins per key (aggregate and packed tiers key on
(tier, conv_id, window_start_us); conv state keys on conv_id). There are
three families whatever ``TIERS`` and ``pack_tiers`` hold, and one
writer (``_write_entries``) fills an entry of each from per-turn metrics:
one resolve, one MERGE and one write per family. The tier MERGE is the
one tier aggregate, ``merge_tiers``, over the previous rows of the
touched windows ∪ the delta's turns as one-point rows of every tier
(operators/rollup.py). A chain is resolved in ONE scan of its entries
(of a window-keyed chain, of the ``tier={t}`` leaf dirs the read needs),
each row ranked by the name of the entry directory it was read from.
Per-snapshot write volume is therefore proportional to the delta, not
the table — the reference merges into only the touched trace the same way
(/root/reference/libmseed/tracelist.c:135-606 fast paths), and an Iceberg
deployment expresses the same chain as MERGE + positional deletes (no
Iceberg jars in this sandbox, so parquet dirs + this resolver stand in).
``compact()`` is the rewrite_data_files analogue that folds a long chain
back into one base directory.

Cross-snapshot state (the StreamState analogue, /root/reference/libmseed/
libmseed.h:458-465): each snapshot also writes the touched conversations'
new ``(conv_id, last_turn_idx, last_ts_us)`` so the first turn of a
conversation's continuation in the next snapshot gets its true inter-turn
latency — exactly how record N+1's first Steim difference is seeded from
record N's last sample (pack.c:1003-1039). With that carry, the merged
tiers are bit-identical to a full batch recompute over all snapshots for
append-ordered input (tests assert).

Out-of-order input and the heal pass (the mst_groupheal analogue,
/root/reference/src/../libmseed/traceutils.c:776-915): a snapshot whose
minimum turn_idx for a conversation is <= the carried last_turn_idx is
out-of-order — its within-snapshot latencies were derived against the
wrong predecessor. ``_process_one`` still rolls it in (the aggregate
merge is order-insensitive in structure, only the affected latency VALUES
are provisional). The flag is a column of the conv-state delta, counted
by an observation on that write; only when the count is > 0 are the
affected conv_ids written under ``heal_pending/``. ``heal()`` then
re-derives ONLY those conversations from all raw snapshots and writes
corrective ``d{n}h`` chain entries (ranked after ``d{n}``) for every
table family. A heal is a commit without previous rows: the same writer,
given the conversations' whole history, no carried state and nothing to
merge with. Afterwards all tiers are byte-identical to a full recompute
(tests assert), and incremental processing resumes unchanged.

Retention (downsample-and-expire): ``apply_retention`` commits per-tier
eviction BOUNDS into the checkpoint — eviction is a pure predicate on
window_start_us (operators/retention.retained) applied by every chain
read and every write, i.e. the metadata-only
``DELETE WHERE window_start_us < bound`` of operators/retention.py, with
the sweep accounting row written to ``retention/``. No data files are
touched until ``compact()`` reclaims the space physically.

Resume protocol (the fpos analogue, /root/reference/libmseed/
fileutils.c:367-384, recast as snapshot ids per the north rule):

  1. read _checkpoint.json -> last committed version n
  2. for snapshot n+1: write the d{n+1} delta dirs of every family —
     BEFORE the checkpoint advances
  3. append metrics, then atomic-rename the new _checkpoint.json

A crash between (2) and (3) leaves orphan d{n+1} directories that the
rerun simply overwrites — re-aggregation is deterministic and the merge
is integer-exact-associative (operators/rollup.py contract), so replaying
a snapshot is idempotent: the chain resolver never reads past the
committed version, so nothing is double-counted. Rollup-count totals in
the metrics table are maintained ARITHMETICALLY (previous committed
totals + the windows and points of each tier the MERGE wrote minus those
of the previous rows it replaced, crash-safe inside the same checkpoint),
never by re-scanning the table: both figures come from
``DataFrame.observe`` on the MERGE write itself, so a commit runs no
bookkeeping job — its only Spark actions are its writes. Each action
carries a job description naming its phase (``commit d00000002 tiers``,
``heal d00000002 pack``, ``compact tiers``); a commit and a heal share
the phases ``state``, ``tiers`` and ``pack``.

The jobs of a commit are fixed costs, so each is cut where it arises:

  * schema-on-read: every parquet read takes its schema from the footer
    of its first data file, read with pyarrow (``_read_parquet`` — the
    one footer Spark reads itself with ``mergeSchema`` off), so the
    ``read`` and ``state read`` phases of a commit and a heal's ``read``
    start no job. Their semi-joins take plain key columns: a left-semi
    join needs no unique keys, and a ``distinct`` would be a shuffle;
  * one persisted frame per commit: the per-turn delta, only the
    columns the writers read (``SLIM_COLS``) plus the carried
    ``last_turn_idx`` / ``last_ts_us``; the conv state is one
    ``groupBy("conv_id")`` over it, which needs no exchange because the
    cache is hash-partitioned on conv_id by the metrics' lag window;
  * the packed chain is resolved once for every pack tier, clustered on
    conv_id, so its latest-wins window and the cumulative point-offset
    window that restores old points' turn_idx (per tier and
    conversation) share one exchange, and the offset and the tier ride
    through one decode (``unpack_tier(pos_offset=..., keep=("tier",))``)
    instead of a join. The union of old and new points of every pack
    tier then reaches ONE pack (``pack_points``) through its own conv_id
    exchange: one plan shape, whatever the optimiser makes of the union,
    and as many jobs for two pack tiers as for one.

The tier MERGE is deliberately not co-partitioned with its resolve: that
saves a job but spreads the tier entry over more, smaller files.

Reads never see uncommitted data — every structural transition is gated
by the atomically-swapped checkpoint:

  * snapshot deltas: invisible until ``version`` advances (above);
  * heal entries ``d{v}h``: invisible until ``healed_through`` >= v
    (_chain_dirs gate; crash debris above the watermark is GC'd by the
    next heal()/compact() so it can never be resurrected);
  * compaction: two-phase — stage under ``_compact_tmp`` (a name the
    chain regex never matches), commit ``compact_intent``, swap, clear.
    A crash mid-swap is finished by ``_maybe_recover()`` on the next
    entry point, reads included, so a half-swapped chain is never served.

``compact()`` runs automatically when any family's chain exceeds
``max_chain`` entries (ctor policy) — bounding the per-read latest-wins
resolve at O(max_chain) deltas — and remains callable as an explicit
maintenance action.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from contextlib import contextmanager
from functools import reduce

import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .. import TIERS
from ..functions.metrics import SLIM_COLS, derive_turn_metrics, slim_metrics
from ..operators.pack import pack_points, tier_points, unpack_tier
from ..operators.retention import (
    retained,
    retention_bounds,
    retention_sweep,
    serve_tiered,
)
from ..operators.rollup import merge_tiers, turn_rows
from ..sinks.tier_tables import table_writer

_SNAP_RE = re.compile(r"^snap_(\d+)$")
# d{version}[h]: plain snapshot deltas rank before the heal delta of the
# same version ('' < 'h' lexicographically — latest-wins reads pick heal)
_DELTA_RE = re.compile(r"^d(\d+)(h?)$")

# latest-wins keys: a window-keyed family holds every tier in one chain
_WINDOW_KEYS = ["tier", "conv_id", "window_start_us"]
_CONV_KEYS = ["conv_id"]
# chain entry of a row: the d{version:08d}[h] directory holding its file
# (the fixed-width names sort in resolution order); in a window-keyed
# family, its tier: the tier={t} leaf dir between entry and file
_ENTRY_RE = r"/(d[0-9]{8}h?)/(?:tier=([^/]+)/)?[^/]+$"


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def _read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` of parquet dirs without its
    schema-inference job: the schema is the footer of the first data file
    of the first dir that has one, read with pyarrow — the one footer
    Spark itself reads with ``mergeSchema`` off."""
    for p in paths:
        files = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
        if files:
            schema = from_arrow_schema(pq.read_schema(os.path.join(p, files[0])))
            return spark.read.schema(schema).parquet(*paths)
    return spark.read.parquet(*paths)


def _write_by_tier(df: DataFrame, path: str) -> None:
    """Write one entry of a window-keyed family: a ``tier={t}`` leaf per
    tier with rows. An entry with no row at all gets an empty ``tier=``
    leaf instead (no tier reads it by name), so a read of a tier without
    rows still finds the family's columns."""
    table_writer(df).partitionBy("tier").mode("overwrite").parquet(path)
    if not any(n.startswith("tier=") for n in os.listdir(path)):
        schema = df.drop("tier").schema
        table_writer(df.sparkSession.createDataFrame([], schema)).parquet(
            os.path.join(path, "tier=")
        )


def _observe_totals(df: DataFrame, obs: Observation) -> DataFrame:
    """``df`` (rows of any tiers) with each tier's window count ``w_{t}``
    and point sum ``p_{t}`` observed by ``obs``."""
    is_t = {t: F.col("tier") == t for t in TIERS}
    pts = {t: F.sum(F.when(c, F.col("n_points"))) for t, c in is_t.items()}
    return df.observe(
        obs,
        *[F.count_if(c).alias(f"w_{t}") for t, c in is_t.items()],
        *[F.coalesce(p, F.lit(0)).alias(f"p_{t}") for t, p in pts.items()],
    )


def _observed(obs: Observation, *names: str) -> tuple[int, ...]:
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
    return tuple(int(got[n]) for n in names)


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
        # auto-compaction policy: after a snapshot commit, if any family's
        # chain exceeds this many entries, compact() runs inline (None
        # disables). Bounds the chain-length-proportional row_number
        # shuffle every MERGE-on-read pays — without it, hourly snapshots
        # grow ~720 dirs/family/month between manual maintenance windows.
        self.max_chain = max_chain
        os.makedirs(work_dir, exist_ok=True)
        self.ckpt_path = os.path.join(work_dir, "_checkpoint.json")

    # -- checkpoint -----------------------------------------------------
    def _read_ckpt(self) -> dict:
        if not os.path.exists(self.ckpt_path):
            return {
                "version": 0,
                "run_id": str(uuid.uuid4()),
                "totals": {},
                "healed_through": 0,
                "retention_bounds": {},
            }
        with open(self.ckpt_path) as f:
            state = json.load(f)
        state.setdefault("totals", {})
        state.setdefault("healed_through", 0)
        state.setdefault("retention_bounds", {})
        return state

    def _commit_ckpt(self, state: dict) -> None:
        tmp = self.ckpt_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.ckpt_path)  # atomic commit

    @contextmanager
    def _phase(self, desc: str):
        """Describe the Spark jobs started inside as engine phase ``desc``
        (e.g. ``commit d00000002 tiers merge``). The caller's description
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
        """Root of ``family``: a chain (``tiers``, ``packed``, ``state``)
        or the ``heal_pending`` flags."""
        return os.path.join(self.work_dir, family)

    def _delta_path(self, base: str, version: int, heal: bool = False) -> str:
        return os.path.join(base, f"d{version:08d}" + ("h" if heal else ""))

    def _compact_jobs(self) -> list[tuple[str, list[str]]]:
        """(base, latest-wins keys) of the three chained table families."""
        return [
            (self._base("tiers"), _WINDOW_KEYS),
            (self._base("packed"), _WINDOW_KEYS),
            (self._base("state"), _CONV_KEYS),
        ]

    def _chain_dirs(
        self, base: str, version: int, healed_through: int | None = None
    ) -> list[str]:
        """Committed chain entries <= version, in resolution order
        (ascending version; a heal entry ranks after its plain twin).

        A heal entry ``d{v}h`` is included only once the checkpoint's
        ``healed_through`` watermark has reached v: heal() writes its dirs
        BEFORE committing that watermark, so a crash mid-heal leaves the
        partial dirs invisible to every read (no torn reads — the module
        doc's reads-never-see-uncommitted-data invariant). Orphans from a
        crashed heal are garbage-collected by the next heal()/compact()
        before the watermark can advance past them."""
        if healed_through is None:
            healed_through = self._read_ckpt()["healed_through"]
        if not os.path.isdir(base):
            return []
        entries = []
        for name in os.listdir(base):
            m = _DELTA_RE.match(name)
            if not m or int(m.group(1)) > version:
                continue
            if m.group(2) and int(m.group(1)) > healed_through:
                continue  # uncommitted heal entry (crash debris)
            entries.append((int(m.group(1)), m.group(2), name))
        return [os.path.join(base, n) for _, _, n in sorted(entries)]

    def _resolve_chain(
        self,
        base: str,
        version: int,
        keys: list[str],
        touched: DataFrame | None = None,
        bounds: dict | None = None,
        healed_through: int | None = None,
        touched_on: list[str] | None = None,
        tiers: tuple[str, ...] | None = None,
    ) -> DataFrame | None:
        """MERGE-on-read: one scan of the chain <= version, latest entry
        wins per key. Each row is ranked by the name of the entry
        directory its file lives in (``_metadata.file_path``): the
        fixed-width ``d{version:08d}[h]`` names sort in resolution order,
        so a heal entry ranks after its plain twin. ``touched`` (a
        DataFrame of ``touched_on`` columns, default ``keys``) semi-joins
        the scan down to the rows a merge needs, so the rows shuffled are
        delta-sized. ``touched_on`` may be a subset of the keys (e.g. just
        conv_id when the caller needs every window of the touched
        conversations — the packed re-encode path); the rows are then
        clustered on it, so the latest-wins window and a caller's window
        over ``touched_on`` share one exchange.

        A window-keyed family (``keys`` lead with ``tier``) is read from
        the ``tier={t}`` leaf dirs of its entries, only those of ``tiers``
        (default: all), and its ``tier`` column, last, comes from the
        path; if no entry holds a row of ``tiers``, the result is an empty
        frame of the family's columns. ``bounds`` (tier -> bound) applies
        the committed retention predicate (operators/retention.retained)."""
        dirs = self._chain_dirs(base, version, healed_through)
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
        df = _read_parquet(self.spark, *dirs).withColumn(
            "_e", F.regexp_extract(path, _ENTRY_RE, 1)
        )
        if by_tier:
            df = df.withColumn("tier", F.regexp_extract(path, _ENTRY_RE, 2))
            if bounds:
                df = df.filter(retained(bounds))
        if empty:
            df = df.limit(0)
        if touched is not None:
            df = df.join(touched, touched_on or keys, "left_semi")
        if touched_on:
            df = df.repartition(*touched_on)
        w = Window.partitionBy(*keys).orderBy(F.desc("_e"))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_e", "_rn")
        )

    # -- readers --------------------------------------------------------
    def conv_state(self, version: int) -> DataFrame | None:
        state = self._maybe_recover(self._read_ckpt())
        return self._resolve_chain(
            self._base("state"),
            version,
            _CONV_KEYS,
            healed_through=state["healed_through"],
        )

    def tier(self, tier: str, version: int | None = None) -> DataFrame | None:
        state = self._maybe_recover(self._read_ckpt())
        return self._read_family("tiers", tier, state, version)

    def packed_tier(self, tier: str, version: int | None = None) -> DataFrame | None:
        state = self._maybe_recover(self._read_ckpt())
        return self._read_family("packed", tier, state, version)

    def _read_family(
        self, family: str, tier: str, state: dict, version: int | None = None
    ) -> DataFrame | None:
        """One tier of a window-keyed family at ``version`` (default: the
        committed one of ``state``, the checkpoint the public call read),
        with the committed retention bounds."""
        return self._resolve_chain(
            self._base(family),
            version if version is not None else state["version"],
            _WINDOW_KEYS,
            bounds=state["retention_bounds"],
            healed_through=state["healed_through"],
            tiers=(tier,),
        )

    def _read_tiers(self, state: dict) -> dict[str, DataFrame]:
        """Every aggregate tier at the committed version of ``state`` (none
        before the first commit)."""
        tiers = ((t, self._read_family("tiers", t, state)) for t in TIERS)
        return {t: df for t, df in tiers if df is not None}

    def metrics_table(self) -> DataFrame | None:
        p = os.path.join(self.work_dir, "metrics")
        if not os.path.isdir(p):
            return None
        snaps = [n for n in os.listdir(p) if n.startswith("snap_")]
        if not snaps:  # empty dir or stray non-snapshot files
            return None
        # mergeSchema: snapshot dirs written before a column was added
        # read it as null
        return self.spark.read.option("mergeSchema", "true").parquet(
            os.path.join(p, "snap_*")
        )

    def retention_table(self) -> DataFrame | None:
        p = os.path.join(self.work_dir, "retention")
        if not os.path.isdir(p) or not os.listdir(p):
            return None
        return self.spark.read.parquet(os.path.join(p, "sweep_*"))

    # -- processing -----------------------------------------------------
    def process_pending(self) -> int:
        """Roll every unprocessed snapshot into the tier tables; returns
        the number of snapshots processed. Safe to call after a crash."""
        state = self._maybe_recover(self._read_ckpt())
        done = 0
        for snap_id, snap_path in list_snapshots(self.input_dir):
            if snap_id <= state["version"]:
                continue
            self._process_one(state, snap_id, snap_path)
            state["version"] = snap_id
            self._commit_ckpt(state)
            done += 1
            # auto-compaction policy (ctor doc): keep every family's
            # MERGE-on-read chain bounded. Runs AFTER the commit, so a
            # crash inside compact never loses the snapshot.
            if self.max_chain is not None and self.chain_length(state) > self.max_chain:
                self.compact()
                state = self._read_ckpt()
        return done

    def _process_one(self, state: dict, snap_id: int, snap_path: str) -> None:
        t0 = time.time()
        tag = f"commit d{snap_id:08d}"
        with self._phase(f"{tag} read"):
            raw = _read_parquet(self.spark, snap_path)
        delta_m = derive_turn_metrics(raw)

        # StreamState carry: seed each conversation's first-in-snapshot
        # latency from the previous snapshot's last turn. The state read
        # is delta-sized too: only the snapshot's own conversations are
        # resolved down the chain. The carried columns stay on the one
        # persisted frame, for the conv-state write; the raw text, role
        # and tool do not (the writers read SLIM_COLS), so they are pruned
        # below the metrics' lag window.
        with self._phase(f"{tag} state read"):
            carry = self._resolve_chain(
                self._base("state"),
                state["version"],
                _CONV_KEYS,
                touched=raw.select("conv_id"),
                healed_through=state["healed_through"],
            )
        carry_cols = []
        if carry is not None:
            carry_cols = ["last_turn_idx", "last_ts_us"]
            delta_m = delta_m.join(carry, "conv_id", "left").withColumn(
                "latency_us",
                F.coalesce(
                    F.col("latency_us"), F.col("ts_us") - F.col("last_ts_us")
                ),
            )
        delta_m = delta_m.select(*SLIM_COLS, *carry_cols).persist()
        _, ooo_convs = self._write_entries(
            state, snap_id, tag, delta_m, carried=carry is not None
        )
        wall = time.time() - t0
        delta_m.unpersist()

        # lineage: what the commit did, from driver-side facts only
        lineage = ",".join(
            sorted(f for f in os.listdir(snap_path) if f.endswith(".parquet"))
        )
        chain_len = self.chain_length({**state, "version": snap_id})
        metrics_df = self.spark.createDataFrame(
            [
                (
                    state["run_id"],
                    snap_id,
                    tier,
                    int(state["totals"][tier]["n_windows"]),
                    int(state["totals"][tier]["n_points"]),
                    lineage,
                    float(wall),
                    ooo_convs,
                    chain_len,
                )
                for tier in TIERS
            ],
            "run_id string, snapshot_id int, tier string, n_windows long,"
            " n_points long, lineage string, wall_s double, ooo_convs long,"
            " chain_len int",
        )
        # keyed-by-snapshot OVERWRITE, not a blind append: a crash between
        # this write and the checkpoint commit makes the rerun rewrite the
        # same directory instead of double-appending the snapshot's rows —
        # metrics share the tier tables' replay-idempotence guarantee. One
        # file per snapshot: its rows are one per tier.
        with self._phase(f"{tag} metrics"):
            table_writer(metrics_df.coalesce(1)).mode("overwrite").parquet(
                os.path.join(self.work_dir, "metrics", f"snap_{snap_id:08d}")
            )

    def _write_entries(
        self,
        state: dict,
        version: int,
        tag: str,
        metrics: DataFrame,
        carried: bool = False,
        heal: bool = False,
    ) -> tuple[int, int]:
        """Write the ``d{version}`` entry of every table family (``d{version}h``
        for a heal) from the per-turn ``metrics`` of the conversations it
        touches: their conv state, their windows of every tier, their
        blobs of every pack tier. A commit merges with what is committed at
        ``state["version"]`` — the carried conv state (``carried``: the
        ``last_turn_idx`` and ``last_ts_us`` columns of ``metrics``, null
        for a new conversation) and the touched windows' rows — and keeps
        the running totals. A heal holds its conversations' whole history,
        so it has no carry and no previous rows, and it changes no window's
        count or points, so the totals stand. Late data behind a committed
        retention bound is dropped: it would be read-filtered and
        eviction-eligible anyway, and admitting it would let the totals
        drift from what reads see. Returns (conversations written, of them
        out of order)."""
        bounds = state["retention_bounds"]
        # conv state: each conversation's new last turn, plus the
        # out-of-order flag (heal trigger, module doc): arriving turns at
        # or before the carried last_turn_idx mean this conversation's
        # derived latencies are provisional until heal(). The carried
        # columns are constant per conversation, so they group with it:
        # one aggregate over ``metrics``, no join.
        carry_cols = ["last_turn_idx", "last_ts_us"] if carried else []
        conv = metrics.groupBy("conv_id", *carry_cols).agg(
            F.min("turn_idx").alias("_min_turn"),
            F.max(F.struct("turn_idx", "ts_us")).alias("_l"),
        )
        if not carried:
            conv = conv.withColumn("_ooo", F.lit(False))
        else:
            conv = conv.select(
                "conv_id",
                F.greatest(
                    F.col("_l"),
                    F.when(
                        F.col("last_turn_idx").isNotNull(),
                        F.struct(
                            F.col("last_turn_idx").alias("turn_idx"),
                            F.col("last_ts_us").alias("ts_us"),
                        ),
                    ),
                ).alias("_l"),
                F.coalesce(
                    F.col("_min_turn") <= F.col("last_turn_idx"), F.lit(False)
                ).alias("_ooo"),
            )
        conv = conv.select(
            "conv_id",
            F.col("_l.turn_idx").alias("last_turn_idx"),
            F.col("_l.ts_us").alias("last_ts_us"),
            "_ooo",
        )
        # one file per entry for the state and the heal flags: they hold a
        # few bytes per conversation, so more files would be mostly footer,
        # and the next resolve reads every one
        conv_obs = Observation()
        with self._phase(f"{tag} state"):
            table_writer(
                conv.observe(
                    conv_obs,
                    F.count(F.lit(1)).alias("n"),
                    F.count_if("_ooo").alias("ooo"),
                )
                .drop("_ooo")
                .coalesce(1)
            ).mode("overwrite").parquet(
                self._delta_path(self._base("state"), version, heal)
            )
        n_convs, ooo_convs = _observed(conv_obs, "n", "ooo")
        if ooo_convs:
            with self._phase(f"{tag} heal pending"):
                table_writer(conv.filter("_ooo").select("conv_id").coalesce(1)).mode(
                    "overwrite"
                ).parquet(self._delta_path(self._base("heal_pending"), version))

        # tiers: ONE aggregate over the turn rows of every tier (a turn is
        # a one-point tier row) and, on a commit, the previous rows of
        # ONLY the windows they touch — a semi-join down the chain, never
        # a full-table read. Running totals: previous committed totals +
        # what this write itself observed per tier — windows and points it
        # wrote minus those of the previous rows it replaced. No re-read.
        rows = _union([turn_rows(metrics, t) for t in TIERS]).filter(retained(bounds))
        prev_rows, prev_obs, out_obs = None, Observation(), Observation()
        with self._phase(f"{tag} tiers"):
            if not heal:
                prev_rows = self._resolve_chain(
                    self._base("tiers"),
                    state["version"],
                    _WINDOW_KEYS,
                    touched=rows.select(*_WINDOW_KEYS),
                    bounds=bounds,
                    healed_through=state["healed_through"],
                )
            if prev_rows is not None:
                rows = _observe_totals(prev_rows, prev_obs).unionByName(rows)
            _write_by_tier(
                _observe_totals(merge_tiers(rows), out_obs),
                self._delta_path(self._base("tiers"), version, heal),
            )
        if not heal:
            new = {t: _observed(out_obs, f"w_{t}", f"p_{t}") for t in TIERS}
            # every previous row keys a row of the merge output, so a merge
            # that wrote nothing replaced nothing (its delta was empty, and
            # the optimiser may have pruned the empty semi-join together
            # with its observation)
            replaced = prev_rows is not None and any(w for w, _ in new.values())
            for t in TIERS:
                prev_w, prev_p = (
                    _observed(prev_obs, f"w_{t}", f"p_{t}") if replaced else (0, 0)
                )
                tot = state["totals"].setdefault(t, {"n_windows": 0, "n_points": 0})
                tot["n_windows"] += new[t][0] - prev_w
                tot["n_points"] += new[t][1] - prev_p
        if self.pack_tiers:
            with self._phase(f"{tag} pack"):
                self._write_packed(state, version, metrics, heal)
        return n_convs, ooo_convs

    def _write_packed(
        self, state: dict, version: int, metrics: DataFrame, heal: bool
    ) -> None:
        """Pack every pack tier's touched windows in one write. A commit
        re-encodes only the windows its delta touches (class doc), from
        one chain resolve and one decode of every pack tier at
        ``state["version"]``; a heal packs its conversations' whole
        history. The points of all pack tiers go through one pack."""
        bounds = state["retention_bounds"]
        # same retention drop as the aggregate tiers
        pts = _union([tier_points(metrics, t) for t in self.pack_tiers]).filter(
            retained(bounds)
        )
        # chain read pruned to the delta's CONVERSATIONS (semi-join below
        # the latest-wins window): all windows of a touched conversation
        # are needed to restore old points' turn_idx from cumulative
        # n_points — a metadata scan; only the touched windows' payloads
        # are decoded below
        prev = None if heal else self._resolve_chain(
            self._base("packed"),
            state["version"],
            _WINDOW_KEYS,
            touched=metrics.select("conv_id").distinct(),
            touched_on=["conv_id"],
            bounds=bounds,
            healed_through=state["healed_through"],
            tiers=self.pack_tiers,
        )
        if prev is not None:
            # cumulative point count of the conversation's earlier windows
            # of the tier: the turn index of each window's first point (the
            # resolve is clustered on conv_id, so this window needs no
            # exchange of its own)
            woff = (
                Window.partitionBy("tier", "conv_id")
                .orderBy("window_start_us")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            old_touched = prev.withColumn(
                "_off", F.coalesce(F.sum("n_points").over(woff), F.lit(0))
            ).join(pts.select(*_WINDOW_KEYS), _WINDOW_KEYS, "left_semi")
            old_pts = unpack_tier(old_touched, pos_offset="_off", keep=("tier",))
            pts = old_pts.select(
                "tier",
                "conv_id",
                "window_start_us",
                F.col("pos").alias("turn_idx"),
                "ts_us",
                F.col("latency_us_f").alias("latency_us"),
                F.col("token_count_f").alias("token_count"),
            ).unionByName(pts)
        _write_by_tier(
            pack_points(pts), self._delta_path(self._base("packed"), version, heal)
        )

    # -- heal (mst_groupheal analogue) ----------------------------------
    def heal(self) -> int:
        """Repair every conversation flagged out-of-order since the last
        heal: re-derive its per-turn metrics from ALL raw snapshots (the
        batch path is order-insensitive), then write them as one
        corrective ``d{v}h`` chain entry per table family — the commit's
        own writer (``_write_entries``) with no carry and no previous
        rows. Afterwards all reads are byte-identical to a full recompute
        (tests assert) and incremental mode resumes.

        The reference's analogue walks a broken trace group and re-sorts
        / re-merges its segments in place with the merge it uses on
        insert (mst_groupheal, /root/reference/libmseed/traceutils.c:
        776-915; out-of-order insertion tracelist.c:392-556); here the
        "group" is the affected conversation set and the repair is a
        scoped batch recompute — O(affected conversations), never
        O(table).

        Crash-safe: heal dirs are deterministic overwrites keyed by the
        committed version, and a ``d{v}h`` entry is INVISIBLE to chain
        reads until ``healed_through`` reaches v (_chain_dirs gate) — the
        watermark advances only after every family's dir is fully
        written, so a mid-heal crash leaves reads exactly as before the
        heal and the rerun replays clean. Stale heal debris above the
        watermark is garbage-collected first, so a later heal cannot
        resurrect it. Returns the number of conversations healed, as
        observed on the conv-state write (one row per conversation)."""
        state = self._maybe_recover(self._read_ckpt())
        v = state["version"]
        if v == 0:
            return 0
        self._gc_uncommitted_heal(state)
        # EVERY pending dir is due, regardless of version: heal deletes
        # the dirs it processed only AFTER the watermark commit, so a
        # leftover means "not certainly healed" and is re-healed (the
        # repair is a deterministic overwrite — idempotent). Flags can
        # also arrive from the streaming path at an already-healed
        # version (streaming/rollup_stream.route_ooo_to_pending); a
        # watermark filter here would drop those forever.
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
        # a left-semi join needs no unique keys: a conversation flagged in
        # several pending dirs (or appended twice) is healed once
        with self._phase(f"{tag} read"):
            raw = _read_parquet(self.spark, *snap_paths).join(
                _read_parquet(self.spark, *pend_dirs).select("conv_id"),
                "conv_id",
                "left_semi",
            )
        healed_m = slim_metrics(derive_turn_metrics(raw)).persist()
        n_convs, _ = self._write_entries(state, v, tag, healed_m, heal=True)
        healed_m.unpersist()
        state["healed_through"] = v
        self._commit_ckpt(state)
        # delete the processed pending dirs only now: a crash before this
        # point re-heals them (idempotent); deleting earlier could lose
        # flags. Dirs that appeared concurrently stay for the next heal.
        for p in pend_dirs:
            shutil.rmtree(p, ignore_errors=True)
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
        state = self._maybe_recover(self._read_ckpt())
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
                    state["version"],
                    _WINDOW_KEYS,
                    bounds=state["retention_bounds"],
                    healed_through=state["healed_through"],
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
        acct = self.spark.createDataFrame(
            [
                (int(now_us), name, r["n_kept"], r["n_evicted"],
                 r["pts_kept"], r["pts_evicted"])
                for name, r in rows
            ],
            "swept_at_us long, tier string, n_kept long, n_evicted long,"
            " pts_kept long, pts_evicted long",
        )
        with self._phase("retention accounting"):
            table_writer(acct).mode("overwrite").parquet(
                os.path.join(self.work_dir, "retention", f"sweep_{now_us:020d}")
            )
        return acct

    def serve(self, now_us: int, horizons=None) -> DataFrame:
        """Age-banded serving view over the maintained tiers: the finest
        retained tier per age band (operators/retention.serve_tiered),
        read straight off the delta chains. Pure prunable predicates +
        union — the query a dashboard runs against this store."""
        state = self._maybe_recover(self._read_ckpt())
        return serve_tiered(self._read_tiers(state), now_us, horizons)

    # -- maintenance ----------------------------------------------------
    def _gc_uncommitted_heal(self, state: dict) -> None:
        """Remove heal dirs whose version exceeds the committed
        ``healed_through`` — debris from a crashed heal(). Without this GC
        a later heal at a higher version would advance the watermark past
        the orphan and resurrect its torn contents into chain reads."""
        ht = state["healed_through"]
        for base, _ in self._compact_jobs():
            if not os.path.isdir(base):
                continue
            for name in os.listdir(base):
                m = _DELTA_RE.match(name)
                if m and m.group(2) and int(m.group(1)) > ht:
                    shutil.rmtree(os.path.join(base, name))

    def _maybe_recover(self, state: dict) -> dict:
        """Finish a crashed compact() swap before anything reads a chain.

        Called from every public entry point: if the checkpoint carries a
        ``compact_intent``, the staged-but-unswapped families are swapped
        now (idempotent — a family whose ``_compact_tmp`` is gone was
        already adopted) and the intent is cleared. Cheap no-op otherwise."""
        if "compact_intent" in state:
            self._finish_compact(state)
        return state

    def _finish_compact(self, state: dict) -> None:
        """Phase 2 of compact(): per family, drop the superseded chain
        entries and adopt the staged ``_compact_tmp`` as ``d{v}`` (the
        os.replace is atomic; a crash anywhere here is resumed by
        _maybe_recover on the next entry point, which re-runs this loop —
        families with no staged tmp left are skipped)."""
        v = state["compact_intent"]
        for base, _ in self._compact_jobs():
            tmp = os.path.join(base, "_compact_tmp")
            if not os.path.isdir(tmp):
                continue  # never staged, or already swapped on a prior run
            for p in self._chain_dirs(base, v, state["healed_through"]):
                shutil.rmtree(p)
            os.replace(tmp, self._delta_path(base, v))
        # pending dirs are NOT touched here: heal() owns their lifecycle
        # (a leftover means not-certainly-healed under its deletion
        # protocol, and compacting must never lose heal flags)
        state.pop("compact_intent")
        self._commit_ckpt(state)

    def chain_length(self, state: dict | None = None) -> int:
        """Longest delta chain across the three table families
        (auto-compaction trigger metric; also what an operator would
        alert on)."""
        state = state or self._read_ckpt()
        return max(
            len(self._chain_dirs(b, state["version"], state["healed_through"]))
            for b, _ in self._compact_jobs()
        )

    def compact(self) -> None:
        """Fold every chain into a single base directory at the committed
        version (Iceberg's rewrite_data_files maintenance action): resolve
        latest-wins + retention bounds, rewrite, drop the old entries.
        Reads before/after are row-identical (tests assert).

        Crash-safe two-phase protocol (the parquet standin for Iceberg's
        atomic metadata swap):

          1. stage every family's resolved table under ``_compact_tmp``
             (a name the chain regex never matches — invisible to reads;
             a crash here leaves harmless debris the next run overwrites)
          2. atomically commit ``compact_intent = v`` in the checkpoint
          3. per family: drop superseded entries, adopt tmp as ``d{v}``
          4. clear the intent, commit

        A crash inside (3)-(4) is finished by ``_maybe_recover`` on the
        next entry point (reads included), so a half-swapped chain is
        never served."""
        state = self._maybe_recover(self._read_ckpt())
        v = state["version"]
        # heal debris would otherwise be resurrected once healed_through
        # advances; compacting is the natural GC point
        self._gc_uncommitted_heal(state)
        staged = 0
        for base, keys in self._compact_jobs():
            df = self._resolve_chain(
                base, v, keys, bounds=state["retention_bounds"],
                healed_through=state["healed_through"],
            )
            if df is None:
                continue
            tmp = os.path.join(base, "_compact_tmp")
            with self._phase(f"compact {os.path.basename(base)}"):
                if keys == _WINDOW_KEYS:
                    _write_by_tier(df, tmp)
                else:
                    table_writer(df).mode("overwrite").parquet(tmp)
            staged += 1
        if staged == 0:
            return
        state["compact_intent"] = v
        self._commit_ckpt(state)
        self._finish_compact(state)
