"""Window packing: per-(conv_id, tier, window) compressed series blobs.

The msr_pack analogue (/root/reference/libmseed/pack.c:70-395), Spark-first.
One plan, one shuffle: repartition on conv_id -> sortWithinPartitions on
(conv_id, window_start_us, turn_idx, ts_us) -> ONE mapInArrow pass over flat
primitive Arrow columns (int64/float64 — no struct lists, no collect_list,
no interpreted higher-order functions). The kernel carries the open window
group across Arrow batches, detects window/chunk boundaries vectorially,
runs the numpy codec once per closed block, and assembles final blobs in
the same pass. Chunk boundaries are a pure function of turn_idx
(``turn_idx // CHUNK_POINTS``), so the bytes never depend on the physical
partitioning (tests assert).

The same pass repacks (plans/pipeline.py's commit): a conversation's
previous blobs of every chain entry, ranked (``RANK``, ``n_points``,
``payload``, ``xn``), ride in the sorted rows with its new points, and the
kernel then carries whole (tier, conv_id) groups across batches. Per
group it takes each window's highest-ranked blob, numbers its old points
from the ``n_points`` of the earlier windows' latest blobs, decodes —
with the Xn check — only the windows that hold a new point, and packs
them with the new points (``_repack_points``). Resolve, decode and encode
share one exchange, one sort and one vectorized pass.

Windows are self-delimiting (each chunk re-anchors at its own X0) so there
is NO cross-window or cross-chunk state — the property that makes packing
embarrassingly parallel and resume-safe (SURVEY.md §7 phase 2 decision).
Each blob is checked on its own: every decode checks its Xn (``check_xn``),
and nothing carries from one window's Xn to the next window's X0, where the
reference keeps a sequential StreamState (libmseed.h:458-465).

Design decision — blob granularity stays ONE WINDOW per blob (DR-1)
--------------------------------------------------------------------
The 1m tier is blob-heavy: conversations emit ~2 turns/min, so a 1m blob
carries ~3.6-4.2 points. Under payload format v1 its fixed framing (a
16-byte blob header, a 20-byte chunk header, u32 section lengths and two
raw 8-byte first values) put 1m bytes/point at ~24.5. The reference
amortizes framing by packing multiple frames per record
(libmseed/pack.c:314-337), and a multi-window segment blob here would
similarly cut header share. It is deliberately NOT adopted:

  * the incremental pipeline's unit of overwrite is the (conv, window)
    key (plans/pipeline.py snapshot MERGE) — a blob spanning windows forces
    read-modify-write of untouched neighbor windows on every delta
    merge and heal, trading a storage constant for write amplification
    in the steady-state path;
  * the tier cascade already provides the amortization: 1h/1d blobs
    carry 60x/1440x more points per header, and retention moves old
    data to exactly those tiers — the 1m overhead is paid only on the
    freshest band;
  * serving-path selections prune on (conv, window) parquet ranges; a
    segment blob would widen every point lookup to its segment.

The framing, not the unit, was the cost: the payload format
(codec/__init__.py) codes the headers as varints and the two integer
streams as residuals (latency against the timestamp delta, tokens against
the previous value), and since v3 codes every integer section with one
Rice parameter taken from its data, which brings the benchmark fixture to
~8.8 B/point at 1m and ~4.1 at 1h with the unit unchanged (v2: 10.3 and
5.9).
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..codec import CHUNK_POINTS, blob_head
from ..codec.vectorized import encode_chunks_raw, put_varints, varint_len
from .rollup import RANK, window_start_col

# value streams packed per window, in order (stream 0 carries the x0/xn
# invariant columns). NULL latency (first turn) packs as NaN bits.
STREAMS = ["latency_us", "token_count"]

PACKED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("window_start_us", LongType()),
        StructField("n_points", LongType()),
        StructField("n_chunks", IntegerType()),
        StructField("first_ts_us", LongType()),
        StructField("last_ts_us", LongType()),
        StructField("x0", LongType()),
        StructField("xn", LongType()),
        StructField("payload", BinaryType()),
        StructField("crc32", LongType()),
    ]
)

# the rows of one blob share these key columns; the kernel keys on those
# its input carries (``tier`` is optional) and passes ``tier`` through
_BLOB_KEYS = ("tier", "conv_id", "window_start_us")
_PACKED_TIER_SCHEMA = StructType(
    PACKED_SCHEMA.fields + [StructField("tier", StringType())]
)


def _ranges(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Concatenated [s, s+len) index ranges (the segmented-arange trick)."""
    total = int(lengths.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    rep = np.repeat(starts - np.concatenate([[0], np.cumsum(lengths)[:-1]]), lengths)
    return rep + np.arange(total, dtype=np.int64)


def _keys(tbl, keys=_BLOB_KEYS) -> list[str]:
    return [k for k in keys if k in tbl.column_names]


def _key_change(tbl, keys=_BLOB_KEYS) -> np.ndarray:
    """Boolean array: row starts a new group of the ``keys`` columns
    ``tbl`` carries (default: a window, ([tier,] conv_id,
    window_start_us)). Comparison happens inside Arrow — no per-row
    python strings."""
    import pyarrow.compute as pc

    n = tbl.num_rows
    new = np.ones(n, dtype=bool)
    if n > 1:
        new[1:] = False
        for k in _keys(tbl, keys):
            col = tbl.column(k).chunk(0)
            new[1:] |= pc.not_equal(
                col.slice(1, n - 1), col.slice(0, n - 1)
            ).to_numpy(zero_copy_only=False)
    return new


def _run_block_arrow(tbl):
    """Encode + assemble one contiguous sorted block; returns a RecordBatch.

    Fully vectorized: chunk bytes come back as one buffer from
    encode_chunks_raw; window blobs are built by writing their varint
    headers at computed offsets and gathering chunk spans; the Arrow
    binary column is constructed directly from (offsets, data) buffers —
    zero python string or bytes objects anywhere.
    """
    import pyarrow as pa

    n = tbl.num_rows
    ws = tbl.column("window_start_us").chunk(0).to_numpy()
    turn = tbl.column("turn_idx").chunk(0).to_numpy()
    ts = tbl.column("ts_us").chunk(0).to_numpy()
    streams = [
        np.ascontiguousarray(
            tbl.column(s).chunk(0).to_numpy(zero_copy_only=False), dtype=np.float64
        ).view(np.uint64)
        for s in STREAMS
    ]

    new_win = _key_change(tbl)
    cp = turn // CHUNK_POINTS
    new_chunk = new_win.copy()
    if n > 1:
        new_chunk[1:] |= cp[1:] != cp[:-1]
    chunk_starts = np.flatnonzero(new_chunk)
    offsets = np.concatenate([chunk_starts, [n]]).astype(np.int64)
    buf, chunk_off, stats = encode_chunks_raw(ts, offsets, streams)

    win_starts = np.flatnonzero(new_win)
    W = len(win_starts)
    win_chunk_start = np.searchsorted(chunk_starts, win_starts)
    win_chunk_end = np.concatenate([win_chunk_start[1:], [len(chunk_starts)]])
    n_chunks = (win_chunk_end - win_chunk_start).astype(np.int32)
    win_row_end = np.concatenate([win_starts[1:], [n]])
    n_points = (win_row_end - win_starts).astype(np.int64)

    # blob layout: per window the version + n_streams byte | varint
    # n_chunks, then its contiguous chunk span
    span_start = chunk_off[win_chunk_start]
    span = chunk_off[win_chunk_end] - span_start
    len_nc = varint_len(n_chunks.astype(np.uint64))
    out_off = np.zeros(W + 1, dtype=np.int64)
    np.cumsum(1 + len_nc + span, out=out_off[1:])
    out = np.empty(int(out_off[-1]), dtype=np.uint8)
    h = out_off[:-1]
    out[h] = blob_head(len(STREAMS))
    put_varints(out, h + 1, n_chunks, len_nc)
    out[_ranges(h + 1 + len_nc, span)] = buf[_ranges(span_start, span)]

    mv = memoryview(out)
    crcs = np.fromiter(
        (zlib.crc32(mv[out_off[i] : out_off[i + 1]]) for i in range(W)),
        dtype=np.int64,
        count=W,
    )

    if out_off[-1] > np.iinfo(np.int32).max:
        # >2 GiB of encoded payload in one block would silently wrap the
        # Arrow int32 offsets; a window that large cannot be stored as one
        # binary cell anyway, so fail loudly
        raise ValueError(
            f"encoded block exceeds 2 GiB ({int(out_off[-1])} bytes); "
            "a window this large cannot be stored as one payload cell"
        )
    payload = pa.Array.from_buffers(
        pa.binary(),
        W,
        [None, pa.py_buffer(out_off.astype(np.int32)), pa.py_buffer(out)],
    )
    first = pa.array(win_starts)
    conv_out = tbl.column("conv_id").chunk(0).take(first)
    tier = [tbl.column("tier").chunk(0).take(first)] if "tier" in tbl.column_names else []
    return pa.RecordBatch.from_arrays(
        [
            conv_out,
            pa.array(ws[win_starts]),
            pa.array(n_points),
            pa.array(n_chunks),
            pa.array(stats["first_ts"][win_chunk_start].astype(np.int64)),
            pa.array(stats["last_ts"][win_chunk_end - 1].astype(np.int64)),
            pa.array(stats["x0"][win_chunk_start].view(np.int64)),
            pa.array(stats["xn"][win_chunk_end - 1].view(np.int64)),
            payload,
            pa.array(crcs),
            *tier,
        ],
        names=PACKED_SCHEMA.names + ["tier"] * len(tier),
    )


def _concat(parts):
    """One single-chunk table from the non-empty table slices ``parts``."""
    import pyarrow as pa

    return pa.concat_tables([t for t in parts if t.num_rows]).combine_chunks()


def _row_key(tbl, i: int, keys) -> tuple:
    return tuple(tbl.column(k)[i].as_py() for k in _keys(tbl, keys))


def _pack_flat_arrow(batches) -> Iterator:
    """One pass over a partition's sorted flat rows (Arrow RecordBatches).

    The open group (the rows from the last group start on) is kept as a
    list of batch slices and concatenated once, when a later batch closes
    it. A group is a window, or with previous blobs among the rows (a
    repack, ``_repack_points``) a whole (tier, conv_id): its windows'
    point offsets need every earlier window of it. Each batch is scanned
    for group starts once, plus its first row against the carried last
    row, so a group spanning many batches costs time linear in its rows."""
    import pyarrow as pa

    carry = []  # single-chunk table slices of the open group
    keys = _BLOB_KEYS
    for rb in batches:
        if rb.num_rows == 0:
            continue
        tbl = pa.Table.from_batches([rb])
        if "payload" in tbl.column_names:
            keys = ("tier", "conv_id")
        new = _key_change(tbl, keys)
        if carry:
            new[0] = _row_key(tbl, 0, keys) != _row_key(carry[-1], -1, keys)
        starts = np.flatnonzero(new)
        if not len(starts):
            carry.append(tbl)
            continue
        start = int(starts[-1])
        done, carry = carry + [tbl.slice(0, start)], [tbl.slice(start)]
        yield from _pack_block(done)
    yield from _pack_block(carry)


def _pack_block(parts) -> Iterator:
    """The blobs of the closed groups in the table slices ``parts``."""
    if not any(t.num_rows for t in parts):
        return
    tbl = _concat(parts)
    if "payload" in tbl.column_names:
        tbl = _repack_points(tbl)
    if tbl.num_rows:
        yield _run_block_arrow(tbl)


def _repack_points(tbl):
    """The points to pack of the whole (tier, conv_id) groups ``tbl``, a
    sorted union of new points and the groups' previous blobs (``RANK``,
    ``n_points``, ``payload``, ``xn``; a blob row has no point columns).

    Each window's latest blob is its highest-``RANK`` one. A window that
    holds a new point decodes its latest blob (Xn-checked) and numbers
    the old points from the summed ``n_points`` of the latest blobs of
    the group's earlier windows — their turn_idx, as windows are
    time-ordered and turn_idx dense. Windows without a new point are not
    decoded and pack nothing. The result has the point columns only, in
    ``pack_points``' sort order."""
    import pyarrow as pa

    from ..codec.decode_vec import check_xn, decode_concat

    def take(name, rows):
        return tbl.column(name).chunk(0).take(pa.array(rows))

    def arr(col):
        return col.to_numpy(zero_copy_only=False)

    wid = np.cumsum(_key_change(tbl)) - 1
    gid = np.cumsum(_key_change(tbl, ("tier", "conv_id"))) - 1
    is_blob = arr(tbl.column("payload").chunk(0).is_valid())
    bi, pi = np.flatnonzero(is_blob), np.flatnonzero(~is_blob)
    by_rank = bi[np.lexsort((arr(take(RANK, bi)), wid[bi]))]
    last = np.ones(len(by_rank), dtype=bool)
    last[:-1] = wid[by_rank][1:] != wid[by_rank][:-1]
    latest = by_rank[last]
    # each latest blob's first turn_idx: the points of its group's
    # earlier latest blobs
    npts = arr(take("n_points", latest))
    before = np.cumsum(npts) - npts
    g = gid[latest]
    g_start = np.ones(len(g), dtype=bool)
    g_start[1:] = g[1:] != g[:-1]
    off = before - np.maximum.accumulate(np.where(g_start, before, 0))
    touched = np.isin(wid[latest], wid[pi])
    blobs, off = latest[touched], off[touched]

    blob_pts = np.zeros(0, dtype=np.int64)
    ts_old, old = blob_pts, [np.zeros(0, dtype=np.uint64) for _ in STREAMS]
    if len(blobs):
        data, starts, ends = _binary_spans(take("payload", blobs))
        blob_pts, point_off, ts_old, old = decode_concat(data, starts, ends)
        check_xn(old, point_off, arr(take("xn", blobs)).view(np.uint64))
    first = np.repeat(off - np.cumsum(blob_pts) + blob_pts, blob_pts)
    rows = np.concatenate([np.repeat(blobs, blob_pts), pi])
    turn = np.concatenate([first + np.arange(len(ts_old)), arr(take("turn_idx", pi))])
    ts = np.concatenate([ts_old, arr(take("ts_us", pi))])
    vals = [np.concatenate([v.view(np.float64), arr(take(c, pi))]) for v, c in zip(old, STREAMS)]
    valid = [
        np.concatenate([np.ones(len(ts_old), bool), arr(take(c, pi).is_valid())])
        for c in STREAMS
    ]
    # pack_points' order: window, turn_idx, ts_us, then each stream with
    # nulls first and NaN after every number (lexsort: last key first)
    order = np.lexsort(
        [k for v, ok in zip(vals[::-1], valid[::-1]) for k in (v, ok)] + [ts, turn, wid[rows]]
    )
    rows = pa.array(rows[order])
    return pa.table(
        {
            **{k: tbl.column(k).chunk(0).take(rows) for k in _keys(tbl)},
            "turn_idx": turn[order],
            "ts_us": ts[order],
            **{c: v[order] for c, v in zip(STREAMS, vals)},
        }
    )


def tier_points(metrics: DataFrame, tier: str) -> DataFrame:
    """metrics (derive_turn_metrics output) -> the flat points of ``tier``
    that ``pack_points`` packs: (tier, conv_id, window_start_us, turn_idx,
    ts_us, *STREAMS)."""
    return metrics.select(
        F.lit(tier).alias("tier"),
        "conv_id",
        window_start_col(F.col("ts_us"), tier).alias("window_start_us"),
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "ts_us",
        *[F.col(s).cast("double").alias(s) for s in STREAMS],
    )


def pack_points(flat: DataFrame) -> DataFrame:
    """Flat points of ANY tiers (``tier_points`` rows) -> one packed blob
    per (tier, conv_id, window_start_us), ``tier`` last: one exchange and
    one kernel pass whatever the number of tiers. The planner drops the
    conv_id exchange when the input is already hash-partitioned on
    conv_id (e.g. by derive_turn_metrics' lag window). Rows may also hold
    previous blobs to repack (module doc); then only the windows with a
    new point are packed."""
    return (
        flat.repartition("conv_id")
        .sortWithinPartitions(
            "conv_id", "tier", "window_start_us", "turn_idx", "ts_us", *STREAMS
        )
        .mapInArrow(_pack_flat_arrow, schema=_PACKED_TIER_SCHEMA)
    )


def pack_tier(metrics: DataFrame, tier: str) -> DataFrame:
    """metrics (derive_turn_metrics output) -> packed window blobs of
    ``tier`` (``pack_points`` of its ``tier_points``)."""
    return pack_points(tier_points(metrics, tier))


# ----------------------------------------------------------------------
# unpack + audits
# ----------------------------------------------------------------------

_POINT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("window_start_us", LongType()),
        StructField("ts_us", LongType()),
    ]
    + [StructField(f"{s}_f", DoubleType()) for s in STREAMS]
)

_POINT_SCHEMA_POS = StructType(
    _POINT_SCHEMA.fields + [StructField("pos", LongType())]
)


def _binary_spans(col) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(data, starts, ends) views of an Arrow Binary/LargeBinary array's
    value buffer — no per-row ``bytes`` objects, no copies."""
    import pyarrow as pa

    off_dtype = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    off = np.frombuffer(col.buffers()[1], dtype=off_dtype)[
        col.offset : col.offset + len(col) + 1
    ].astype(np.int64)
    data = np.frombuffer(col.buffers()[2], dtype=np.uint8)
    return data, off[:-1], off[1:]


def _decode_partition_arrow(batches, with_pos: bool = False) -> "Iterator":
    """Vectorized unpack of a whole Arrow batch of payload blobs: one
    decode_concat call per batch (codec/decode_vec.py wavefront kernel),
    output columns built from flat numpy arrays."""
    import pyarrow as pa

    from ..codec.decode_vec import check_xn, decode_concat

    for rb in batches:
        if rb.num_rows == 0:
            continue
        names = rb.schema.names
        pay = rb.column(names.index("payload"))
        data, starts, ends = _binary_spans(pay)
        blob_pts, point_off, ts_out, streams = decode_concat(data, starts, ends)
        xn = rb.column(names.index("xn")).to_numpy().view(np.uint64)
        check_xn(streams, point_off, xn)

        idx = np.repeat(np.arange(rb.num_rows), blob_pts)
        conv_out = rb.column(names.index("conv_id")).take(pa.array(idx))
        ws_out = rb.column(names.index("window_start_us")).to_numpy()[idx]
        arrays = [conv_out, pa.array(ws_out), pa.array(ts_out)]
        out_names = ["conv_id", "window_start_us", "ts_us"]
        for s in streams:
            arrays.append(pa.array(s.view(np.float64)))
        out_names += [f"{s}_f" for s in STREAMS]
        if with_pos:
            pos = np.arange(len(ts_out)) - np.repeat(point_off[:-1], blob_pts)
            arrays.append(pa.array(pos))
            out_names.append("pos")
        yield pa.RecordBatch.from_arrays(arrays, names=out_names)


def unpack_tier(packed: DataFrame, with_pos: bool = False) -> DataFrame:
    """Inverse of pack_tier: explode blobs back into per-point rows with the
    Xn integrity check (unpackdata.c:556-561 analogue) enforced per window.

    The read side is as first-class as the write side (the reference's
    unpack suite is larger than its pack suite, libmseed/unpackdata.c):
    one mapInArrow pass, whole-batch numpy wavefront decode, zero per-point
    Python. ``with_pos=True`` also emits each point's index within its
    blob — the deterministic intra-window order repack relies on."""
    return packed.select("conv_id", "window_start_us", "payload", "xn").mapInArrow(
        lambda batches: _decode_partition_arrow(batches, with_pos),
        schema=_POINT_SCHEMA_POS if with_pos else _POINT_SCHEMA,
    )


def read_tier_selection(
    packed: DataFrame,
    selections: list[tuple[str, int | None, int | None]],
) -> DataFrame:
    """SURVEY §3.2 read path (ms_readtraces_selection, fileutils.c:779):
    selections applied to the PACKED tier table first — the conv glob plus
    a coarse [first_ts_us, last_ts_us] overlap predicate prune whole blobs
    at the scan (the parse-with-selection short-circuit, fileutils.c:
    805-818) — then only surviving blobs are decoded, then the exact
    per-point time filter runs on the decoded rows."""
    from ..functions.selections import apply_selections, glob_match

    pred = None
    for glob, lo, hi in selections:
        p = glob_match("conv_id", glob)
        if lo is not None:
            p = p & (F.col("last_ts_us") >= F.lit(lo))
        if hi is not None:
            p = p & (F.col("first_ts_us") <= F.lit(hi))
        pred = p if pred is None else pred | p
    coarse = packed.filter(pred) if pred is not None else packed
    return apply_selections(unpack_tier(coarse), selections)


def repack_tier(packed: DataFrame, to_tier: str) -> DataFrame:
    """msrepack analogue (example/msrepack.c:49; SURVEY §3.3): decode a
    tier's payloads and re-encode at a coarser tier WITHOUT touching the
    raw table — decode → re-window → encode, all vectorized.

    Point order is reconstructed from (source window, position-in-blob),
    which equals the original turn order only when ts_us is monotone
    w.r.t. turn_idx within each conversation (windows are time-ordered,
    so an out-of-order timestamp re-sorts points across windows). Under
    that precondition AND dense turn_idx, repacked blobs are
    byte-identical to packing the coarser tier from raw metrics (tests
    assert); with sparse turn_idx or out-of-order timestamps the decoded
    VALUES are still identical but chunk boundaries (hence bytes) may
    diverge from a direct pack."""
    from pyspark.sql import Window

    pts = unpack_tier(packed, with_pos=True)
    w = Window.partitionBy("conv_id").orderBy("window_start_us", "pos")
    flat = pts.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("long").alias("turn_idx"),
        "ts_us",
        *[F.col(f"{s}_f").alias(s) for s in STREAMS],
    )
    return pack_tier(flat, to_tier)

