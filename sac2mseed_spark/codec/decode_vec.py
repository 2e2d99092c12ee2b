"""Vectorized blob decoder — numpy wavefront kernel, symmetric to the
encoder in codec/vectorized.py.

Decodes an entire Arrow batch of payload blobs at once. The prefix-coded
bitstreams are inherently sequential *within* a chunk, but chunks are
mutually independent, so the kernel advances ONE point index at a time
across ALL chunks simultaneously ("wavefront"): each iteration is a handful
of flat numpy gathers/shifts over every still-active chunk. Chunks are
processed in descending point-count order so the active set is always a
prefix and per-iteration work is proportional to live chunks. Total cost is
O(total_points) vector element-ops — the read-side twin of
encode_chunks_raw, with no per-point interpreted loop (the
reference's read path is *bigger* than its write path:
/root/reference/libmseed/unpackdata.c:35-564, 530 LoC, and 24 of its 31
golden tests are read tests — the decode side must be first-class).

Values are bit-identical to codec/oracle.py's decode_blob (tests assert),
including the Xn final-value integrity check (unpackdata.c:556-561).
"""

from __future__ import annotations

import numpy as np

from . import BLOB_HEADER_LEN, MAGIC, VERSION

_U64 = np.uint64
_ONE = _U64(1)


def _gather_le(data: np.ndarray, off: np.ndarray, nbytes: int) -> np.ndarray:
    """Little-endian unsigned ints of ``nbytes`` gathered at byte offsets."""
    v = data[off].astype(_U64)
    for j in range(1, nbytes):
        v |= data[off + j].astype(_U64) << _U64(8 * j)
    return v


def _peek64(words: np.ndarray, bitpos: np.ndarray) -> np.ndarray:
    """Next 64 bits (MSB-aligned) at each absolute bit offset.

    ``words`` is the padded buffer viewed as native uint64 words holding
    big-endian byte order (one byteswap up front); a read at bit p spans at
    most words[p>>6] and the following word.
    """
    w = bitpos >> 6
    off = (bitpos & 63).astype(_U64)
    v = words[w]
    v2 = words[w + 1]
    sh = (_U64(64) - off) & _U64(63)
    lo = np.where(off == 0, _U64(0), v2 >> sh)
    return np.where(off == 0, v, (v << off) | lo)


def _parse(data: np.ndarray, starts: np.ndarray, ends: np.ndarray):
    """Walk blob + chunk headers, vectorized over blobs.

    The chunk-offset chain is sequential per blob (each chunk's size depends
    on its section lengths), so iterate over *chunk index* and gather every
    blob's c-th chunk header in one shot — max(n_chunks) iterations of flat
    work instead of a per-chunk Python walk.
    """
    B = len(starts)
    if B == 0:
        raise ValueError("empty batch")
    if not (np.all(data[starts] == MAGIC[0]) and np.all(data[starts + 1] == MAGIC[1])):
        raise ValueError("bad magic")
    if not np.all(data[starts + 2] == VERSION):
        raise ValueError("unsupported version")
    ns_arr = data[starts + 3].astype(np.int64)
    if not np.all(ns_arr == ns_arr[0]):
        raise ValueError("mixed n_streams in batch")
    n_streams = int(ns_arr[0])
    n_chunks = _gather_le(data, starts + 4, 4).astype(np.int64)
    blob_pts = _gather_le(data, starts + 8, 8).astype(np.int64)

    total_chunks = int(n_chunks.sum())
    base = np.zeros(B, dtype=np.int64)
    np.cumsum(n_chunks[:-1], out=base[1:])
    cn = np.empty(total_chunks, np.int64)
    ct0 = np.empty(total_chunks, np.int64)
    cd0 = np.empty(total_chunks, np.int64)
    ts_org = np.empty(total_chunks, np.int64)  # absolute bit offsets
    s_org = [np.empty(total_chunks, np.int64) for _ in range(n_streams)]

    cur = (starts + BLOB_HEADER_LEN).astype(np.int64)
    max_c = int(n_chunks.max()) if B else 0
    for c in range(max_c):
        act = np.flatnonzero(n_chunks > c)
        o = cur[act]
        idx = base[act] + c
        cn[idx] = _gather_le(data, o, 4).astype(np.int64)
        ct0[idx] = _gather_le(data, o + 4, 8).view(np.int64)
        cd0[idx] = _gather_le(data, o + 12, 8).view(np.int64)
        ts_len = _gather_le(data, o + 20, 4).astype(np.int64)
        ts_org[idx] = (o + 24) << 3
        so = o + 24 + ts_len
        for s in range(n_streams):
            slen = _gather_le(data, so, 4).astype(np.int64)
            s_org[s][idx] = (so + 4) << 3
            so = so + 4 + slen
        cur[act] = so
    if not np.array_equal(cur, ends):
        raise ValueError("trailing bytes in blob")
    if (cn <= 0).any():
        # a zero-point chunk would make its output offset collide with the
        # next chunk's and silently clobber decoded values — fail loudly
        # like every other header check
        raise ValueError("chunk with non-positive point count")
    # header n_points must equal the chunk sum per blob
    csum = np.zeros(total_chunks + 1, np.int64)
    np.cumsum(cn, out=csum[1:])
    seg = csum[base + n_chunks] - csum[base]
    if not np.array_equal(seg, blob_pts):
        raise ValueError("blob n_points header disagrees with chunk sum")
    return n_streams, n_chunks, blob_pts, cn, ct0, cd0, ts_org, s_org


_CONSUME = np.array([1, 9, 15, 24, 37, 69], dtype=np.int64)


def _decode_ts(words, cn, ct0, cd0, ts_org, order, n_s, pos0, out):
    """Delta-of-delta wavefront: one iteration per point index >= 2."""
    out[pos0] = ct0[order]
    ge2 = n_s >= 2
    d0_s = cd0[order]
    out[pos0[ge2] + 1] = ct0[order][ge2] + d0_s[ge2]

    cur = ts_org[order].copy()
    delta = d0_s.copy()
    prev = np.where(ge2, ct0[order] + d0_s, ct0[order])
    M = len(cn)
    maxn = int(n_s[0]) if M else 0
    asc = n_s[::-1]
    for j in range(2, maxn):
        k = M - int(np.searchsorted(asc, j, side="right"))
        w = _peek64(words, cur[:k])
        is0 = (w >> _U64(63)) == 0
        p2 = (w >> _U64(62)) == _U64(0b10)
        p3 = (w >> _U64(61)) == _U64(0b110)
        p4 = (w >> _U64(60)) == _U64(0b1110)
        top5 = w >> _U64(59)
        p5 = top5 == _U64(0b11110)
        p6 = top5 == _U64(0b11111)
        z = np.zeros(k, _U64)
        np.copyto(z, (w >> _U64(55)) & _U64(0x7F), where=p2)
        np.copyto(z, (w >> _U64(49)) & _U64(0xFFF), where=p3)
        np.copyto(z, (w >> _U64(40)) & _U64(0xFFFFF), where=p4)
        np.copyto(z, (w >> _U64(27)) & _U64(0xFFFFFFFF), where=p5)
        if p6.any():
            i64 = np.flatnonzero(p6)
            z[i64] = _peek64(words, cur[:k][i64] + 5)
        sel = (
            p2.astype(np.int8)
            + 2 * p3.astype(np.int8)
            + 3 * p4.astype(np.int8)
            + 4 * p5.astype(np.int8)
            + 5 * p6.astype(np.int8)
        )
        dod = ((z >> _ONE) ^ (_U64(0) - (z & _ONE))).view(np.int64)
        dod[is0] = 0
        delta[:k] += dod
        ts = prev[:k] + delta[:k]
        out[pos0[:k] + j] = ts
        prev[:k] = ts
        cur[:k] += _CONSUME[sel]


def _decode_stream(words, org, order, n_s, pos0, out):
    """Gorilla XOR wavefront: raw first value, then one iteration per index."""
    org_s = org[order]
    first = _peek64(words, org_s)
    out[pos0] = first
    prev = first.copy()
    cur = org_s + 64
    M = len(org_s)
    maxn = int(n_s[0]) if M else 0
    asc = n_s[::-1]
    for j in range(1, maxn):
        k = M - int(np.searchsorted(asc, j, side="right"))
        w = _peek64(words, cur[:k])
        same = (w >> _U64(63)) == 0
        lz = ((w >> _U64(58)) & _U64(31)).astype(np.int64)
        ml = (((w >> _U64(52)) & _U64(63)) + _U64(1)).astype(np.int64)
        w2 = _peek64(words, cur[:k] + 12)
        m = w2 >> ((_U64(64) - ml.view(_U64)) & _U64(63))  # ml==64 -> shift 0
        sh = np.maximum(64 - lz - ml, 0).astype(_U64)  # clamp garbage lanes
        nv = np.where(same, prev[:k], prev[:k] ^ (m << sh))
        out[pos0[:k] + j] = nv
        prev[:k] = nv
        cur[:k] += np.where(same, 1, 12 + ml)


def decode_concat(data: np.ndarray, starts: np.ndarray, ends: np.ndarray):
    """Decode many blobs stored in one byte buffer.

    data: uint8 buffer containing the blobs (an Arrow BinaryArray data
    buffer works directly — no per-blob ``bytes`` objects).
    starts/ends: int64[B] byte ranges of each blob within ``data``.

    Returns (blob_pts int64[B], point_off int64[B+1], ts int64[N],
    streams list[uint64[N]]) with points in blob order, chunk order.
    """
    data = np.ascontiguousarray(data, dtype=np.uint8)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    n_streams, n_chunks, blob_pts, cn, ct0, cd0, ts_org, s_org = _parse(
        data, starts, ends
    )
    pad = (-len(data)) % 8 + 16
    buf = np.concatenate([data, np.zeros(pad, np.uint8)])
    words = buf.view(np.uint64)
    if np.little_endian:
        words = words.byteswap()

    out_off = np.zeros(len(cn) + 1, dtype=np.int64)
    np.cumsum(cn, out=out_off[1:])
    N = int(out_off[-1])
    # descending point count -> active wavefront is always a prefix
    order = np.argsort(-cn, kind="stable")
    n_s = cn[order]
    pos0 = out_off[:-1][order]

    ts_out = np.empty(N, dtype=np.int64)
    _decode_ts(words, cn, ct0, cd0, ts_org, order, n_s, pos0, ts_out)
    streams = []
    for s in range(n_streams):
        so = np.empty(N, dtype=np.uint64)
        _decode_stream(words, s_org[s], order, n_s, pos0, so)
        streams.append(so)

    point_off = np.zeros(len(starts) + 1, dtype=np.int64)
    np.cumsum(blob_pts, out=point_off[1:])
    return blob_pts, point_off, ts_out, streams


def check_xn(streams, point_off, expect_xn: np.ndarray) -> None:
    """Vectorized final-value integrity check on stream 0 per blob
    (unpackdata.c:556-561 analogue)."""
    if not streams:
        return
    has = point_off[1:] > point_off[:-1]
    last = streams[0][point_off[1:] - 1]
    bad = has & (last != expect_xn)
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        raise ValueError(
            f"Xn mismatch in {int(bad.sum())} blob(s): blob {i} decoded "
            f"{int(last[i]):#x}, expected {int(expect_xn[i]):#x}"
        )


def decode_blob_vec(blob: bytes, expect_xn: int | None = None):
    """Single-blob convenience wrapper, list-shaped like oracle.decode_blob
    (for parity tests)."""
    data = np.frombuffer(blob, dtype=np.uint8)
    _, point_off, ts, streams = decode_concat(
        data, np.array([0], np.int64), np.array([len(blob)], np.int64)
    )
    if expect_xn is not None:
        check_xn(streams, point_off, np.array([expect_xn], dtype=np.uint64))
    return ts.tolist(), [[int(v) for v in s] for s in streams]
