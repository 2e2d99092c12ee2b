"""Vectorized blob decoder — numpy wavefront kernel, symmetric to the
encoder in codec/vectorized.py.

Decodes an entire Arrow batch of payload blobs at once. The varint headers
are parsed one field at a time across every blob (a wavefront over chunk
index, never a loop over blobs). The prefix-coded bitstreams are
inherently sequential *within* a section, but sections are mutually
independent, so the kernel advances ONE code index at a time across ALL
sections simultaneously ("wavefront"): each iteration is a handful of
flat numpy gathers/shifts over every still-active section. Timestamp and
integer-mode sections share one Rice wavefront (a unary quotient is the
count of leading ones of the next 64 bits), Gorilla sections run a second
one; sections are processed in descending code-count order so the active
set is always a prefix. An empty Rice section decodes to zeros without a
lane. Segmented prefix sums then rebuild the timestamps and integer
values. Total cost is O(total_points) vector
element-ops — the read-side twin of encode_chunks_raw, with no per-point
interpreted loop (the reference's read path is *bigger* than its write
path: libmseed/unpackdata.c:35-564, 530 LoC, and 24 of its
31 golden tests are read tests — the decode side must be first-class).

Values are bit-identical to codec/oracle.py's decode_blob (tests assert),
including the Xn final-value integrity check (unpackdata.c:556-561), and
every malformed payload the oracle rejects raises ValueError here too.
"""

from __future__ import annotations

import numpy as np

from . import (
    CANONICAL_NAN,
    FIRST_NAN,
    GOR_LZ_BITS,
    GOR_MLEN_BITS,
    MODE_BITS,
    MODE_CODES,
    MODE_DELTA,
    MODE_FLOAT,
    MODE_PREV,
    RICE_CAP,
    RICE_K_BITS,
    RICE_K_MAX,
    VERSION,
    mode_bytes,
)

_U64 = np.uint64
_ONE = _U64(1)
_MODE_CODES = np.array(MODE_CODES, dtype=np.uint8)
# a code's top RICE_CAP bits -> its unary's length: the leading ones (clz
# of the inverted word) and the '0' after them, RICE_CAP + 1 for the escape
_UNARY_LEN = (
    RICE_CAP
    + 1
    - np.frexp((~np.arange(1 << RICE_CAP) & ((1 << RICE_CAP) - 1)).astype(np.float64))[1]
).astype(_U64)
# 7-bit groups of 2, 4, then 8 bytes packed: keep the low half of each
# lane, shift the high half down by the gaps below it
_PACK_STEPS = [
    (_U64(0x00FF00FF00FF00FF), _U64(1)),
    (_U64(0x0000FFFF0000FFFF), _U64(2)),
    (_U64(0x00000000FFFFFFFF), _U64(4)),
]
_GOR_HDR = 1 + GOR_LZ_BITS + GOR_MLEN_BITS


def _read_varints(buf: np.ndarray, off: np.ndarray, end: np.ndarray):
    """(uint64 values, offsets after them) of the varints at ``off``; each
    must end before its lane's ``end`` within 10 bytes and fit 64 bits.
    ``buf`` carries >= 16 bytes of slack past the data.

    A varint of up to 8 bytes is read as one unaligned little-endian word:
    its last byte is the lowest one with the top bit clear, and three
    mask-and-shift steps pack the 7-bit groups. A 9- or 10-byte varint
    adds its last bytes to that."""
    w = np.ndarray((len(buf) - 7,), dtype="<u8", buffer=buf, strides=(1,))[off]
    t = ~w & _U64(0x8080808080808080)
    low = t & (~t + _ONE)  # 2^(8i+7) for the last byte i; 0 past 8 bytes
    n = (np.frexp(low.astype(np.float64))[1] >> 3).astype(np.int64)
    v = w & ((low << _ONE) - _ONE) & _U64(0x7F7F7F7F7F7F7F7F)
    for m, sh in _PACK_STEPS:
        v = (v & m) | ((v & ~m) >> sh)
    long = np.flatnonzero(low == 0)
    if len(long):
        b8, b9 = buf[off[long] + 8], buf[off[long] + 9]
        ten = b8 >= 0x80
        if (ten & (b9 > 1)).any():
            raise ValueError("varint overflows 64 bits")
        v[long] |= (b8 & 0x7F).astype(_U64) << _U64(56)
        v[long] |= np.where(ten, b9.astype(_U64) << _U64(63), _U64(0))
        n[long] = np.where(ten, 10, 9)
    if (off + n > end).any():
        raise ValueError("truncated varint")
    return v, off + n


def _unzigzag(z: np.ndarray) -> np.ndarray:
    return ((z >> _ONE) ^ (_U64(0) - (z & _ONE))).view(np.int64)


def _read_section(buf, off, end):
    """(bit origin, bit end, offset after) of ``varint nbytes + bytes``."""
    nb, off = _read_varints(buf, off, end)
    if (nb > (end - off).view(_U64)).any():
        raise ValueError("section length past blob end")
    stop = off + nb.astype(np.int64)
    return off << 3, stop << 3, stop


def _parse(buf: np.ndarray, starts: np.ndarray, ends: np.ndarray):
    """Walk blob + chunk headers, vectorized over blobs.

    The chunk-offset chain is sequential per blob (each chunk's size depends
    on its varints and section lengths), so iterate over *chunk index* and
    read every blob's c-th chunk header field by field in one shot —
    max(n_chunks) iterations of flat work, never a per-blob Python walk.
    """
    B = len(starts)
    if B == 0:
        raise ValueError("empty batch")
    if (ends - starts < 2).any():
        raise ValueError("blob shorter than its header")
    if not np.all(buf[starts] >> 4 == VERSION):
        raise ValueError("unsupported version")
    ns_arr = (buf[starts] & 0xF).astype(np.int64)
    if not np.all(ns_arr == ns_arr[0]):
        raise ValueError("mixed n_streams in batch")
    S = int(ns_arr[0])
    n_mode = mode_bytes(S)
    n_chunks, cur = _read_varints(buf, starts + 1, ends)
    if (n_chunks > (ends - cur).view(_U64)).any():
        raise ValueError("chunk count exceeds blob length")
    n_chunks = n_chunks.astype(np.int64)
    max_pts = (8 * (ends - starts) + 2).view(_U64)

    C = int(n_chunks.sum())
    base = np.zeros(B, dtype=np.int64)
    np.cumsum(n_chunks[:-1], out=base[1:])
    cn = np.empty(C, np.int64)
    ct0 = np.empty(C, np.int64)
    cd0 = np.zeros(C, np.int64)
    ts_org = np.zeros(C, np.int64)  # absolute bit offsets
    ts_end = np.zeros(C, np.int64)
    smode = np.empty((S, C), np.uint8)
    sfirst = np.zeros((S, C), np.int64)
    s_org = np.empty((S, C), np.int64)
    s_end = np.empty((S, C), np.int64)

    for c in range(int(n_chunks.max())):
        act = np.flatnonzero(n_chunks > c)
        o, e, idx = cur[act], ends[act], base[act] + c
        n, o = _read_varints(buf, o, e)
        if ((n == 0) | (n > max_pts[act])).any():
            raise ValueError("chunk point count out of range")
        cn[idx] = n = n.astype(np.int64)
        z, o = _read_varints(buf, o, e)
        ct0[idx] = _unzigzag(z)
        g = np.flatnonzero(n >= 2)
        z, o[g] = _read_varints(buf, o[g], e[g])
        cd0[idx[g]] = _unzigzag(z)
        g = np.flatnonzero(n >= 3)
        ts_org[idx[g]], ts_end[idx[g]], o[g] = _read_section(buf, o[g], e[g])
        if (o + n_mode > e).any():
            raise ValueError("truncated stream header")
        packed = np.zeros(len(o), dtype=_U64)
        for j in range(n_mode):
            packed |= buf[o + j].astype(_U64) << _U64(8 * j)
        o = o + n_mode
        if (packed >> _U64(MODE_BITS * S)).any():
            raise ValueError("unknown stream mode in the padding bits")
        for s in range(S):
            m = ((packed >> _U64(MODE_BITS * s)) & _U64((1 << MODE_BITS) - 1)).astype(np.uint8)
            if not np.isin(m, _MODE_CODES).all():
                raise ValueError("unknown stream mode")
            smode[s, idx] = m
            g = np.flatnonzero((m == MODE_PREV) | (m == MODE_DELTA))
            z, o[g] = _read_varints(buf, o[g], e[g])
            sfirst[s, idx[g]] = _unzigzag(z)
            s_org[s, idx], s_end[s, idx], o = _read_section(buf, o, e)
        cur[act] = o
    if not np.array_equal(cur, ends):
        raise ValueError("trailing bytes in blob")
    return S, n_chunks, cn, ct0, cd0, ts_org, ts_end, smode, sfirst, s_org, s_end


def _peek64(words: np.ndarray, bitpos: np.ndarray) -> np.ndarray:
    """Next 64 bits (MSB-aligned) at each absolute bit offset.

    ``words`` is the padded buffer viewed as native uint64 words holding
    big-endian byte order (one byteswap up front); a read at bit p spans at
    most words[p>>6] and the following word. A cursor run past the buffer
    (a malformed section) reads the last words; the caller's end check
    rejects it.
    """
    w = np.minimum(bitpos >> 6, len(words) - 2)
    off = (bitpos & 63).view(_U64)
    # two shifts, so an aligned read takes none of the next word
    return (words[w] << off) | ((words[w + 1] >> _ONE) >> (_U64(63) - off))


def _check_end(cur, end):
    if (cur > end).any():
        raise ValueError("bitstream overruns its section")


def _decode_rice(words, org, end, count, out_at, out):
    """Rice wavefront over _gather_lanes output (non-empty sections only):
    section i's j-th zigzag residual -> out[out_at[i] + j]."""
    L = len(count)
    if not L:
        return
    k = _peek64(words, org) >> _U64(64 - RICE_K_BITS)
    if (k > RICE_K_MAX).any():
        raise ValueError("Rice parameter out of range")
    sh = _U64(63) - k
    cur = org + RICE_K_BITS
    asc = count[::-1]
    for j in range(int(count[0])):
        m = L - int(np.searchsorted(asc, j, side="right"))
        c = cur[:m]
        km = k[:m]
        w = _peek64(words, c)
        u = _UNARY_LEN[w >> _U64(64 - RICE_CAP)]
        # the quotient, then the k bits after the unary (two shifts, so
        # k = 0 reads none)
        z = ((u - _ONE) << km) | (((w << u) >> _ONE) >> sh[:m])
        step = u + km
        esc = u > RICE_CAP
        if esc.any():
            e = np.flatnonzero(esc)
            z[e] = _peek64(words, c[e] + RICE_CAP)
            step[e] = RICE_CAP + 64
        out[out_at[:m] + j] = z.view(np.int64)
        cur[:m] += step.view(np.int64)
    _check_end(cur, end)
    if (end - cur >= 8).any():
        raise ValueError("section longer than its codes")


def _decode_gorilla(words, org, end, count, out_at, out):
    """Gorilla XOR wavefront over _gather_lanes output: raw first value,
    then one step per index."""
    first = _peek64(words, org)
    out[out_at] = first
    prev = first.copy()
    cur = org + 64
    L = len(count)
    asc = count[::-1]
    for j in range(1, int(count[0]) if L else 0):
        k = L - int(np.searchsorted(asc, j, side="right"))
        w = _peek64(words, cur[:k])
        same = (w >> _U64(63)) == 0
        lz = ((w >> _U64(64 - 1 - GOR_LZ_BITS)) & _U64((1 << GOR_LZ_BITS) - 1)).astype(np.int64)
        ml = (((w >> _U64(64 - _GOR_HDR)) & _U64((1 << GOR_MLEN_BITS) - 1)) + _ONE).astype(np.int64)
        w2 = _peek64(words, cur[:k] + _GOR_HDR)
        m = w2 >> ((_U64(64) - ml.view(_U64)) & _U64(63))  # ml==64 -> shift 0
        sh = np.maximum(64 - lz - ml, 0).astype(_U64)  # clamp garbage lanes
        nv = np.where(same, prev[:k], prev[:k] ^ (m << sh))
        out[out_at[:k] + j] = nv
        prev[:k] = nv
        cur[:k] += np.where(same, 1, _GOR_HDR + ml)
    _check_end(cur, end)


def _gather_lanes(secs, cn, first):
    """(bit origin, bit end, code count, output index) of every section
    lane, from (chunk indices, origins, ends, first coded point, output
    base) per section kind; sorted by descending code count, so each
    wavefront step's active set is a prefix."""
    cols = [
        (org[ix], end[ix], cn[ix] - skip, base + first[ix] + skip)
        for ix, org, end, skip, base in secs
    ]
    org, end, count, out_at = (np.concatenate(c) for c in zip(*cols))
    order = np.argsort(-count, kind="stable")
    return org[order], end[order], count[order], out_at[order]


def _seg_cumsum(x: np.ndarray, first: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Prefix sums restarting at each segment start (int64, wrapping)."""
    c = np.cumsum(x)
    return c - np.repeat(c[first] - x[first], counts)


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
    if len(starts) and ((starts < 0).any() or (ends > len(data)).any()):
        raise ValueError("blob span outside the buffer")
    pad = (-len(data)) % 8 + 16
    buf = np.concatenate([data, np.zeros(pad, np.uint8)])
    S, n_chunks, cn, ct0, cd0, ts_org, ts_end, smode, sfirst, s_org, s_end = _parse(
        buf, starts, ends
    )
    words = buf.view(np.uint64)
    if np.little_endian:
        words = words.byteswap()

    C = len(cn)
    first = np.zeros(C, dtype=np.int64)
    np.cumsum(cn[:-1], out=first[1:])
    N = int(cn.sum())

    # timestamp and integer-mode residuals: one wavefront over the
    # non-empty sections, one buffer (an empty section's residuals are 0)
    resid = np.zeros((1 + S) * N, dtype=np.int64)
    kind = smode & ~np.uint8(FIRST_NAN)
    if ((kind != MODE_FLOAT) & (cn == 1) & (s_end > s_org)).any():
        raise ValueError("non-empty section without residuals")
    secs = [(np.flatnonzero((cn >= 3) & (ts_end > ts_org)), ts_org, ts_end, 2, 0)]
    secs += [
        (np.flatnonzero((kind[s] != MODE_FLOAT) & (cn >= 2) & (s_end[s] > s_org[s])),
         s_org[s], s_end[s], 1, (1 + s) * N)
        for s in range(S)
    ]
    _decode_rice(words, *_gather_lanes(secs, cn, first), resid)
    resid = _unzigzag(resid.view(_U64))
    gbits = np.zeros(S * N, dtype=_U64)
    secs = [(np.flatnonzero(kind[s] == MODE_FLOAT), s_org[s], s_end[s], 0, s * N)
            for s in range(S)]
    if any(len(sec[0]) for sec in secs):
        _decode_gorilla(words, *_gather_lanes(secs, cn, first), gbits)

    # delta[k] = ts[k] - ts[k-1]: delta0, then the running dod sums
    dd = resid[:N]
    g2 = cn >= 2
    dd[first[g2] + 1] = cd0[g2]
    delta = _seg_cumsum(dd, first, cn)
    y = delta.copy()
    y[first] = ct0
    ts_out = _seg_cumsum(y, first, cn)

    streams = []
    for s in range(S):
        r = resid[(1 + s) * N : (2 + s) * N]
        pm = np.repeat(kind[s], cn)
        r[first] = sfirst[s]
        v = np.where(pm == MODE_PREV, _seg_cumsum(r, first, cn), delta + r)
        v[first] = sfirst[s]
        out = v.astype(np.float64).view(_U64)
        out[first[(smode[s] & FIRST_NAN) != 0]] = CANONICAL_NAN
        flt = pm == MODE_FLOAT
        out[flt] = gbits[s * N : (s + 1) * N][flt]
        streams.append(out)

    point_off = np.concatenate([[0], np.cumsum(cn)])[np.cumsum(np.append(0, n_chunks))]
    blob_pts = np.diff(point_off)
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
