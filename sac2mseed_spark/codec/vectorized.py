"""Vectorized (numpy) chunk encoder — the production kernel.

Encodes a whole Arrow batch of chunks in one shot: every per-point code in
the delta-of-delta and Gorilla-XOR streams is a pure function of at most two
consecutive points, so code values, code lengths, bit offsets (segmented
prefix sums) and the final bit-scatter are all flat array operations across
ALL chunks at once. No per-chunk Python loop — per-batch cost is O(total
points) numpy work, which is what lets a 1000-executor cluster keep its
cores busy instead of burning them on per-group interpreter overhead.

Greedy bucket choice parallels the reference's per-word Steim2 level choice
(/root/reference/libmseed/packdata.c:515-686); unlike Steim2 (which errors
on >30-bit diffs, packdata.c:681-686) the final bucket is a 64-bit literal.

Bytes produced are IDENTICAL to codec/oracle.py (asserted by tests): a
field list of (value, bitlen) pairs per point — prefix slot ≤32 bits,
payload-hi ≤32, payload-lo ≤32 — scattered MSB-first into one output buffer
whose section/chunk offsets are computed analytically.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_I64 = np.int64

# byte -> number of leading zeros within that byte (8 for 0)
_CLZ8 = np.full(256, 8, dtype=np.uint8)
for _v in range(1, 256):
    _CLZ8[_v] = 8 - _v.bit_length()
# byte -> trailing zeros within byte (8 for 0)
_CTZ8 = np.full(256, 8, dtype=np.uint8)
for _v in range(1, 256):
    _CTZ8[_v] = (_v & -_v).bit_length() - 1


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros of uint64 (x != 0 assumed where used)."""
    b = x.view(np.uint8).reshape(-1, 8)
    if np.little_endian:
        b = b[:, ::-1]
    nz = b != 0
    first = np.argmax(nz, axis=1)  # index of first nonzero byte (0 if all zero)
    any_nz = nz.any(axis=1)
    lead = first * 8 + _CLZ8[b[np.arange(len(b)), first]]
    return np.where(any_nz, lead, 64).astype(np.uint8)


def _ctz64(x: np.ndarray) -> np.ndarray:
    b = x.view(np.uint8).reshape(-1, 8)
    if np.little_endian:
        b = b[:, ::-1]
    nz = b != 0
    rev = nz[:, ::-1]
    last = np.argmax(rev, axis=1)  # trailing nonzero byte, from LSB side
    any_nz = nz.any(axis=1)
    trail = last * 8 + _CTZ8[b[np.arange(len(b)), 7 - last]]
    return np.where(any_nz, trail, 64).astype(np.uint8)


def _zigzag(d: np.ndarray) -> np.ndarray:
    d = d.astype(_I64, copy=False)
    return ((d << np.int64(1)) ^ (d >> np.int64(63))).view(_U64)


def _dod_slots(dod: np.ndarray):
    """(N,3) value/length slot arrays for delta-of-delta codes."""
    n = len(dod)
    z = _zigzag(dod)
    vals = np.zeros((n, 3), dtype=_U64)
    lens = np.zeros((n, 3), dtype=np.int64)

    zero = dod == 0
    b7 = ~zero & (z < _U64(1 << 7))
    b12 = ~zero & ~b7 & (z < _U64(1 << 12))
    b20 = ~zero & ~b7 & ~b12 & (z < _U64(1 << 20))
    b32 = ~zero & ~b7 & ~b12 & ~b20 & (z < _U64(1 << 32))
    b64 = ~zero & ~b7 & ~b12 & ~b20 & ~b32

    # prefix+payload combined into slot 0 when total <= 32 bits
    vals[b7, 0] = (_U64(0b10 << 7)) | z[b7]
    lens[b7, 0] = 9
    vals[b12, 0] = (_U64(0b110 << 12)) | z[b12]
    lens[b12, 0] = 15
    vals[b20, 0] = (_U64(0b1110 << 20)) | z[b20]
    lens[b20, 0] = 24
    # 32-bit payload: prefix slot + hi16 + lo16 (keeps every slot <= 32)
    vals[b32, 0] = _U64(0b11110)
    lens[b32, 0] = 5
    vals[b32, 1] = z[b32] >> _U64(16)
    lens[b32, 1] = 16
    vals[b32, 2] = z[b32] & _U64(0xFFFF)
    lens[b32, 2] = 16
    # 64-bit literal: prefix + hi32 + lo32
    vals[b64, 0] = _U64(0b11111)
    lens[b64, 0] = 5
    vals[b64, 1] = z[b64] >> _U64(32)
    lens[b64, 1] = 32
    vals[b64, 2] = z[b64] & _U64(0xFFFFFFFF)
    lens[b64, 2] = 32
    # dod == 0: single '0' bit
    lens[zero, 0] = 1
    return vals, lens


def _gorilla_slots(bits: np.ndarray, pos: np.ndarray):
    """(N,3) slots for a Gorilla XOR stream.

    pos == 0 points emit the raw 64-bit value (hi32+lo32); later points
    emit '0' or '1'+5b lz+6b (mlen-1)+meaningful bits.
    """
    n = len(bits)
    prev = np.empty_like(bits)
    prev[1:] = bits[:-1]
    prev[0] = 0
    x = bits ^ prev

    vals = np.zeros((n, 3), dtype=_U64)
    lens = np.zeros((n, 3), dtype=np.int64)

    first = pos == 0
    vals[first, 1] = bits[first] >> _U64(32)
    lens[first, 1] = 32
    vals[first, 2] = bits[first] & _U64(0xFFFFFFFF)
    lens[first, 2] = 32

    rest = ~first
    zero = rest & (x == 0)
    lens[zero, 0] = 1  # single '0' bit

    nz = rest & (x != 0)
    if nz.any():
        xs = x[nz]
        lz = np.minimum(_clz64(xs), 31).astype(_U64)
        tz = _ctz64(xs).astype(_U64)
        mlen = _U64(64) - lz - tz
        m = xs >> tz
        vals_nz0 = (_U64(1 << 11)) | (lz << _U64(6)) | (mlen - _U64(1))
        lo_len = np.minimum(mlen, _U64(32))
        hi_len = mlen - lo_len
        vals[nz, 0] = vals_nz0
        lens[nz, 0] = 12
        vals[nz, 1] = np.where(hi_len > 0, m >> lo_len, 0)
        lens[nz, 1] = hi_len.astype(np.int64)
        vals[nz, 2] = m & ((_U64(1) << lo_len) - _U64(1))
        lens[nz, 2] = lo_len.astype(np.int64)
    return vals, lens


def _section_bits(lens: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Total bit length per chunk for one stream's (N,3) len matrix."""
    per_elem = lens.sum(axis=1, dtype=np.int64)
    cum = np.concatenate([[0], np.cumsum(per_elem)])
    return cum[offsets[1:]] - cum[offsets[:-1]]


def _scatter(buf: np.ndarray, vals: np.ndarray, lens: np.ndarray, bitpos: np.ndarray):
    """OR variable-width MSB-first fields into buf at absolute bit offsets.

    Each field is <= 32 bits, so with the sub-byte shift (<= 7) it spans at
    most ceil(39/8) = 5 bytes of a 64-bit big-endian window; disjoint bit
    ranges mean add == or. The accumulation uses np.bincount (fast C
    histogram) instead of np.add.at (unbuffered ufunc, ~10x slower); byte
    sums cannot exceed 255 because contributions to one byte occupy
    disjoint bits.
    """
    keep = (lens > 0).reshape(-1)
    v = vals.reshape(-1)[keep]
    ln = lens.reshape(-1)[keep].view(_U64)  # reinterpret: values in [1,64]
    p = bitpos[keep]
    B = p >> 3
    r = (p & 7).view(_U64)
    w = v << (_U64(64) - r - ln)

    # B is non-decreasing (fields are emitted in byte order), so group by
    # B mod 8: within a group, two windows either coincide exactly (same
    # byte, disjoint bits -> add == or) or are fully disjoint 8-byte
    # ranges. Coinciding runs collapse with one reduceat, then a single
    # aligned uint64 fancy-add writes each window — no unbuffered ufunc.
    rem = (B & 7).astype(np.int64, copy=False)
    q = B >> 3
    for rr in range(8):
        m = rem == rr
        if not m.any():
            continue
        qq = q[m]
        ww = w[m]
        first = np.empty(len(qq), dtype=bool)
        first[0] = True
        np.not_equal(qq[1:], qq[:-1], out=first[1:])
        starts = np.flatnonzero(first)
        comb = np.add.reduceat(ww, starts)
        uq = qq[starts]
        # native-endian add of the byteswapped window: disjoint bits mean
        # no carries, so byte-wise add commutes with the byte swap
        view = buf[rr : rr + ((len(buf) - rr) >> 3 << 3)].view(np.uint64)
        if np.little_endian:
            comb = comb.byteswap()
        view[uq] += comb


def encode_chunks_raw(
    ts_flat: np.ndarray, offsets: np.ndarray, streams_flat: list[np.ndarray]
):
    """Encode many chunks at once into ONE contiguous buffer.

    ts_flat: int64 epoch-us, concatenated over chunks.
    offsets: int64[M+1] chunk boundaries into the flat arrays.
    streams_flat: per value stream, uint64 float-bit patterns, same layout.

    Returns (buf: uint8 array with trailing slack, chunk_off: int64[M+1]
    byte offsets of each chunk in buf, stats dict of per-chunk arrays).
    Chunks are laid out back-to-back in input order — callers slice or
    gather spans without re-encoding.
    """
    ts_flat = np.asarray(ts_flat, dtype=_I64)
    offsets = np.asarray(offsets, dtype=np.int64)
    M = len(offsets) - 1
    N = len(ts_flat)
    counts = offsets[1:] - offsets[:-1]
    if (counts <= 0).any():
        raise ValueError("empty chunk")
    pos = np.arange(N) - np.repeat(offsets[:-1], counts)

    # deltas and delta-of-deltas (valid only where pos allows)
    d = np.zeros(N, dtype=_I64)
    d[1:] = ts_flat[1:] - ts_flat[:-1]
    dod = np.zeros(N, dtype=_I64)
    dod[2:] = d[2:] - d[1:-1]
    ts_vals, ts_lens = _dod_slots(dod)
    mask01 = pos < 2
    ts_vals[mask01] = 0
    ts_lens[mask01] = 0

    sv_list, sl_list = [], []
    for s in streams_flat:
        s = np.ascontiguousarray(s, dtype=_U64)
        sv, sl = _gorilla_slots(s, pos)
        sv_list.append(sv)
        sl_list.append(sl)

    # section sizes per chunk
    ts_bits = _section_bits(ts_lens, offsets)
    ts_nbytes = (ts_bits + 7) >> 3
    s_bits = [_section_bits(sl, offsets) for sl in sl_list]
    s_nbytes = [(b + 7) >> 3 for b in s_bits]

    k = len(streams_flat)
    chunk_sizes = 20 + 4 + ts_nbytes
    for nb in s_nbytes:
        chunk_sizes = chunk_sizes + 4 + nb
    chunk_off = np.concatenate([[0], np.cumsum(chunk_sizes)])
    total = int(chunk_off[-1])
    buf = np.zeros(total + 16, dtype=np.uint8)  # slack for 64-bit windows

    # ---- fixed headers (vectorized byte scatters) ----
    def put_le(start: np.ndarray, value: np.ndarray, nbytes: int):
        v = value.astype(np.uint64)
        for j in range(nbytes):
            buf[start + j] = ((v >> np.uint64(8 * j)) & np.uint64(0xFF)).astype(np.uint8)

    t0 = ts_flat[offsets[:-1]]
    delta0 = np.where(counts >= 2, ts_flat[np.minimum(offsets[:-1] + 1, N - 1)] - t0, 0)
    base = chunk_off[:-1]
    put_le(base + 0, counts.astype(np.uint64), 4)
    put_le(base + 4, t0.view(np.uint64) if t0.dtype == _I64 else t0.astype(np.uint64), 8)
    put_le(base + 12, delta0.astype(_I64).view(np.uint64), 8)
    put_le(base + 20, ts_nbytes.astype(np.uint64), 4)

    sec_start = base + 24  # byte offset where the ts bitstream begins
    ts_sec_start = sec_start.copy()
    stream_sec_starts = []
    cursor = sec_start + ts_nbytes
    for si in range(k):
        put_le(cursor, s_nbytes[si].astype(np.uint64), 4)
        stream_sec_starts.append(cursor + 4)
        cursor = cursor + 4 + s_nbytes[si]

    # ---- bitstream scatters ----
    def scatter_stream(vals, lens, sec_byte_start):
        flat_lens = lens.reshape(-1)
        cum = np.concatenate([[0], np.cumsum(flat_lens)])[:-1]  # exclusive
        first_field = offsets[:-1] * 3
        # one repeat: per-chunk (section bit origin - chunk's first bit)
        base = sec_byte_start * 8 - cum[first_field]
        abs_bit = np.repeat(base, counts * 3) + cum
        _scatter(buf, vals.reshape(-1), flat_lens, abs_bit)

    scatter_stream(ts_vals, ts_lens, ts_sec_start)
    for si in range(k):
        scatter_stream(sv_list[si], sl_list[si], stream_sec_starts[si])

    stats = {
        "n_points": counts,
        "first_ts": t0,
        "last_ts": ts_flat[offsets[1:] - 1],
    }
    if k:
        s0 = np.ascontiguousarray(streams_flat[0], dtype=_U64)
        stats["x0"] = s0[offsets[:-1]]
        stats["xn"] = s0[offsets[1:] - 1]
    return buf, chunk_off, stats


def encode_chunks_vec(
    ts_flat: np.ndarray, offsets: np.ndarray, streams_flat: list[np.ndarray]
):
    """Compatibility wrapper: per-chunk python ``bytes`` + stats."""
    buf, chunk_off, stats = encode_chunks_raw(ts_flat, offsets, streams_flat)
    M = len(chunk_off) - 1
    out_bytes = [bytes(buf[chunk_off[i] : chunk_off[i + 1]]) for i in range(M)]
    return out_bytes, stats


def floats_to_bits(a: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(a, dtype=np.float64).view(_U64)
