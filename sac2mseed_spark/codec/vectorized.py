"""Vectorized (numpy) chunk encoder — the production kernel.

Encodes a whole Arrow batch of chunks in one shot: every per-point
residual in the timestamp, integer and Gorilla-XOR streams is a pure
function of at most two consecutive points, and each Rice section's
parameter is an argmin over a few k scored from its residuals' bit
lengths and quotients, so code values, code lengths, each chunk's Rice
parameters and stream modes (the smallest of three per-chunk byte
counts), bit offsets (segmented prefix sums), the varint headers and the
final bit-scatter are all flat array operations across ALL chunks at
once. No per-chunk Python
loop — per-batch cost is O(total points) numpy work, which is what lets a
1000-executor cluster keep its cores busy instead of burning them on
per-group interpreter overhead.

Bytes produced are IDENTICAL to codec/oracle.py (asserted by tests): a
field list of (value, bitlen) pairs per point — a head slot ≤32 bits,
payload-hi ≤32, payload-lo ≤32 — scattered MSB-first into one output buffer
whose section/chunk offsets are computed analytically.
"""

from __future__ import annotations

import numpy as np

from . import (
    CANONICAL_NAN,
    FIRST_NAN,
    GOR_LZ_BITS,
    GOR_MLEN_BITS,
    INT_LIMIT,
    MODE_BITS,
    MODE_FLOAT,
    RICE_CAP,
    RICE_CAP_BITS,
    RICE_K_BITS,
    RICE_K_MAX,
    mode_bytes,
)

_U64 = np.uint64
_I64 = np.int64
_ONE = _U64(1)

# byte -> number of leading zeros within that byte (8 for 0)
_CLZ8 = np.full(256, 8, dtype=np.uint8)
for _v in range(1, 256):
    _CLZ8[_v] = 8 - _v.bit_length()
# byte -> trailing zeros within byte (8 for 0)
_CTZ8 = np.full(256, 8, dtype=np.uint8)
for _v in range(1, 256):
    _CTZ8[_v] = (_v & -_v).bit_length() - 1

_VARINT_LIMITS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=_U64)
_NO_MODE = np.int64(1 << 62)  # byte count of an integer mode a chunk may not use
_BYTE_SHIFTS = np.array([56, 48, 40, 32, 24], dtype=_U64)  # a window's top 5 bytes


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


def varint_len(u: np.ndarray) -> np.ndarray:
    """Bytes of each uint64 as a base-128 varint."""
    return np.searchsorted(_VARINT_LIMITS, u, side="right") + 1


def put_varints(buf: np.ndarray, start: np.ndarray, u: np.ndarray, lens: np.ndarray):
    """Write ``u[i]`` as a little-endian base-128 varint of ``lens[i]``
    bytes at ``buf[start[i]]``, one pass per byte position."""
    u = u.astype(_U64, copy=False)
    for j in range(int(lens.max(initial=0))):
        m = lens > j
        byte = (u[m] >> _U64(7 * j)) & _U64(0x7F)
        byte |= np.where(lens[m] > j + 1, _U64(0x80), _U64(0))
        buf[start[m] + j] = byte.astype(np.uint8)


def _bitlen(z: np.ndarray) -> np.ndarray:
    """Bit length of each uint64 (0 for 0), int64."""
    e = np.frexp(z.astype(np.float64))[1].astype(np.int64)
    big = np.flatnonzero(z >= _U64(INT_LIMIT))
    if len(big):  # past 2^53 the float may round up to the next power of two
        eb = np.minimum(e[big], 64)
        e[big] = eb - ((z[big] >> (eb - 1).view(_U64)) == 0)
    return e


def _rice_choice(pz, pl, ps, n):
    """(k, bits) of Rice sections: ``pz`` and ``pl`` are the non-zero
    zigzag residuals and their bit lengths, in section order, ``ps`` their
    sections, ``n`` each section's count of residuals, zeros included.
    Bits are 0 for an empty section (every residual zero).

    At parameter k a residual of bit length L escapes (RICE_CAP + 64 bits)
    when L > k + RICE_CAP_BITS, and otherwise takes 1 + k bits plus its
    quotient z >> k, which is non-zero only for k in L - RICE_CAP_BITS ..
    L - 1. So a section's bits are flat while every non-zero residual
    escapes, and grow with k between those ranges (by one per zero or
    shorter residual); k = max L costs no less than max L - 1, and below
    min L - 2 each lower k costs a bit more per non-zero residual (its
    quotient is 4 or more) and saves one per zero residual. The argmin is
    therefore in [min L - 2, max L - 1] over the non-zero residuals, or,
    when the section holds zeros, in [min L - RICE_CAP_BITS, max L - 1]
    or 0, where every non-zero residual escapes. Each section's bits are
    computed on that window (cut at RICE_K_MAX) alone, from the quotients
    and escape ranges of its non-zero residuals, and compared with k = 0
    where every non-zero residual escapes there."""
    k = np.zeros(len(n), dtype=np.int64)
    bits = np.zeros(len(n), dtype=np.int64)
    if not len(ps):
        return k, bits
    c = RICE_CAP_BITS
    new = np.ones(len(ps), dtype=bool)
    np.not_equal(ps[1:], ps[:-1], out=new[1:])
    first = np.flatnonzero(new)
    sec = ps[first]  # the chunks with a non-zero residual, one section each
    rs = np.cumsum(new) - 1  # each point's section
    ns = n[sec]
    zeros = ns - np.diff(np.append(first, len(ps)))
    top = np.minimum(np.maximum.reduceat(pl, first) - 1, RICE_K_MAX)
    least = np.minimum.reduceat(pl, first)
    lo = np.minimum(np.maximum(least - np.where(zeros > 0, c, 2), 0), top)
    width = top - lo + 1
    base = np.zeros(len(sec) + 1, dtype=np.int64)
    np.cumsum(width, out=base[1:])
    T = int(base[-1])
    kw = np.arange(T) - np.repeat(base[:-1] - lo, width)  # the k of each window slot

    # quotients: z >> k at k = L - j, j = 1..RICE_CAP_BITS, inside the
    # window (slot T collects the others)
    lo_p, top_p = lo[rs], top[rs]
    kq = pl[:, None] - np.arange(1, c + 1)
    ok = (kq >= lo_p[:, None]) & (kq <= top_p[:, None])
    quot = np.bincount(
        np.where(ok, (base[rs] - lo_p)[:, None] + kq, T).ravel(),
        weights=(pz[:, None] >> np.maximum(kq, 0).view(_U64)).astype(np.float64).ravel(),
        minlength=T + 1,
    )
    # escapes: from the window's first k up to L - RICE_CAP_BITS - 1
    e = np.minimum(pl - c, top_p + 1) - lo_p
    m = e > 0
    esc = np.cumsum(
        np.bincount(base[rs[m]], minlength=T + 1)
        - np.bincount(base[rs[m]] + e[m], minlength=T + 1)
    )[:T]

    cost = (
        quot[:T].astype(np.int64)
        + np.repeat(ns, width) * (1 + kw)
        + esc * (RICE_CAP + 63 - kw)
    )
    # the least (bits, k) per section: ties -> lower k
    key = np.minimum.reduceat(cost << 6 | kw, base[:-1])
    best, ks = key >> 6, key & 63
    f0 = zeros + (RICE_CAP + 64) * (ns - zeros)
    zero = (least > c) & (lo > 0) & (f0 <= best)
    k[sec] = np.where(zero, 0, ks)
    bits[sec] = RICE_K_BITS + np.where(zero, f0, best)
    return k, bits


def _rice_slots(z: np.ndarray, k: np.ndarray, keep: np.ndarray, head: np.ndarray):
    """(N,3) value/length slot arrays of the Rice codes of ``z`` at per-point
    parameter ``k``, zero-length where not ``keep``; a ``head`` point (its
    section's first code) also carries the section's k. Slot 0 holds [k +]
    the unary, and the k low bits too when all of it fits 32 bits;
    otherwise slots 1 and 2 hold the high and low halves of the k low
    bits, or of the escape's 64-bit literal."""
    if not keep.any():
        return np.zeros((len(z), 3), dtype=_U64), np.zeros((len(z), 3), dtype=np.int64)
    ku = k.view(_U64)
    q = np.minimum(z >> ku, _U64(RICE_CAP))
    esc = q == RICE_CAP
    low = np.where(esc, z, z & ((_U64(1) << ku) - _U64(1)))
    # [k +] q ones and a zero, or RICE_CAP ones for the escape
    unary = (np.where(head, ku, _U64(0)) << q + _ONE | (_U64(2) << q) - _U64(2)) >> esc
    ulen = np.where(esc, RICE_CAP, q.view(np.int64) + 1) + head * RICE_K_BITS
    llen = np.where(esc, 64, k)
    one = ulen + llen <= 32
    lo_len = np.where(one, 0, np.minimum(llen, 32))
    vals = np.empty((len(z), 3), dtype=_U64)
    lens = np.empty((len(z), 3), dtype=np.int64)
    vals[:, 0] = np.where(one, unary << ku | low, unary)
    lens[:, 0] = np.where(one, ulen + llen, ulen)
    vals[:, 1] = low >> lo_len.view(_U64)
    lens[:, 1] = np.where(one, 0, llen - lo_len)
    vals[:, 2] = low & ((_U64(1) << lo_len.view(_U64)) - _U64(1))
    lens[:, 2] = lo_len
    lens *= keep[:, None]
    return vals, lens


def _gorilla_slots(bits: np.ndarray, pos: np.ndarray):
    """(N,3) slots for a Gorilla XOR stream.

    pos == 0 points emit the raw 64-bit value (hi32+lo32); later points
    emit '0' or '1'+5b lz+6b (mlen-1)+meaningful bits.
    """
    n = len(bits)
    prev = np.empty_like(bits)
    prev[1:] = bits[:-1]
    prev[:1] = 0
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
        lz = np.minimum(_clz64(xs), (1 << GOR_LZ_BITS) - 1).astype(_U64)
        tz = _ctz64(xs).astype(_U64)
        mlen = _U64(64) - lz - tz
        m = xs >> tz
        hdr = 1 + GOR_LZ_BITS + GOR_MLEN_BITS
        vals_nz0 = (_U64(1 << (hdr - 1))) | (lz << _U64(GOR_MLEN_BITS)) | (mlen - _U64(1))
        lo_len = np.minimum(mlen, _U64(32))
        hi_len = mlen - lo_len
        vals[nz, 0] = vals_nz0
        lens[nz, 0] = hdr
        vals[nz, 1] = np.where(hi_len > 0, m >> lo_len, 0)
        lens[nz, 1] = hi_len.astype(np.int64)
        vals[nz, 2] = m & ((_U64(1) << lo_len) - _U64(1))
        lens[nz, 2] = lo_len.astype(np.int64)
    return vals, lens


def _section_bits(lens: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Total bit length per chunk for one stream's (N,3) len matrix."""
    return np.add.reduceat(lens.sum(axis=1, dtype=np.int64), offsets[:-1])


def _scatter(buf: np.ndarray, vals: np.ndarray, lens: np.ndarray, bitpos: np.ndarray):
    """OR variable-width MSB-first fields into buf at absolute bit offsets.

    Each field is <= 32 bits, so with the sub-byte shift (<= 7) it spans at
    most 5 bytes from its first one. Fields occupy disjoint bits, so the
    bytes of every field are summed per byte position in one np.bincount
    (add == or; no byte sum exceeds 255) and added to the buffer.
    """
    keep = (lens > 0).reshape(-1)
    v = vals.reshape(-1)[keep]
    ln = lens.reshape(-1)[keep].view(_U64)  # reinterpret: values in [1,32]
    p = bitpos[keep]
    B = p >> 3
    w = v << (_U64(64) - (p & 7).view(_U64) - ln)  # MSB-aligned at byte B
    lo = int(B.min(initial=0))
    acc = np.bincount(
        (B[:, None] - lo + np.arange(5)).ravel(),
        weights=((w[:, None] >> _BYTE_SHIFTS) & _U64(0xFF)).astype(np.float64).ravel(),
    )
    buf[lo : lo + len(acc)] += acc.astype(np.uint8)


def _sized(bits: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nbytes, varint nbytes + nbytes) of bitstream sections of ``bits``."""
    nb = (bits + 7) >> 3
    return nb, varint_len(nb.view(_U64)) + nb


def _int_candidates(bits, first, starts, counts, d):
    """One value stream's integer modes: (the values as int64, the first
    values that are CANONICAL_NAN, then per mode its zigzag residuals,
    their bit lengths and the chunks where it may win)."""
    f = bits.view(np.float64)
    nan_first = first & (bits == _U64(CANONICAL_NAN))
    fin = np.abs(f) < INT_LIMIT  # False for NaN and +-inf
    iv = np.where(fin, f, 0.0).astype(_I64)
    ok = (iv.astype(np.float64).view(_U64) == bits) | nan_first  # rejects -0.0
    elig = np.logical_and.reduceat(ok, starts)

    prev = np.empty_like(iv)
    prev[1:] = iv[:-1]
    prev[:1] = 0
    zs = [_zigzag(iv - prev), _zigzag(iv - d)]
    Ls = [_bitlen(z) for z in zs]
    # Bounds on a section's bits, from its residuals' bit lengths L: at
    # best each code costs L + 1, and at k = max L - 1 none costs more than
    # max L + 1 (past RICE_K_MAX, an escape at most). A mode whose lower
    # bound exceeds the other's upper bound cannot win: it is not sized.
    n = counts - 1
    lbs, ubs = [], []
    for L in Ls:
        top = np.maximum.reduceat(np.where(first, 0, L), starts)
        per = np.where(top <= RICE_K_MAX + 1, top + 1, RICE_CAP + 64)
        lb = np.add.reduceat(L, starts) - L[starts]
        lbs.append(np.where(top > 0, _sized(RICE_K_BITS + n + lb)[1], 1))
        ubs.append(np.where(top > 0, _sized(RICE_K_BITS + n * per)[1], 1))
    wants = [elig & (lbs[0] <= ubs[1]), elig & (lbs[1] <= ubs[0])]
    return iv, nan_first, zs, Ls, wants


def _encode_stream(bits, pos, starts, counts, cand, ks, rbits):
    """One value stream's per-chunk mode and its sections, from its
    ``_int_candidates`` and the two modes' Rice parameters and bits.

    Returns (mode code, head value, head varint length, section nbytes,
    section slot vals, section slot lens) per chunk / per point."""
    first = pos == 0
    iv, nan_first, zs, _, wants = cand
    cnan = nan_first[starts]
    head_val = _zigzag(iv[starts])
    head_len = np.where(cnan, 0, varint_len(head_val))
    nbs, sizes = [], []
    for b, w in zip(rbits, wants):
        nb, sec = _sized(b)
        nbs.append(nb)
        sizes.append(np.where(w, head_len + sec, _NO_MODE))

    # Gorilla costs >= 64 bits, then 1 bit per repeat and 13 per change:
    # where an integer mode is already smaller, skip the exact XOR codes
    prev_bits = np.empty_like(bits)
    prev_bits[1:] = bits[:-1]
    prev_bits[:1] = 0
    lb = np.where(first, 64, np.where(bits == prev_bits, 1, 2 + GOR_LZ_BITS + GOR_MLEN_BITS))
    need = np.minimum(*sizes) >= _sized(np.add.reduceat(lb, starts))[1]
    need_pt = np.repeat(need, counts)
    gv, gl = _gorilla_slots(bits[need_pt], pos[need_pt])
    nb0 = np.zeros(len(starts), dtype=np.int64)
    if need.any():
        sub_off = np.concatenate([[0], np.cumsum(counts[need])])
        nb0[need] = _sized(_section_bits(gl, sub_off))[0]
    sizes.insert(0, np.where(need, varint_len(nb0.view(_U64)) + nb0, _NO_MODE))
    nbs.insert(0, nb0)
    mode = np.argmin(np.stack(sizes), axis=0)  # ties -> lower mode
    nbytes = np.choose(mode, nbs)

    pm = np.repeat(mode, counts)
    use1 = pm == 1
    vals, lens = _rice_slots(
        np.where(use1, zs[0], zs[1]),
        np.repeat(np.where(mode == 1, ks[0], ks[1]), counts),
        ~first & np.repeat(nbytes > 0, counts),
        pos == 1,
    )
    flt = pm == MODE_FLOAT
    if flt.any():
        sel = flt[need_pt]
        vals[flt] = gv[sel]
        lens[flt] = gl[sel]

    is_int = mode != MODE_FLOAT
    mode_code = mode | np.where(is_int & cnan, FIRST_NAN, 0)
    head_len = np.where(is_int, head_len, 0)
    return mode_code, head_val, head_len, nbytes, vals, lens


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
    N = len(ts_flat)
    counts = offsets[1:] - offsets[:-1]
    if (counts <= 0).any():
        raise ValueError("empty chunk")
    starts = offsets[:-1]
    pos = np.arange(N) - np.repeat(starts, counts)
    M = len(counts)
    seg = np.repeat(np.arange(M), counts)

    # deltas and delta-of-deltas (valid only where pos allows); int64
    # arithmetic wraps, like the oracle's
    d = np.zeros(N, dtype=_I64)
    d[1:] = ts_flat[1:] - ts_flat[:-1]
    dod = np.zeros(N, dtype=_I64)
    dod[2:] = d[2:] - d[1:-1]
    zd = _zigzag(dod)
    streams = [np.ascontiguousarray(s, dtype=_U64) for s in streams_flat]
    first = pos == 0
    cands = [_int_candidates(b, first, starts, counts, d) for b in streams]

    # every Rice section of the batch in one choice, from its non-zero
    # residuals: the timestamps', then each stream's integer modes in the
    # chunks where they may win
    fams = [(zd, _bitlen(zd), pos >= 2)]
    for _, _, zs, Ls, wants in cands:
        fams += [(z, L, ~first & w[seg]) for z, L, w in zip(zs, Ls, wants)]
    parts = []
    for i, (z, L, coded) in enumerate(fams):
        at = np.flatnonzero(coded & (L > 0))
        parts.append((z[at], L[at], seg[at] + i * M))
    n = np.concatenate([np.maximum(counts - 2, 0)] + [counts - 1] * (len(fams) - 1))
    ks, rbits = _rice_choice(*(np.concatenate(c) for c in zip(*parts)), n)
    ks, rbits = ks.reshape(-1, M), rbits.reshape(-1, M)

    ts_vals, ts_lens = _rice_slots(
        zd, np.repeat(ks[0], counts), (pos >= 2) & np.repeat(rbits[0] > 0, counts), pos == 2
    )
    ts_nbytes = (rbits[0] + 7) >> 3  # 0 where n < 3 or every dod is 0

    # ---- chunk header: n | zigzag(t0) | zigzag(delta0) | ts section ----
    t0 = ts_flat[starts]
    zt0 = _zigzag(t0)
    zd0 = _zigzag(d[np.minimum(starts + 1, N - 1)])
    len_n = varint_len(counts.view(_U64))
    len_t0 = varint_len(zt0)
    len_d0 = np.where(counts >= 2, varint_len(zd0), 0)
    len_tsn = np.where(counts >= 3, varint_len(ts_nbytes.view(_U64)), 0)
    n_mode = mode_bytes(len(streams_flat))
    chunk_sizes = len_n + len_t0 + len_d0 + len_tsn + ts_nbytes + n_mode

    enc = [
        _encode_stream(b, pos, starts, counts, cand, ks[1 + 2 * i : 3 + 2 * i],
                       rbits[1 + 2 * i : 3 + 2 * i])
        for i, (b, cand) in enumerate(zip(streams, cands))
    ]
    packed = np.zeros(M, dtype=_U64)
    for i, (mode_code, _, head_len, nbytes, _, _) in enumerate(enc):
        chunk_sizes = chunk_sizes + head_len + varint_len(nbytes.view(_U64)) + nbytes
        packed |= mode_code.astype(_U64) << _U64(MODE_BITS * i)
    chunk_off = np.zeros(M + 1, dtype=np.int64)
    np.cumsum(chunk_sizes, out=chunk_off[1:])
    buf = np.zeros(int(chunk_off[-1]) + 16, dtype=np.uint8)  # slack for 64-bit windows

    def scatter_section(vals, lens, sec_byte_start):
        flat_lens = lens.reshape(-1)
        cum = np.cumsum(flat_lens) - flat_lens  # exclusive
        # one repeat: per-chunk (section bit origin - chunk's first bit)
        base = sec_byte_start * 8 - cum[starts * 3]
        _scatter(buf, vals.reshape(-1), flat_lens, np.repeat(base, counts * 3) + cum)

    cur = chunk_off[:-1].copy()
    put_varints(buf, cur, counts, len_n)
    cur += len_n
    put_varints(buf, cur, zt0, len_t0)
    cur += len_t0
    put_varints(buf, cur, zd0, len_d0)
    cur += len_d0
    put_varints(buf, cur, ts_nbytes, len_tsn)
    cur += len_tsn
    scatter_section(ts_vals, ts_lens, cur)
    cur += ts_nbytes
    for j in range(n_mode):
        buf[cur + j] = (packed >> _U64(8 * j)).astype(np.uint8)
    cur += n_mode
    for _, head_val, head_len, nbytes, vals, lens in enc:
        put_varints(buf, cur, head_val, head_len)
        cur += head_len
        nb_len = varint_len(nbytes.view(_U64))
        put_varints(buf, cur, nbytes, nb_len)
        cur += nb_len
        scatter_section(vals, lens, cur)
        cur += nbytes

    stats = {
        "n_points": counts,
        "first_ts": t0,
        "last_ts": ts_flat[offsets[1:] - 1],
    }
    if streams:
        stats["x0"] = streams[0][starts]
        stats["xn"] = streams[0][offsets[1:] - 1]
    return buf, chunk_off, stats


def encode_chunks_vec(
    ts_flat: np.ndarray, offsets: np.ndarray, streams_flat: list[np.ndarray]
):
    """Compatibility wrapper: per-chunk python ``bytes`` + stats."""
    buf, chunk_off, stats = encode_chunks_raw(ts_flat, offsets, streams_flat)
    raw = buf.tobytes()
    edges = chunk_off.tolist()
    return [raw[a:b] for a, b in zip(edges, edges[1:])], stats


def floats_to_bits(a: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(a, dtype=np.float64).view(_U64)
