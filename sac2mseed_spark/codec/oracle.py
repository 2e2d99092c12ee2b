"""Pure-Python reference codec — the parity oracle.

Slow, obviously-correct mirror of the payload format (codec/__init__.py
holds its grammar), structured like the reference's encoder/decoder pair
(packdata.c / unpackdata.c): a bit writer, a per-section Rice parameter
chosen by trying each one, per-stream mode choice by encoded size,
prefix-sum reconstruction on decode, and an Xn-style final-value integrity
check. The vectorized kernels must reproduce these bytes and values
exactly (tests/test_codec.py).
"""

from __future__ import annotations

import math
import struct

from . import (
    CANONICAL_NAN,
    FIRST_NAN,
    GOR_LZ_BITS,
    GOR_MLEN_BITS,
    INT_LIMIT,
    MODE_BITS,
    MODE_CODES,
    MODE_DELTA,
    MODE_FLOAT,
    MODE_PREV,
    RICE_CAP,
    RICE_K_BITS,
    RICE_K_MAX,
    VERSION,
    blob_head,
    mode_bytes,
)

_MASK64 = (1 << 64) - 1


class BitWriter:
    __slots__ = ("acc", "nbits")

    def __init__(self):
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length

    def getvalue(self) -> bytes:
        pad = (-self.nbits) % 8
        return ((self.acc << pad)).to_bytes((self.nbits + pad) // 8, "big")


class BitReader:
    """Reads MSB-first fields; reading past the end raises ValueError."""

    __slots__ = ("val", "total", "pos")

    def __init__(self, data: bytes):
        self.val = int.from_bytes(data, "big")
        self.total = len(data) * 8
        self.pos = 0

    def read(self, length: int) -> int:
        if length == 0:
            return 0
        if self.pos + length > self.total:
            raise ValueError("bitstream overruns its section")
        out = (self.val >> (self.total - self.pos - length)) & ((1 << length) - 1)
        self.pos += length
        return out


def _wrap(v: int) -> int:
    """v as a two's-complement int64 (the vectorized kernels' arithmetic)."""
    return ((v + (1 << 63)) & _MASK64) - (1 << 63)


def _zigzag(v: int) -> int:
    v = _wrap(v)
    return ((v << 1) ^ (v >> 63)) & _MASK64


def _unzigzag(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def _varint(u: int) -> bytes:
    out = bytearray()
    while u >= 0x80:
        out.append((u & 0x7F) | 0x80)
        u >>= 7
    out.append(u)
    return bytes(out)


def _read_varint(buf: bytes, off: int) -> tuple[int, int]:
    """(value, offset after it); a varint must end inside ``buf`` within 10
    bytes and fit 64 bits."""
    out = 0
    for j in range(10):
        if off >= len(buf):
            raise ValueError("truncated varint")
        b = buf[off]
        off += 1
        out |= (b & 0x7F) << (7 * j)
        if b < 0x80:
            if out > _MASK64:
                raise ValueError("varint overflows 64 bits")
            return out, off
    raise ValueError("varint longer than 10 bytes")


def _rice_bits(z: int, k: int) -> int:
    q = z >> k
    return q + 1 + k if q < RICE_CAP else RICE_CAP + 64


def _encode_rice(residuals: list[int]) -> bytes:
    """Rice section of int64 residuals; empty when every one is zero."""
    zs = [_zigzag(r) for r in residuals]
    if not any(zs):
        return b""
    # from the longest code's bit length on, every quotient is 0 and each
    # larger k costs one more bit per code: the argmin lies at or below it
    top = min(max(z.bit_length() for z in zs), RICE_K_MAX)
    k = min(range(top + 1), key=lambda k: sum(_rice_bits(z, k) for z in zs))
    w = BitWriter()
    w.write(k, RICE_K_BITS)
    for z in zs:
        q = z >> k
        if q < RICE_CAP:
            w.write((1 << (q + 1)) - 2, q + 1)
            w.write(z, k)
        else:
            w.write((1 << RICE_CAP) - 1, RICE_CAP)
            w.write(z, 64)
    return w.getvalue()


def _decode_rice(data: bytes, count: int) -> list[int]:
    if not data:
        return [0] * count
    if count == 0:
        raise ValueError("non-empty section without residuals")
    r = BitReader(data)
    k = r.read(RICE_K_BITS)
    if k > RICE_K_MAX:
        raise ValueError("Rice parameter out of range")
    out = []
    for _ in range(count):
        q = 0
        while q < RICE_CAP and r.read(1):
            q += 1
        z = r.read(64) if q == RICE_CAP else (q << k) | r.read(k)
        out.append(_unzigzag(z))
    if r.total - r.pos >= 8:
        raise ValueError("section longer than its codes")
    return out


def _clz64(x: int) -> int:
    return 64 - x.bit_length()


def _ctz64(x: int) -> int:
    return (x & -x).bit_length() - 1


def _encode_gorilla_stream(bits: list[int]) -> bytes:
    """bits = float64 values already reinterpreted as uint64 bit patterns."""
    w = BitWriter()
    w.write(bits[0], 64)
    prev = bits[0]
    for b in bits[1:]:
        x = prev ^ b
        if x == 0:
            w.write(0, 1)
        else:
            lz = min(_clz64(x), (1 << GOR_LZ_BITS) - 1)
            tz = _ctz64(x)
            mlen = 64 - lz - tz
            w.write(1, 1)
            w.write(lz, GOR_LZ_BITS)
            w.write(mlen - 1, GOR_MLEN_BITS)
            w.write(x >> tz, mlen)
        prev = b
    return w.getvalue()


def _decode_gorilla_stream(data: bytes, n: int) -> list[int]:
    r = BitReader(data)
    vals = [r.read(64)]
    for _ in range(n - 1):
        if r.read(1) == 0:
            vals.append(vals[-1])
        else:
            lz = r.read(GOR_LZ_BITS)
            mlen = r.read(GOR_MLEN_BITS) + 1
            tz = 64 - lz - mlen
            vals.append(vals[-1] ^ (r.read(mlen) << tz))
    return vals


def _as_int(b: int) -> int | None:
    """The integer a float64 bit pattern holds exactly, or None."""
    v = bits_to_float(b)
    if not math.isfinite(v) or abs(v) >= INT_LIMIT:
        return None
    i = int(v)
    return i if float_to_bits(float(i)) == b else None  # rejects -0.0


def _encode_stream(ts: list[int], bits: list[int]) -> tuple[int, bytes]:
    """(mode code, head + section) of one stream, in the mode with the
    fewest bytes."""
    body = _encode_gorilla_stream(bits)
    best = MODE_FLOAT, _varint(len(body)) + body
    nan_first = bits[0] == CANONICAL_NAN
    ints = [None if nan_first else _as_int(bits[0])] + [_as_int(b) for b in bits[1:]]
    if any(v is None for v in ints[int(nan_first):]):
        return best
    head = b"" if nan_first else _varint(_zigzag(ints[0]))
    flag = FIRST_NAN if nan_first else 0
    prev = 0 if nan_first else ints[0]
    for mode in (MODE_PREV, MODE_DELTA):
        if mode == MODE_PREV:
            preds = [prev] + ints[1:-1]
        else:
            preds = [ts[k] - ts[k - 1] for k in range(1, len(ts))]
        body = _encode_rice([_wrap(v - p) for v, p in zip(ints[1:], preds)])
        sec = head + _varint(len(body)) + body
        if len(sec) < len(best[1]):
            best = mode | flag, sec
    return best


def encode_chunk(ts: list[int], streams: list[list[int]]) -> bytes:
    """Encode one chunk. ``ts`` are epoch-us ints; ``streams`` are lists of
    uint64 float-bit patterns (use float_to_bits)."""
    n = len(ts)
    assert n > 0 and all(len(s) == n for s in streams)
    out = [_varint(n), _varint(_zigzag(ts[0]))]
    if n >= 2:
        out.append(_varint(_zigzag(ts[1] - ts[0])))
    if n >= 3:
        dods = [(ts[i] - ts[i - 1]) - (ts[i - 1] - ts[i - 2]) for i in range(2, n)]
        ts_bits = _encode_rice([_wrap(d) for d in dods])
        out += [_varint(len(ts_bits)), ts_bits]
    coded = [_encode_stream(ts, s) for s in streams]
    packed = sum(code << (MODE_BITS * i) for i, (code, _) in enumerate(coded))
    out.append(packed.to_bytes(mode_bytes(len(streams)), "little"))
    out += [sec for _, sec in coded]
    return b"".join(out)


def assemble_blob(chunks: list[bytes], n_streams: int) -> bytes:
    return bytes([blob_head(n_streams)]) + _varint(len(chunks)) + b"".join(chunks)


def _read_section(blob: bytes, off: int) -> tuple[bytes, int]:
    nbytes, off = _read_varint(blob, off)
    if off + nbytes > len(blob):
        raise ValueError("section length past blob end")
    return blob[off : off + nbytes], off + nbytes


def _blob_header(blob: bytes) -> tuple[int, int, int]:
    """(n_streams, n_chunks, offset of the first chunk)."""
    if len(blob) < 2:
        raise ValueError("blob shorter than its header")
    if blob[0] >> 4 != VERSION:
        raise ValueError(f"unsupported version {blob[0] >> 4}")
    n_chunks, off = _read_varint(blob, 1)
    return blob[0] & 0xF, n_chunks, off


def iter_chunks(blob: bytes):
    """Yield (n_points, t0, delta0, ts_bits, [(mode code, first, bits)...])
    per chunk; ``first`` is the integer modes' head value (None for mode 0
    and under FIRST_NAN)."""
    n_streams, n_chunks, off = _blob_header(blob)
    for _ in range(n_chunks):
        n, off = _read_varint(blob, off)
        if not 0 < n <= 8 * len(blob) + 2:
            raise ValueError(f"chunk point count {n} out of range")
        z, off = _read_varint(blob, off)
        t0 = _unzigzag(z)
        delta0 = 0
        if n >= 2:
            z, off = _read_varint(blob, off)
            delta0 = _unzigzag(z)
        ts_bits = b""
        if n >= 3:
            ts_bits, off = _read_section(blob, off)
        nb = mode_bytes(n_streams)
        if off + nb > len(blob):
            raise ValueError("truncated stream header")
        packed = int.from_bytes(blob[off : off + nb], "little")
        off += nb
        if packed >> (MODE_BITS * n_streams):
            raise ValueError("unknown stream mode in the padding bits")
        streams = []
        for s in range(n_streams):
            mode = (packed >> (MODE_BITS * s)) & ((1 << MODE_BITS) - 1)
            if mode not in MODE_CODES:
                raise ValueError(f"unknown stream mode {mode:#x}")
            first = None
            if mode in (MODE_PREV, MODE_DELTA):
                z, off = _read_varint(blob, off)
                first = _unzigzag(z)
            sb, off = _read_section(blob, off)
            streams.append((mode, first, sb))
        yield n, t0, delta0, ts_bits, streams
    if off != len(blob):
        raise ValueError("trailing bytes in blob")


def decode_chunk(n, t0, delta0, ts_bits, stream_secs):
    ts = [t0]
    if n >= 2:
        ts.append(_wrap(t0 + delta0))
    delta = delta0
    for dod in _decode_rice(ts_bits, max(n - 2, 0)):
        delta = _wrap(delta + dod)
        ts.append(_wrap(ts[-1] + delta))

    streams = []
    for mode, first, sb in stream_secs:
        if mode == MODE_FLOAT:
            streams.append(_decode_gorilla_stream(sb, n))
            continue
        nan_first = bool(mode & FIRST_NAN)
        vs_prev = (mode & ~FIRST_NAN) == MODE_PREV
        vals = [CANONICAL_NAN if nan_first else float_to_bits(float(first))]
        prev = 0 if nan_first else first
        for k, r in enumerate(_decode_rice(sb, n - 1), start=1):
            pred = prev if vs_prev else ts[k] - ts[k - 1]
            prev = _wrap(pred + r)
            vals.append(float_to_bits(float(prev)))
        streams.append(vals)
    return ts, streams


def decode_blob(blob: bytes, expect_xn: int | None = None):
    """Decode a whole blob back to (ts list, list-of-streams-of-bits).

    ``expect_xn``: final value (bit pattern) of stream 0 — decode verifies
    it like the reference checks Steim Xn (unpackdata.c:556-561).
    """
    ts_all: list[int] = []
    streams_all: list[list[int]] = [[] for _ in range(_blob_header(blob)[0])]
    for n, t0, delta0, ts_bits, stream_secs in iter_chunks(blob):
        ts, streams = decode_chunk(n, t0, delta0, ts_bits, stream_secs)
        ts_all.extend(ts)
        for acc, s in zip(streams_all, streams):
            acc.extend(s)
    if expect_xn is not None and streams_all and streams_all[0]:
        if streams_all[0][-1] != expect_xn:
            raise ValueError(
                f"Xn mismatch: decoded {streams_all[0][-1]:#x}, expected {expect_xn:#x}"
            )
    return ts_all, streams_all


def float_to_bits(v: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", v))[0]


def bits_to_float(b: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", b))[0]
