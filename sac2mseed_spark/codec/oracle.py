"""Pure-Python reference codec — the parity oracle.

Slow, obviously-correct mirror of the chunk format, structured like the
reference's encoder/decoder pair (packdata.c / unpackdata.c): a bit writer,
per-point greedy bucket choice, prefix-sum reconstruction on decode, and an
Xn-style final-value integrity check. The vectorized kernel must reproduce
these bytes exactly (tests/test_codec.py).

Chunk layout (little-endian scalars, MSB-first bitstreams):

    u32 n_points | i64 t0_us | i64 delta0_us
    u32 ts_nbytes  + ts bitstream   (delta-of-delta codes for points i>=2)
    per stream: u32 nbytes + value bitstream
                (first value: raw 64 bits of the float64; then XOR codes)

Blob layout:

    'T' 'R' | u8 version | u8 n_streams | u32 n_chunks | u64 n_points
    chunk bytes, concatenated in chunk order
"""

from __future__ import annotations

import struct

from . import (
    BLOB_HEADER_LEN,
    DOD_BUCKETS,
    GOR_LZ_BITS,
    GOR_MLEN_BITS,
    MAGIC,
    VERSION,
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
    __slots__ = ("val", "total", "pos")

    def __init__(self, data: bytes):
        self.val = int.from_bytes(data, "big")
        self.total = len(data) * 8
        self.pos = 0

    def read(self, length: int) -> int:
        if length == 0:
            return 0
        out = (self.val >> (self.total - self.pos - length)) & ((1 << length) - 1)
        self.pos += length
        return out


def _zigzag(v: int) -> int:
    return ((v << 1) ^ (v >> 63)) & _MASK64 if v < 0 else (v << 1)


def _unzigzag(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def _encode_dod_stream(ts: list[int]) -> bytes:
    w = BitWriter()
    for i in range(2, len(ts)):
        dod = (ts[i] - ts[i - 1]) - (ts[i - 1] - ts[i - 2])
        if dod == 0:
            w.write(0, 1)
            continue
        z = _zigzag(dod)
        for prefix, plen, bits in DOD_BUCKETS:
            if z < (1 << bits) or bits == 64:
                w.write(prefix, plen)
                w.write(z, bits)
                break
    return w.getvalue()


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


def encode_chunk(ts: list[int], streams: list[list[int]]) -> bytes:
    """Encode one chunk. ``ts`` are epoch-us ints; ``streams`` are lists of
    uint64 float-bit patterns (use float_to_bits)."""
    n = len(ts)
    assert n > 0 and all(len(s) == n for s in streams)
    t0 = ts[0]
    delta0 = ts[1] - ts[0] if n >= 2 else 0
    out = [struct.pack("<Iqq", n, t0, delta0)]
    ts_bits = _encode_dod_stream(ts) if n >= 3 else b""
    out.append(struct.pack("<I", len(ts_bits)))
    out.append(ts_bits)
    for s in streams:
        sb = _encode_gorilla_stream(s)
        out.append(struct.pack("<I", len(sb)))
        out.append(sb)
    return b"".join(out)


def assemble_blob(chunks: list[bytes], n_streams: int, n_points: int) -> bytes:
    head = MAGIC + struct.pack("<BBIQ", VERSION, n_streams, len(chunks), n_points)
    return head + b"".join(chunks)


def iter_chunks(blob: bytes):
    """Yield (n_points, t0, delta0, ts_bits, [stream_bits...]) per chunk."""
    if blob[:2] != MAGIC:
        raise ValueError("bad magic")
    version, n_streams, n_chunks, _n_points = struct.unpack_from("<BBIQ", blob, 2)
    if version != VERSION:
        raise ValueError(f"unsupported version {version}")
    off = BLOB_HEADER_LEN
    for _ in range(n_chunks):
        n, t0, delta0 = struct.unpack_from("<Iqq", blob, off)
        off += 20
        (ts_len,) = struct.unpack_from("<I", blob, off)
        off += 4
        ts_bits = blob[off : off + ts_len]
        off += ts_len
        streams = []
        for _s in range(n_streams):
            (slen,) = struct.unpack_from("<I", blob, off)
            off += 4
            streams.append(blob[off : off + slen])
            off += slen
        yield n, t0, delta0, ts_bits, streams
    if off != len(blob):
        raise ValueError("trailing bytes in blob")


def decode_chunk(n, t0, delta0, ts_bits, stream_bits):
    ts = [t0]
    if n >= 2:
        ts.append(t0 + delta0)
    r = BitReader(ts_bits)
    delta = delta0
    for _ in range(n - 2):
        if r.read(1) == 0:
            dod = 0
        else:
            for prefix, plen, bits in DOD_BUCKETS[:-1]:
                if r.read(1) == 0:
                    dod = _unzigzag(r.read(bits))
                    break
            else:
                dod = _unzigzag(r.read(64))
        delta += dod
        ts.append(ts[-1] + delta)

    streams = []
    for sb in stream_bits:
        r = BitReader(sb)
        vals = [r.read(64)]
        for _ in range(n - 1):
            if r.read(1) == 0:
                vals.append(vals[-1])
            else:
                lz = r.read(GOR_LZ_BITS)
                mlen = r.read(GOR_MLEN_BITS) + 1
                tz = 64 - lz - mlen
                x = r.read(mlen) << tz
                vals.append(vals[-1] ^ x)
        streams.append(vals)
    return ts, streams


def decode_blob(blob: bytes, expect_xn: int | None = None):
    """Decode a whole blob back to (ts list, list-of-streams-of-bits).

    ``expect_xn``: final value (bit pattern) of stream 0 — decode verifies
    it like the reference checks Steim Xn (unpackdata.c:556-561).
    """
    ts_all: list[int] = []
    n_streams = blob[3]
    streams_all: list[list[int]] = [[] for _ in range(n_streams)]
    for n, t0, delta0, ts_bits, stream_bits in iter_chunks(blob):
        ts, streams = decode_chunk(n, t0, delta0, ts_bits, stream_bits)
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
