"""Codec round-trip + oracle/vectorized bit-exactness (FIXTURES.md §2).

Mirrors the reference's pack/unpack golden tests: deterministic series
engineered to hit Rice escapes and empty sections, every Gorilla XOR case
and every stream mode
(/root/reference/libmseed/test/lmtestpack.c:32-83 strategy), encode→decode
bit-exact, Xn invariant enforced (unpackdata.c:556-561 analogue).
"""

import math
import struct

import numpy as np
import pytest

from sac2mseed_spark.codec import (
    FIRST_NAN,
    MODE_DELTA,
    MODE_PREV,
    RICE_CAP,
    blob_head,
    oracle,
)
from sac2mseed_spark.codec.vectorized import (
    encode_chunks_vec,
    floats_to_bits,
)


def _bits(vals):
    return [oracle.float_to_bits(float(v)) for v in vals]


# ---- fixture series (FIXTURES.md §2) ----------------------------------

def ts_constant_rate(n=500):
    return [1_700_000_000_000_000 + i * 1_000_000 for i in range(n)]


def ts_jitter(n=500):
    jit = [0, 1, -1, 63, -63, 255, -255, 16_000, -16_000, 2**30, -(2**30), 2**40]
    out, t = [], 1_700_000_000_000_000
    for i in range(n):
        t += 1_000_000 + jit[i % len(jit)]
        out.append(t)
    return out


def val_constant(n=500):
    return [42.5] * n


def val_sinusoid(n=500):
    # expanding sinusoid, same family as the reference's sindata
    return [math.sin(i * 0.3) * (1.1 ** (i % 80)) for i in range(n)]


def val_specials():
    return [0.0, -0.0, 5e-324, -5e-324, 1e308, -1e308, float("nan"),
            float("inf"), float("-inf"), 1.0, -1.0, 2.0**-1022]


def val_int_like(n=200):
    return [float((i * 37) % 1000) for i in range(n)]


SERIES = {
    "const_rate/const_val": (ts_constant_rate(), val_constant()),
    "jitter/sinusoid": (ts_jitter(), val_sinusoid()),
    "jitter/specials": (ts_jitter(12), val_specials()),
    "const_rate/int_like": (ts_constant_rate(200), val_int_like()),
    "single_point": (ts_constant_rate(1), [3.25]),
    "two_points": (ts_constant_rate(2), [1.0, 1.0]),
}


@pytest.mark.parametrize("name", sorted(SERIES))
def test_oracle_roundtrip(name):
    ts, vals = SERIES[name]
    vb = _bits(vals)
    chunk = oracle.encode_chunk(ts, [vb])
    blob = oracle.assemble_blob([chunk], 1)
    ts2, streams = oracle.decode_blob(blob, expect_xn=vb[-1])
    assert ts2 == ts
    assert streams[0] == vb


@pytest.mark.parametrize("name", sorted(SERIES))
def test_vectorized_matches_oracle(name):
    ts, vals = SERIES[name]
    vb = _bits(vals)
    expected = oracle.encode_chunk(ts, [vb])
    got, stats = encode_chunks_vec(
        np.array(ts, dtype=np.int64),
        np.array([0, len(ts)], dtype=np.int64),
        [floats_to_bits(np.array(vals, dtype=np.float64))],
    )
    assert got[0] == expected
    assert stats["n_points"][0] == len(ts)
    assert stats["xn"][0] == np.uint64(vb[-1])


def test_vectorized_many_chunks_batch():
    """One batch, many chunks of different sizes — equality per chunk."""
    rng = np.random.default_rng(42)
    chunks = []
    for n in [1, 2, 3, 7, 50, 400]:
        t0 = int(rng.integers(1_600_000_000_000_000, 1_800_000_000_000_000))
        deltas = rng.integers(1, 10_000_000, size=n - 1) if n > 1 else []
        ts = np.concatenate([[t0], t0 + np.cumsum(deltas)]).astype(np.int64) if n > 1 else np.array([t0], dtype=np.int64)
        vals = rng.normal(size=n) * rng.choice([1e-5, 1.0, 1e7])
        chunks.append((ts, vals))
    ts_flat = np.concatenate([c[0] for c in chunks])
    vals_flat = np.concatenate([c[1] for c in chunks])
    offsets = np.concatenate([[0], np.cumsum([len(c[0]) for c in chunks])]).astype(np.int64)
    got, _ = encode_chunks_vec(ts_flat, offsets, [floats_to_bits(vals_flat)])
    for i, (ts, vals) in enumerate(chunks):
        exp = oracle.encode_chunk(list(map(int, ts)), [_bits(vals)])
        assert got[i] == exp, f"chunk {i} mismatch"


def test_vectorized_multi_stream():
    ts = ts_jitter(300)
    s1 = val_sinusoid(300)
    s2 = [float(i % 17) for i in range(300)]
    exp = oracle.encode_chunk(ts, [_bits(s1), _bits(s2)])
    got, _ = encode_chunks_vec(
        np.array(ts, dtype=np.int64),
        np.array([0, 300], dtype=np.int64),
        [floats_to_bits(np.array(s1)), floats_to_bits(np.array(s2))],
    )
    assert got[0] == exp
    blob = oracle.assemble_blob(got, 2)
    ts2, streams = oracle.decode_blob(blob)
    assert ts2 == ts
    assert streams[0] == _bits(s1) and streams[1] == _bits(s2)


@pytest.mark.parametrize("name", sorted(SERIES))
def test_vec_decoder_matches_oracle(name):
    from sac2mseed_spark.codec.decode_vec import decode_blob_vec

    ts, vals = SERIES[name]
    vb = _bits(vals)
    blob = oracle.assemble_blob([oracle.encode_chunk(ts, [vb])], 1)
    slow = oracle.decode_blob(blob, expect_xn=vb[-1])
    vec = decode_blob_vec(blob, expect_xn=vb[-1])
    assert vec[0] == slow[0]
    assert vec[1] == slow[1]


def test_vec_decoder_many_blobs_concat():
    """Whole-batch wavefront decode: many blobs, mixed chunk counts and
    sizes, two streams — values identical to the oracle per blob."""
    from sac2mseed_spark.codec.decode_vec import check_xn, decode_concat

    rng = np.random.default_rng(7)
    blobs, exp = [], []
    for _ in range(40):
        chunks = []
        for _c in range(int(rng.integers(1, 4))):
            n = int(rng.integers(1, 300))
            t0 = int(rng.integers(10**14, 2 * 10**14))
            if n > 1:
                ts = (t0 + np.concatenate(
                    [[0], np.cumsum(rng.integers(-5_000_000, 10_000_000, n - 1))]
                )).astype(np.int64).tolist()
            else:
                ts = [t0]
            s1 = _bits(rng.normal(size=n) * rng.choice([1e-6, 1.0, 1e8]))
            s2 = _bits(rng.integers(0, 100, n).astype(float))
            chunks.append((ts, [s1, s2]))
        enc = [oracle.encode_chunk(ts, ss) for ts, ss in chunks]
        blobs.append(oracle.assemble_blob(enc, 2))
        exp.append(
            (
                sum((t for t, _ in chunks), []),
                sum((ss[0] for _, ss in chunks), []),
                sum((ss[1] for _, ss in chunks), []),
            )
        )
    data = np.frombuffer(b"".join(blobs), np.uint8)
    lens = np.array([len(b) for b in blobs], np.int64)
    ends = np.cumsum(lens)
    _, po, ts_out, streams = decode_concat(data, ends - lens, ends)
    for i, (ats, as1, as2) in enumerate(exp):
        s, e = po[i], po[i + 1]
        assert ts_out[s:e].tolist() == ats
        assert streams[0][s:e].tolist() == as1
        assert streams[1][s:e].tolist() == as2
    xn = np.array([e[1][-1] for e in exp], dtype=np.uint64)
    check_xn(streams, po, xn)
    bad = xn.copy()
    bad[3] = bad[3] ^ np.uint64(1)
    with pytest.raises(ValueError, match="Xn mismatch"):
        check_xn(streams, po, bad)


def test_vec_decoder_xn_check():
    from sac2mseed_spark.codec.decode_vec import decode_blob_vec

    ts, vals = SERIES["const_rate/int_like"]
    vb = _bits(vals)
    blob = oracle.assemble_blob([oracle.encode_chunk(ts, [vb])], 1)
    with pytest.raises(ValueError, match="Xn mismatch"):
        decode_blob_vec(blob, expect_xn=vb[-1] ^ 1)


def test_nan_roundtrip_preserves_bit_pattern():
    ts = ts_constant_rate(4)
    nan_bits = struct.unpack("<Q", struct.pack("<d", float("nan")))[0]
    vals_bits = [nan_bits, nan_bits, oracle.float_to_bits(1.5), nan_bits]
    chunk = oracle.encode_chunk(ts, [vals_bits])
    blob = oracle.assemble_blob([chunk], 1)
    _, streams = oracle.decode_blob(blob)
    assert streams[0] == vals_bits


def test_xn_mismatch_detected():
    ts, vals = SERIES["const_rate/int_like"]
    vb = _bits(vals)
    blob = oracle.assemble_blob([oracle.encode_chunk(ts, [vb])], 1)
    with pytest.raises(ValueError, match="Xn mismatch"):
        oracle.decode_blob(blob, expect_xn=vb[-1] ^ 1)


def test_chunked_equals_single_when_split():
    """Splitting a series at a fixed boundary and concatenating the chunk
    encodings in a blob decodes to the same series — the property that
    lets a window split into chunks at fixed turn_idx boundaries
    (codec.CHUNK_POINTS)."""
    ts, vals = ts_jitter(1000), val_sinusoid(1000)
    vb = _bits(vals)
    whole = oracle.assemble_blob([oracle.encode_chunk(ts, [vb])], 1)
    parts = [
        oracle.encode_chunk(ts[:512], [vb[:512]]),
        oracle.encode_chunk(ts[512:], [vb[512:]]),
    ]
    split = oracle.assemble_blob(parts, 1)
    for blob in (whole, split):
        ts2, streams = oracle.decode_blob(blob, expect_xn=vb[-1])
        assert ts2 == ts and streams[0] == vb


# ---- stream modes, fallbacks, degenerate chunks, bad input ----

NAN = float("nan")
CANON_NAN = oracle.float_to_bits(NAN)
NONCANON_NAN = CANON_NAN | 1


def _latency(ts, first=NAN):
    """latency_us as functions/metrics.py derives it: ts[k] - ts[k-1]."""
    return [first] + [float(b - a) for a, b in zip(ts, ts[1:])]


def _blob_both(ts, streams_bits):
    """Oracle and vectorized encodings of one chunk (asserted identical),
    as a blob."""
    exp = oracle.encode_chunk(ts, streams_bits)
    got, _ = encode_chunks_vec(
        np.array(ts, dtype=np.int64),
        np.array([0, len(ts)], dtype=np.int64),
        [np.array(s, dtype=np.uint64) for s in streams_bits],
    )
    assert got[0] == exp
    return oracle.assemble_blob([exp], len(streams_bits))


def _decode_both(blob):
    """Oracle and decode_vec results of one blob (asserted identical)."""
    from sac2mseed_spark.codec.decode_vec import decode_blob_vec

    slow = oracle.decode_blob(blob)
    assert decode_blob_vec(blob) == (slow[0], slow[1])
    return slow


def _modes(blob):
    return [[m for m, _, _ in ch[4]] for ch in oracle.iter_chunks(blob)]


_TS = ts_jitter(40)[:5] + [ts_jitter(40)[4] + 7_000_000 * k for k in range(1, 30)]

MODE_CASES = {
    # name: (ts, values, expected mode code)
    "float/sinusoid": (_TS, val_sinusoid(len(_TS)), 0x00),
    "int/tokens": (_TS, [float(7 + 3 * (i % 5)) for i in range(len(_TS))], 0x01),
    "int/tokens_null_first": (_TS, [NAN] + [5.0] * (len(_TS) - 1), MODE_PREV | FIRST_NAN),
    "int/latency": (_TS, _latency(_TS, first=123_456.0), 0x02),
    "int/latency_null_first": (_TS, _latency(_TS), MODE_DELTA | FIRST_NAN),
    "int/constant": (_TS, [-3.0] * len(_TS), 0x01),
}


@pytest.mark.parametrize("name", sorted(MODE_CASES))
def test_stream_mode_choice(name):
    ts, vals, mode = MODE_CASES[name]
    vb = _bits(vals)
    blob = _blob_both(ts, [vb])
    assert _modes(blob) == [[mode]]
    assert _decode_both(blob) == (ts, [vb])


FALLBACK_CASES = {
    "neg_zero": [0.0, 1.0, -0.0, 2.0],
    "noncanonical_nan_first": [NONCANON_NAN, 1.0, 2.0, 3.0],
    "negative_nan_first": [CANON_NAN | (1 << 63), 1.0, 2.0, 3.0],
    "pos_inf": [1.0, float("inf"), 2.0, 3.0],
    "neg_inf": [1.0, 2.0, 3.0, float("-inf")],
    "two_pow_53": [1.0, 2.0**53, 2.0, 3.0],
    "minus_two_pow_53": [1.0, 2.0, -(2.0**53), 3.0],
    "nan_not_first": [1.0, 2.0, NAN, 3.0],
}


@pytest.mark.parametrize("name", sorted(FALLBACK_CASES))
def test_non_integer_chunks_fall_back_to_float(name):
    """A chunk whose values do not all round-trip through int64 (or whose
    NaN is not a canonical first value) codes as mode 0, bit-exactly."""
    vb = [v if isinstance(v, int) else oracle.float_to_bits(v) for v in FALLBACK_CASES[name]]
    ts = ts_constant_rate(len(vb))
    blob = _blob_both(ts, [vb])
    assert _modes(blob) == [[0]]
    assert _decode_both(blob) == (ts, [vb])


@pytest.mark.parametrize("sign", [1, -1])
def test_largest_exact_integers_stay_integer(sign):
    vals = [sign * float(2**53 - k) for k in (1, 2, 1, 3)]
    ts = ts_constant_rate(4)
    blob = _blob_both(ts, [_bits(vals)])
    assert _modes(blob) == [[1]]
    assert _decode_both(blob) == (ts, [_bits(vals)])


@pytest.mark.parametrize("n", [1, 2, 3])
def test_short_chunks(n):
    ts = ts_jitter(n)
    streams = [_bits(_latency(ts)), _bits([float(10 * i) for i in range(n)]),
               _bits(val_sinusoid(n))]
    blob = _blob_both(ts, streams)
    assert _decode_both(blob) == (ts, streams)


def test_ts_gap_takes_64_bit_literal():
    """One 2^40 us gap among jittered 1 s steps: the Rice parameter fits
    the steps, so the gap's two delta-of-deltas escape to 64-bit literals."""
    gap = 2**40
    ts = [1_700_000_000_000_000 + 1_000_000 * i + (37 * i) % 11 + gap * (i >= 6)
          for i in range(12)]
    streams = [_bits(_latency(ts)), _bits([float(i) for i in range(12)])]
    blob = _blob_both(ts, streams)
    [(_, _, _, ts_bits, _)] = oracle.iter_chunks(blob)
    k = ts_bits[0] >> 2
    assert (2 * gap) >> k >= RICE_CAP
    assert _decode_both(blob) == (ts, streams)


def test_vec_encoder_mixed_modes_batch():
    """Chunks of every mode in one batch: per-chunk bytes equal the oracle,
    and one decode_concat over the blobs equals the oracle's decode."""
    from sac2mseed_spark.codec.decode_vec import decode_concat

    cases = [MODE_CASES[k] for k in sorted(MODE_CASES)]
    cases += [(ts_constant_rate(4), v, None) for v in FALLBACK_CASES.values()]
    ts_flat = np.concatenate([np.array(c[0], np.int64) for c in cases])
    bits = [_bits(v) if not any(isinstance(x, int) for x in v)
            else [x if isinstance(x, int) else oracle.float_to_bits(x) for x in v]
            for _, v, _ in cases]
    offsets = np.concatenate([[0], np.cumsum([len(c[0]) for c in cases])])
    got, _ = encode_chunks_vec(ts_flat, offsets, [np.concatenate(
        [np.array(b, np.uint64) for b in bits])])
    blobs = []
    for (ts, _, _), b, chunk in zip(cases, bits, got):
        assert chunk == oracle.encode_chunk(ts, [b])
        blobs.append(oracle.assemble_blob([chunk], 1))
    lens = np.array([len(b) for b in blobs], np.int64)
    ends = np.cumsum(lens)
    _, po, ts_out, streams = decode_concat(
        np.frombuffer(b"".join(blobs), np.uint8), ends - lens, ends
    )
    assert ts_out.tolist() == ts_flat.tolist()
    assert streams[0].tolist() == sum(bits, [])


def _varint(u):
    out = bytearray()
    while u >= 0x80:
        out.append(u & 0x7F | 0x80)
        u >>= 7
    return bytes(out + bytes([u]))


def _bad_payloads():
    """name -> (payload, the error both decoders must raise)."""
    ts = ts_constant_rate(5)
    good = oracle.assemble_blob(
        [oracle.encode_chunk(ts, [_bits(_latency(ts))])], 1
    )
    # a chunk of 3 points and no value stream, up to its timestamp section
    head = bytes([blob_head(0)]) + _varint(1) + _varint(3) + _varint(2 * ts[0])
    ts_sec = head + _varint(2_000_000)
    # a chunk of 1 point and one value stream, up to its mode byte
    one = bytes([blob_head(1)]) + _varint(1) + _varint(1) + _varint(2 * ts[0])
    return {
        # t0 is an 8-byte varint: cut it after 3 of its bytes
        "truncated_varint": (good[:6], "truncated varint"),
        "section_past_end": (
            head + _varint(1_000_000) + _varint(100) + b"\x00" * 3,
            "section length past blob end",
        ),
        "trailing_bytes": (good + b"\x00", "trailing bytes"),
        "version_1": (bytes([1 << 4 | 1]) + good[1:], "unsupported version"),
        "version_2": (bytes([2, 1]) + good[1:], "unsupported version"),
        "version_4": (bytes([4 << 4 | 1]) + good[1:], "unsupported version"),
        # k = 63 > RICE_K_MAX
        "rice_k_out_of_range": (ts_sec + _varint(1) + b"\xfc", "Rice parameter out of range"),
        # k = 0, then a unary run of ones to the end of the section
        "unary_past_end": (ts_sec + _varint(1) + b"\x03", "bitstream overruns its section"),
        # k = 0, RICE_CAP ones, then 2 of the escape literal's 64 bits
        "escape_past_end": (
            ts_sec + _varint(3) + b"\x03\xff\xfc", "bitstream overruns its section"
        ),
        # k = 0, one zero code, then a whole byte more
        "section_longer_than_codes": (
            ts_sec + _varint(2) + b"\x00\x00", "section longer than its codes"
        ),
        # mode 1 on a 1-point chunk: head 0, then a section with no residual
        "section_without_residuals": (
            one + b"\x01" + _varint(0) + _varint(1) + b"\x00",
            "non-empty section without residuals",
        ),
        "unknown_mode_code": (one + b"\x03" + _varint(0), "unknown stream mode"),
        "mode_padding_bits": (one + b"\x09" + _varint(0), "unknown stream mode"),
    }


@pytest.mark.parametrize("name", sorted(_bad_payloads()))
def test_malformed_payload_raises(name):
    from sac2mseed_spark.codec.decode_vec import decode_blob_vec

    blob, err = _bad_payloads()[name]
    with pytest.raises(ValueError, match=err):
        oracle.decode_blob(blob)
    with pytest.raises(ValueError, match=err):
        decode_blob_vec(blob)
