"""Property tests of the payload codec: generated chunks give the same bytes
from the oracle and the vectorized encoder, and ``decode_concat`` gives
the oracle's values bit for bit (which are the inputs).

The generators aim at the format's edges: integer streams (the Rice
sections of modes 1 and 2), a NaN first value, -0.0, +-inf, 2^53,
day-long gaps, all-zero residual runs (empty sections), quotients past
the escape cap, wrapping int64 timestamps, and chunks of 1 and 2 points.
Mutated payloads either raise ValueError in both decoders or decode to
the same values in both. Runs are derandomized, so a failure repeats.
"""

import math

import numpy as np
from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st

from sac2mseed_spark.codec import CANONICAL_NAN, INT_LIMIT, oracle
from sac2mseed_spark.codec.decode_vec import decode_blob_vec, decode_concat
from sac2mseed_spark.codec.vectorized import encode_chunks_vec

_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1
DAY_US = 86_400_000_000

# no shrink phase: a failing example is reported as generated — shrinking
# one against the codec kernels takes minutes, not seconds
SETTINGS = settings(
    derandomize=True,
    max_examples=150,
    deadline=5_000,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    phases=(Phase.explicit, Phase.reuse, Phase.generate),
)


def _bits(v: float) -> int:
    return oracle.float_to_bits(v)


def _wrap(v: int) -> int:
    return ((v + 2**63) % 2**64) - 2**63


# a step between timestamps: regular, jittered, repeated, out of order,
# day-long, or big enough to escape any Rice parameter that fits the rest
_STEP = st.one_of(
    st.integers(0, 4_000_000),
    st.sampled_from([0, 1, 1_000_000, 2_097_152, DAY_US, 2**37, -(2**21), 2**40]),
    st.integers(-(2**22), 2**22),
)


@st.composite
def timestamps(draw, n):
    if draw(st.integers(0, 9)) == 0:  # anywhere in int64: deltas wrap
        return draw(st.lists(st.integers(_I64_MIN, _I64_MAX), min_size=n, max_size=n))
    t = draw(st.integers(-(2**60), 2**60))
    ts = [t]
    for _ in range(n - 1):
        t = _wrap(t + draw(_STEP))
        ts.append(t)
    return ts


_SPECIAL = st.sampled_from(
    [
        0.0, -0.0, math.inf, -math.inf, math.nan, float(INT_LIMIT), -float(INT_LIMIT),
        float(INT_LIMIT - 1), 1.5, 5e-324,
    ]
)


@st.composite
def stream(draw, ts):
    """One value stream as float64 bit patterns."""
    n = len(ts)
    kind = draw(st.sampled_from(["latency", "tokens", "constant", "ints", "floats", "mixed"]))
    if kind == "latency":  # metrics' ts[k] - ts[k-1]: mode 2, zero residuals
        first = draw(st.sampled_from([math.nan, 0.0, 123_456.0]))
        vals = [first] + [float(_wrap(b - a)) for a, b in zip(ts, ts[1:])]
    elif kind == "tokens":
        vals = [float(v) for v in draw(st.lists(st.integers(0, 4_000), min_size=n, max_size=n))]
    elif kind == "constant":
        vals = [draw(st.sampled_from([0.0, -3.0, 7.0, float(INT_LIMIT - 1)]))] * n
    elif kind == "ints":
        big = st.integers(-(INT_LIMIT - 1), INT_LIMIT - 1)
        vals = [float(v) for v in draw(st.lists(big, min_size=n, max_size=n))]
    elif kind == "floats":
        vals = draw(st.lists(st.floats(allow_nan=True), min_size=n, max_size=n))
    else:
        vals = draw(
            st.lists(st.one_of(st.integers(-50, 50).map(float), _SPECIAL), min_size=n, max_size=n)
        )
    bits = [_bits(v) for v in vals]
    nan_first = draw(st.sampled_from([None, CANONICAL_NAN, CANONICAL_NAN | 1]))
    if nan_first is not None:
        bits[0] = nan_first
    return bits


@st.composite
def chunk(draw):
    n = draw(st.one_of(st.integers(1, 3), st.integers(1, 60)))
    ts = draw(timestamps(n))
    return ts, [draw(stream(ts)) for _ in range(2)]


def _encode_both(chunks):
    """Chunk bytes of the oracle, asserted equal to one vectorized batch."""
    exp = [oracle.encode_chunk(ts, ss) for ts, ss in chunks]
    offsets = np.cumsum([0] + [len(ts) for ts, _ in chunks])
    got, _ = encode_chunks_vec(
        np.array([t for ts, _ in chunks for t in ts], dtype=np.int64),
        offsets,
        [np.array([b for _, ss in chunks for b in ss[s]], dtype=np.uint64) for s in range(2)],
    )
    assert got == exp
    return exp


@SETTINGS
@given(st.lists(st.lists(chunk(), min_size=1, max_size=3), min_size=1, max_size=4))
def test_oracle_and_vectorized_agree(blobs):
    payloads, want = [], []
    for chunks in blobs:
        payloads.append(oracle.assemble_blob(_encode_both(chunks), 2))
        ts, streams = oracle.decode_blob(payloads[-1])
        assert ts == [t for c, _ in chunks for t in c]
        assert streams == [[b for _, ss in chunks for b in ss[s]] for s in range(2)]
        want.append((ts, streams))
    lens = np.array([len(p) for p in payloads], dtype=np.int64)
    ends = np.cumsum(lens)
    _, po, ts_out, streams = decode_concat(
        np.frombuffer(b"".join(payloads), np.uint8), ends - lens, ends
    )
    for i, (ts, ss) in enumerate(want):
        a, b = po[i], po[i + 1]
        assert ts_out[a:b].tolist() == ts
        assert [s[a:b].tolist() for s in streams] == ss


def _decode_or_error(decode, payload):
    try:
        return decode(payload)
    except ValueError:
        return ValueError


@SETTINGS
@given(chunk(), st.data())
def test_mutated_payload_same_in_both_decoders(c, data):
    """A payload with a byte changed, cut or added decodes to the same
    values in both decoders, or raises ValueError in both."""
    good = oracle.assemble_blob(_encode_both([c]), 2)
    at = data.draw(st.integers(0, len(good) - 1))
    how = data.draw(st.sampled_from(["flip", "cut", "insert"]))
    if how == "flip":
        bad = good[:at] + bytes([good[at] ^ data.draw(st.integers(1, 255))]) + good[at + 1 :]
    elif how == "cut":
        bad = good[:at]
    else:
        bad = good[:at] + bytes([data.draw(st.integers(0, 255))]) + good[at:]
    slow = _decode_or_error(oracle.decode_blob, bad)
    vec = _decode_or_error(decode_blob_vec, bad)
    assert vec == (slow if slow is ValueError else (slow[0], slow[1]))
