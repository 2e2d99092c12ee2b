"""Payload codecs: delta-of-delta timestamps + per-chunk value-stream modes.

Format constants shared by the pure-Python oracle (codec/oracle.py — the
"reference implementation" whose bytes are the parity contract) and the
vectorized numpy kernels (codec/vectorized.py encodes, codec/decode_vec.py
decodes — the production path). Tests assert the three agree byte for
byte and bit for bit on every fixture.

Structure mirrors the reference's Steim framing
(/root/reference/libmseed/steimdata.h:16-44, packdata.c:234-712): a payload
is a sequence of self-contained *chunks* (frames), each re-anchoring at its
own first timestamp/value (X0), with the final value (Xn) kept alongside for
the decode integrity check (unpackdata.c:556-561 analogue). Like the
reference, which scales samples to int32 and Steim-packs integer first
differences, integral streams are coded as integer residuals.

Format v2 (little-endian base-128 varints, MSB-first bitstreams)::

    blob   = u8 version=2 | u8 n_streams | varint n_chunks | chunk*
    chunk  = varint n | varint zigzag(t0)
             | varint zigzag(delta0)                  (n >= 2)
             | varint ts_nbytes + DOD bitstream       (n >= 3)
             | stream * n_streams
    stream = u8 mode | mode head | varint nbytes + bitstream

A blob's point count is the sum of its chunks' ``n``. Stream modes:

    0 MODE_FLOAT  Gorilla XOR, first value raw 64 bits; no head
    1 MODE_PREV   integer residual against the previous value
    2 MODE_DELTA  integer residual against the chunk's ts[k] - ts[k-1]

Integer modes code the residuals of points 1..n-1 with the DOD bucket
coder (a '0' bit is a zero residual); their head is the first value as a
zigzag varint, or nothing when the mode byte carries FIRST_NAN (the first
value is CANONICAL_NAN, which the pack kernel writes for a NULL latency;
MODE_PREV then predicts point 1 from 0). A chunk may use an integer mode
only if every value round-trips bit-exactly through int64 (finite,
integral, |v| < INT_LIMIT, not -0.0), the first value alone may also be
CANONICAL_NAN. The encoder takes the mode with the fewest bytes, ties to
the lower mode number. All integer arithmetic wraps to int64.
"""

VERSION = 2

MODE_FLOAT, MODE_PREV, MODE_DELTA = 0, 1, 2
FIRST_NAN = 0x80  # mode-byte flag: the first value is CANONICAL_NAN
MODE_BYTES = (MODE_FLOAT, MODE_PREV, MODE_DELTA, MODE_PREV | FIRST_NAN, MODE_DELTA | FIRST_NAN)
CANONICAL_NAN = 0x7FF8000000000000
INT_LIMIT = 1 << 53

# Residual buckets of the timestamp and integer streams: (prefix value,
# prefix length, payload bits); a lone '0' bit codes a zero residual.
# Prefix bits are written MSB-first; payload is zigzag-encoded.
# Unlike the 32-bit-max Gorilla paper buckets, the final bucket is a 64-bit
# literal: transcript gaps span days (>2^32 us), where the reference's
# Steim2 simply errors on >30-bit differences (packdata.c:681-686). Our
# pinned behavior: overflow-to-64-bit-literal, never an error.
DOD_BUCKETS = (
    (0b10, 2, 7),
    (0b110, 3, 12),
    (0b1110, 4, 20),
    (0b11110, 5, 32),
    (0b11111, 5, 64),
)

# Gorilla XOR value stream (MODE_FLOAT): '0' = identical to previous; '1' +
# 5b leading-zero count (capped 31) + 6b (meaningful_len - 1) + meaningful
# bits. Deviation from the original paper: no control-window reuse across
# points. The paper's carried (leading, length) window is a sequential data
# dependence that cannot be vectorized; always emitting the 11-bit header
# for non-zero XORs costs a few % compression but makes every point's code
# a pure function of (x[i], x[i-1]) — embarrassingly parallel. Integral
# streams rarely reach this coder: the integer modes win on them.
GOR_LZ_BITS = 5
GOR_MLEN_BITS = 6

# Max points per chunk. A window's chunks split at ``turn_idx // CHUNK_POINTS``
# boundaries — a pure function of the row, so a blob's bytes are the same
# at any parallelism.
CHUNK_POINTS = 4096

from .oracle import (  # noqa: E402,F401
    assemble_blob,
    decode_blob,
    decode_chunk,
    encode_chunk,
    iter_chunks,
)
from .vectorized import encode_chunks_vec  # noqa: E402,F401
