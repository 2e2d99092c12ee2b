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

Format v3 (little-endian base-128 varints, MSB-first bitstreams)::

    blob   = u8 (version=3 << 4 | n_streams) | varint n_chunks | chunk*
    chunk  = varint n | varint zigzag(t0)
             | varint zigzag(delta0)                  (n >= 2)
             | varint ts_nbytes + Rice section        (n >= 3)
             | modes | stream * n_streams
    modes  = ceil(3 * n_streams / 8) bytes, a little-endian integer whose
             bits 3s..3s+2 are stream s's mode code, every higher bit 0
    stream = mode head | varint nbytes + bitstream

A blob's point count is the sum of its chunks' ``n``. Mode codes:

    0 MODE_FLOAT  Gorilla XOR, first value raw 64 bits; no head
    1 MODE_PREV   integer residual against the previous value
    2 MODE_DELTA  integer residual against the chunk's ts[k] - ts[k-1]
    | FIRST_NAN   (on 1 and 2) the first value is CANONICAL_NAN

Every integer section — the timestamp delta-of-deltas of points 2..n-1,
and the integer modes' residuals of points 1..n-1 — is one Rice section:

    section = (empty: nbytes 0, every residual is 0)
            | u6 k | code per residual, then zero bits to a byte boundary
    code    = '1' * q + '0' + low k bits of z        (q = z >> k < RICE_CAP)
            | '1' * RICE_CAP + z as a 64-bit literal  (the escape)

where z is the residual's zigzag. ``k`` is the exact argmin of the
section's bits over 0..RICE_K_MAX, ties to the lower k. A decoder rejects
a k past RICE_K_MAX, a code past its section's end, a non-empty section
longer than its codes or holding no residual, and an unknown mode code.

The integer modes' head is the first value as a zigzag varint, or nothing
under FIRST_NAN (the pack kernel writes CANONICAL_NAN for a NULL latency;
MODE_PREV then predicts point 1 from 0). A chunk may use an integer mode
only if every value round-trips bit-exactly through int64 (finite,
integral, |v| < INT_LIMIT, not -0.0), the first value alone may also be
CANONICAL_NAN. The encoder takes the mode with the fewest bytes, ties to
the lower mode number. All integer arithmetic wraps to int64.
"""

VERSION = 3

MODE_FLOAT, MODE_PREV, MODE_DELTA = 0, 1, 2
FIRST_NAN = 0b100  # mode-code flag: the first value is CANONICAL_NAN
MODE_CODES = (MODE_FLOAT, MODE_PREV, MODE_DELTA, MODE_PREV | FIRST_NAN, MODE_DELTA | FIRST_NAN)
MODE_BITS = 3
CANONICAL_NAN = 0x7FF8000000000000
INT_LIMIT = 1 << 53

# Rice sections. Transcript gaps in us sit near 2^21-2^22 and vary from
# chunk to chunk, so one parameter per section, taken from the data (the
# way Steim2 picks a width per word from the data, packdata.c:515-686),
# codes them in ~k + 2 bits. A quotient of RICE_CAP or more escapes to a
# 64-bit literal, so a day-long gap (~2^37 us) or a 2^63 residual still
# round-trips where Steim2 errors (packdata.c:681-686). RICE_K_MAX keeps a
# non-escaped code (at most RICE_CAP + k bits) inside one 64-bit read.
RICE_K_BITS = 6
RICE_CAP_BITS = 4
RICE_CAP = 1 << RICE_CAP_BITS
RICE_K_MAX = 64 - RICE_CAP

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


def blob_head(n_streams: int) -> int:
    """The blob's first byte: the version and the stream count."""
    if not 0 <= n_streams < 16:
        raise ValueError(f"{n_streams} streams do not fit the blob header")
    return VERSION << 4 | n_streams


def mode_bytes(n_streams: int) -> int:
    """Bytes of a chunk's packed mode codes."""
    return (MODE_BITS * n_streams + 7) // 8


from .oracle import (  # noqa: E402,F401
    assemble_blob,
    decode_blob,
    decode_chunk,
    encode_chunk,
    iter_chunks,
)
from .vectorized import encode_chunks_vec  # noqa: E402,F401
