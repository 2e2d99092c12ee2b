"""Payload codecs: delta-of-delta timestamps + Gorilla XOR float values.

Format constants shared by the pure-Python oracle (codec/oracle.py — the
"reference implementation" whose bytes are the parity contract) and the
vectorized numpy kernel (codec/vectorized.py — the production path). Tests
assert the two produce identical bytes for every fixture.

Structure mirrors the reference's Steim framing
(/root/reference/libmseed/steimdata.h:16-44, packdata.c:234-712): a payload
is a sequence of self-contained *chunks* (frames), each re-anchoring at its
own first timestamp/value (X0), with the final value (Xn) kept alongside for
the decode integrity check (unpackdata.c:556-561 analogue).
"""

MAGIC = b"TR"
VERSION = 1

# delta-of-delta buckets: (prefix value, prefix length, payload bits)
# prefix bits are written MSB-first; payload is zigzag-encoded.
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

# Gorilla XOR value stream: '0' = identical to previous; '1' + 5b leading-
# zero count (capped 31) + 6b (meaningful_len - 1) + meaningful bits.
# Deviation from the original paper: no control-window reuse across points.
# The paper's carried (leading, length) window is a sequential data
# dependence that cannot be vectorized; always emitting the 11-bit header
# for non-zero XORs costs a few % compression but makes every point's code
# a pure function of (x[i], x[i-1]) — embarrassingly parallel, the property
# the whole 100 TB design rests on.
GOR_LZ_BITS = 5
GOR_MLEN_BITS = 6

BLOB_HEADER_LEN = 16  # magic(2) version(1) n_streams(1) n_chunks(4) n_points(8)
CHUNK_FIXED_LEN = 20  # n_points(4) t0(8) delta0(8)

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
