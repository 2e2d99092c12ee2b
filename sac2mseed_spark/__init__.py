"""sac2mseed_spark — a PySpark-native time-series rollup + downsample +
retention engine for conversation/agent transcript tables.

Inspired by (NOT a port of) EarthScope/sac2mseed's record-packing pipeline
(reference at /root/reference): traces keyed by source id become per-conv_id
turn streams; fixed-length miniSEED records become fixed-epoch windows at
1m/1h/1d retention tiers; Steim1/2 delta frame packing becomes delta-of-delta
timestamp compression + integer residual (or Gorilla XOR float) streams
inside Arrow-vectorized kernels.

Design principles (see SURVEY.md):
  * DataFrame/SQL only — Catalyst plans every scan/filter/agg/join.
  * Python appears only inside Arrow-batched UDFs (codec kernels).
  * Windows are self-delimiting (each packs its own X0) so encode is
    embarrassingly parallel and resume-safe; each blob's Xn is checked on
    decode, and no StreamState (libmseed pack.c:1003-1039) serializes the
    pipeline.
"""

__version__ = "0.1.0"

TIERS = {"1m": 60_000_000, "1h": 3_600_000_000, "1d": 86_400_000_000}
# tier name -> window length in microseconds (hptime_t analogue:
# /root/reference/libmseed/libmseed.h:150-161 uses int64 us since epoch).
