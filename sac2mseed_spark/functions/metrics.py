"""Per-turn metric derivation — the engine's "sample" values.

The reference's samples are seismic amplitudes at a fixed rate; ours are
per-turn metrics on an irregular grid: inter-turn latency, token count, text
length. All expression-level (whole-stage codegen), one window shuffle on
(conv_id) that every downstream rollup reuses.

Reference parallels:
  * latency = ts - lag(ts)  <->  gap calc in mst_findadjacent
    (/root/reference/libmseed/traceutils.c:300-334)
  * stable (conv_id, turn_idx, ts) ordering  <->  mst_groupsort comparator
    (/root/reference/libmseed/traceutils.c:1037-1084)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Stable intra-conversation order (BASELINE.json per-row invariant).
TURN_ORDER = ["turn_idx", "ts"]

METRIC_COLS = ["latency_us", "token_count", "text_len"]


def turn_window() -> Window:
    return Window.partitionBy("conv_id").orderBy(*TURN_ORDER)


def ts_us_col(ts_col="ts"):
    """Epoch microseconds of a timestamp column; tolerates TIMESTAMP_NTZ
    (parquet default) — the session TZ is pinned UTC so the cast is exact."""
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def token_count_col(text_col="text", single_space: bool = False):
    """Whitespace token count: 1 + the runs of whitespace (``\\s``) in the
    text with its leading and trailing SPACES trimmed; empty text and text
    of spaces only count 0 tokens. ``F.trim`` strips only spaces, so other
    whitespace at an end still separates an empty token: ``"\\n"`` and
    ``"\\t"`` count 2, ``"hello world\\n"`` 3, and a no-break space is no
    separator (``"a\\xa0b"`` counts 1). NULL text gives NULL.

    Default definition chosen to be expressible identically in ANSI SQL
    (DuckDB oracle, whose ``trim`` also strips only spaces): split trimmed
    text on runs of whitespace. Computed
    as 1 + count of separator runs (regexp_count) — value-identical to
    size(split(...)) on trimmed non-empty text, but never materializes a
    per-row token array (the split-based form allocates |tokens| string
    objects per turn just to take the length; at 10^12 turns that array
    churn is pure GC load in the hottest map stage).

    ``single_space=True`` is the fast path for corpora whose tokens are
    known single-space separated (no tabs/newlines/consecutive spaces —
    a cheap one-time corpus audit, and true by construction for the
    scale fixture): spaces+1 via a zero-regex length/replace chain.
    Measured 1.9x cheaper than the regex on real fixture text
    (7.6s vs 14.0s per 7.4M turns on 4 cores) and allocation-lighter (no Matcher state), which matters in
    the hottest map stage. Exact-equal to the general definition on any
    single-space corpus (tests assert agreement on the generator output
    and divergence on a tab case, so the contract is explicit)."""
    t = F.trim(F.col(text_col))
    if single_space:
        return F.when(F.length(t) == 0, F.lit(0)).otherwise(
            F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1
        )
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.regexp_count(t, F.lit(r"\s+")) + 1
    )


def derive_turn_metrics(
    transcripts: DataFrame, single_space_tokens: bool = False
) -> DataFrame:
    """transcripts -> + (ts_us, latency_us, token_count, text_len): the
    stateless values (``turn_values``), then the latency (``with_latency``).

    latency_us is NULL for each conversation's first turn (no predecessor),
    mirroring the reference's "no gap before the first record".

    The stateless metrics (token_count, text_len) are computed BEFORE the
    lag window on purpose: a downstream projection that drops ``text`` then
    prunes it below the window's conv_id exchange, so the shuffle carries
    ~60 B/turn of metrics instead of the full text bytes — at 100 TB the
    text column is ~3x everything else combined (see slim_metrics). A
    caller that puts a window of its own between the two halves keeps that
    property by calling them itself (plans/pipeline.py).

    ``single_space_tokens`` selects the corpus-audited zero-regex
    tokenizer (token_count_col) — same values on single-space corpora,
    ~2x cheaper in the job's hottest map stage.
    """
    return with_latency(turn_values(transcripts, single_space_tokens))


def turn_values(transcripts: DataFrame, single_space_tokens: bool = False) -> DataFrame:
    """transcripts -> + (ts_us, token_count, text_len): the metrics of a
    turn on its own, no window."""
    return (
        transcripts.withColumn("ts_us", ts_us_col("ts"))
        .withColumn(
            "token_count",
            token_count_col(single_space=single_space_tokens).cast("long"),
        )
        .withColumn("text_len", F.length("text").cast("long"))
    )


def with_latency(turns: DataFrame) -> DataFrame:
    """``turn_values`` output -> + latency_us, the gap to the previous turn
    of the conversation (``turn_window`` order)."""
    return turns.withColumn(
        "latency_us", F.col("ts_us") - F.lag("ts_us").over(turn_window())
    )


# The columns every tier/pack consumer actually reads.
SLIM_COLS = ["conv_id", "turn_idx", "ts_us", "latency_us", "token_count"]


def slim_metrics(metrics: DataFrame) -> DataFrame:
    """Drop text/role/tool before any persist or exchange. Catalyst prunes
    columns automatically in a lazy plan; an explicit projection matters
    the moment the caller persists (cache materializes every column)."""
    return metrics.select(*SLIM_COLS)
