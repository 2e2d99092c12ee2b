"""Deterministic, distributed synthetic `transcripts` source.

Schema is exactly BASELINE.json's input_hint:
    (conv_id string, turn_idx int, role string, text string,
     tool string, ts timestamp[us])

This is the engine's analogue of the reference's deterministic test input —
the 500-sample expanding sinusoid with documented bit-width properties
(/root/reference/libmseed/test/lmtestpack.c:32-83). Like that fixture, every
value here is a pure function of (seed, conv_id, turn_idx), so any two runs —
at any parallelism, any partitioning — produce identical rows.

Scale design: timestamps are CLOSED-FORM in turn_idx (base spacing + bounded
jitter + periodic injected gaps), so generation needs no per-conversation
prefix sum, no window function, and no shuffle: `spark.range` → per-conv
params via xxhash64 → `explode(sequence(...))`. At 10^12 turns the only
adjustment needed is splitting hot conversations across input rows
(sub-ranges of turn_idx), which `chunk` below already does.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import read_parquet

EPOCH0_US = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z; any fixed origin

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu the a and to of in it is was for on"
).split()

_TOOLS = ["search", "browser", "calculator", "editor", "shell"]


@dataclass(frozen=True)
class TranscriptSpec:
    """Parameters of one deterministic fixture (FIXTURES.md §1)."""

    n_convs: int
    min_turns: int
    max_turns: int
    n_hot: int = 0  # convs [0, n_hot) get hot_turns turns (Zipf head)
    hot_turns: int = 0
    gap_every: int = 0  # every k-th turn starts after an injected gap
    gap_us: int = 0
    shuffle_rows: bool = False  # deliver rows out of time order
    edge_cases: bool = False  # empty text, duplicate ts pairs, 1-turn convs


FIXTURES: dict[str, TranscriptSpec] = {
    "t_small": TranscriptSpec(20, 5, 200),
    "t_gaps": TranscriptSpec(50, 50, 500, gap_every=40, gap_us=6 * 3_600_000_000),
    "t_ooo": TranscriptSpec(50, 100, 100, shuffle_rows=True),
    "t_hot": TranscriptSpec(1000, 20, 100, n_hot=3, hot_turns=100_000),
    "t_edge": TranscriptSpec(30, 1, 2, edge_cases=True),
    # bench scale: ~1.7M turns, 5 hot conversations (Zipf head) to exercise
    # the skew path; all closed-form, generated in-flight (no disk)
    "t_bench": TranscriptSpec(3000, 200, 800, n_hot=5, hot_turns=50_000),
    # scaling-efficiency runs: large enough that per-stage fixed overheads
    # (~100ms) vanish against compute at local[8]
    "t_scale": TranscriptSpec(25_000, 300, 800, n_hot=20, hot_turns=50_000),
    "t_scale4": TranscriptSpec(100_000, 300, 800, n_hot=80, hot_turns=50_000),
    # 2x t_scale4 (~118M turns): sized so per-round job floors (~10-15s of
    # scheduling + tiny-tier stages at 4N) stay <10%% of the 4N wall and the
    # scaling gate measures throughput, not latency
    "t_scale8": TranscriptSpec(200_000, 300, 800, n_hot=160, hot_turns=50_000),
    # 2x t_scale8 (~236M turns, ~12 GB parquet): the r5 validated-window
    # gate2 pair scored 0.787 at t_scale8 with the 4N legs carrying
    # ~9-14s/executor of per-stage fixed cost (job scheduling, tiny-tier
    # stages) — doubling data halves that share, the same move that
    # retired the proven ~0.69 structural ceiling of t_scale4 in r4
    "t_scale16": TranscriptSpec(400_000, 300, 800, n_hot=320, hot_turns=50_000),
}

# Max turns materialized from a single generator input row.  Hot
# conversations are split into chunks of this size so no task builds a
# multi-hundred-MB array — the generator itself is skew-free.
_CHUNK = 8192


def _h(*cols):
    """Deterministic 64-bit mix (xxhash64 of the columns + seed salt)."""
    return F.xxhash64(*cols)


def generate_transcripts(
    spark: SparkSession,
    spec: TranscriptSpec | str = "t_small",
    seed: int = 42,
    parallelism: int | None = None,
    conv_slice: tuple[int, int] | None = None,
    slice_mod: int | None = None,
) -> DataFrame:
    """Build the transcripts DataFrame for a fixture spec.

    Everything is expression-level (JVM, codegen); zero Python UDFs and zero
    shuffles except the optional output-order shuffle for the out-of-order
    fixture.

    ``conv_slice=(p, P)`` keeps only conversations with cid % P == p — a
    disjoint, exhaustive partition of the fixture used to emulate
    per-executor input splits (multi-process scaling runs).

    ``slice_mod=M`` appends a ``slice = cid % M`` column used as the
    physical partition key when the fixture is materialized to a table
    (write_transcripts_table); any executor count P with P | M then maps
    onto whole partition directories.
    """
    if isinstance(spec, str):
        spec = FIXTURES[spec]
    s = F.lit(seed)

    convs = spark.range(0, spec.n_convs, 1, parallelism or spark.sparkContext.defaultParallelism)
    convs = convs.withColumnRenamed("id", "cid")
    if conv_slice is not None:
        p, np_ = conv_slice
        convs = convs.filter(F.pmod(F.col("cid"), F.lit(np_)) == p)

    span = max(spec.max_turns - spec.min_turns, 0) + 1
    n_turns = F.lit(spec.min_turns) + F.pmod(_h(F.col("cid"), s, F.lit("nt")), F.lit(span))
    if spec.n_hot:
        n_turns = F.when(F.col("cid") < spec.n_hot, F.lit(spec.hot_turns)).otherwise(n_turns)
    if spec.edge_cases:
        # every third conversation has exactly one turn
        n_turns = F.when(F.col("cid") % 3 == 0, F.lit(1)).otherwise(n_turns)
    convs = convs.withColumn("n_turns", n_turns.cast("int"))

    # Split each conversation into fixed-size chunks of turn indices, then
    # explode chunks before exploding turns: two cheap narrow explodes keep
    # per-row array sizes bounded regardless of conversation size.
    convs = convs.withColumn(
        "chunk",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.col("n_turns") - 1) / _CHUNK).cast("int"))
        ),
    )
    lo = (F.col("chunk") * _CHUNK).cast("int")
    hi = F.least(F.col("n_turns"), (F.col("chunk") + 1) * _CHUNK).cast("int") - 1
    t = convs.withColumn("turn_idx", F.explode(F.sequence(lo, hi)))

    cid, tid = F.col("cid"), F.col("turn_idx")

    # --- closed-form timestamp ------------------------------------------
    # base spacing 1..30 s per conversation; jitter bounded to +/- base/4 so
    # the series stays strictly monotonic without a prefix sum.
    base_us = (F.lit(1) + F.pmod(_h(cid, s, F.lit("base")), F.lit(30))) * 1_000_000
    jitter = F.pmod(_h(cid, tid, s, F.lit("jit")), (base_us / 2).cast("long")) - (
        base_us / 4
    ).cast("long")
    conv_start = (
        F.lit(EPOCH0_US)
        + cid * 97_000_000  # stagger conversation starts
        + F.pmod(_h(cid, s, F.lit("st")), F.lit(86_400_000_000))
    )
    ts_us = conv_start + tid.cast("long") * base_us + jitter
    if spec.gap_every:
        ts_us = ts_us + F.floor(tid / spec.gap_every).cast("long") * F.lit(spec.gap_us)
    if spec.edge_cases:
        # duplicate-timestamp pair: turn 1 collides with turn 0
        ts_us = F.when(tid == 1, conv_start + jitter * 0).otherwise(ts_us)
        ts_us = F.when(tid == 0, conv_start).otherwise(ts_us)

    # --- roles / tools / text -------------------------------------------
    is_tool = F.pmod(_h(cid, tid, s, F.lit("tl")), F.lit(7)) == 0
    role = (
        F.when(is_tool, F.lit("tool"))
        .when(tid % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )
    tool = F.when(
        is_tool,
        F.element_at(
            F.array(*[F.lit(x) for x in _TOOLS]),
            (F.pmod(_h(cid, tid, s, F.lit("tn")), F.lit(len(_TOOLS))) + 1).cast("int"),
        ),
    ).otherwise(F.lit(None).cast("string"))

    n_words = (F.lit(3) + F.pmod(_h(cid, tid, s, F.lit("nw")), F.lit(38))).cast("int")
    words_lit = F.array(*[F.lit(w) for w in _WORDS])
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.element_at(
                words_lit, (F.pmod(_h(cid, tid, i, s), F.lit(len(_WORDS))) + 1).cast("int")
            ),
        ),
        " ",
    )
    if spec.edge_cases:
        text = F.when(F.pmod(_h(cid, tid, s, F.lit("et")), F.lit(13)) == 0, F.lit("")).otherwise(
            text
        )

    cols = [
        F.format_string("conv_%08d", cid).alias("conv_id"),
        tid.cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.timestamp_micros(ts_us.cast("long")).alias("ts"),
    ]
    if slice_mod:
        cols.append(F.pmod(cid, F.lit(slice_mod)).cast("int").alias("slice"))
    out = t.select(*cols)
    if spec.shuffle_rows:
        out = out.orderBy(F.pmod(_h(F.col("conv_id"), F.col("turn_idx"), s, F.lit("shuf")), F.lit(1 << 31)))
    return out


def write_transcripts_table(
    spark: SparkSession,
    path: str,
    spec: TranscriptSpec | str = "t_scale8",
    seed: int = 42,
    slice_mod: int = 16,
    parallelism: int | None = None,
) -> None:
    """Materialize a fixture as a slice-partitioned parquet table — the
    sandbox analogue of the north rule's Iceberg input table. Datagen is a
    one-time, UNTIMED setup step (like TPC dbgen): production jobs read a
    table something else wrote; they do not synthesize their input.

    Physical layout ``slice=cid % slice_mod`` means any executor count P
    with P | slice_mod reads a disjoint set of whole partition directories
    (partition pruning, zero overlap) — exactly how a real cluster splits
    an Iceberg table's files across executors.
    """
    generate_transcripts(
        spark, spec, seed, parallelism, slice_mod=slice_mod
    ).write.mode("overwrite").partitionBy("slice").parquet(path)


def read_transcripts_table(
    spark: SparkSession, path: str, conv_slice: tuple[int, int] | None = None
) -> DataFrame:
    """Read a materialized transcripts table; ``conv_slice=(p, P)`` keeps
    the p-th of P disjoint slices via partition pruning on the ``slice``
    directory column (requires P | slice_mod of the writer). The schema
    comes from one footer (``tables.read_parquet``), so the read starts no
    job."""
    df = read_parquet(spark, path)
    if conv_slice is not None:
        p, np_ = conv_slice
        df = df.filter(F.pmod(F.col("slice"), F.lit(np_)) == p)
    return df.drop("slice")


# SQL that derives a transcripts relation from the driver's `events` table.
# Used verbatim by Spark AND the DuckDB oracle so both engines query the
# exact same input (TESTDATA.md tables are the only shared data).
TRANSCRIPTS_FROM_EVENTS_SQL = """
SELECT
    concat('conv_', cast(user_id AS varchar)) AS conv_id,
    cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS int)
        AS turn_idx,
    CASE
        WHEN event_type IN ('click', 'view') THEN 'user'
        WHEN event_type = 'purchase' THEN 'tool'
        ELSE 'assistant'
    END AS role,
    props AS text,
    CASE WHEN event_type = 'purchase' THEN 'checkout' ELSE NULL END AS tool,
    ts
FROM events
"""


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts view over the driver-provided events parquet."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    # Spark's varchar cast spells the same as duckdb's for integers.
    return spark.sql(TRANSCRIPTS_FROM_EVENTS_SQL.replace("AS varchar", "AS string"))


def metrics_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``derive_turn_metrics(transcripts_from_events(...))`` computed with
    ONE window exchange instead of two (guide §2.4: two operations keyed
    the same way share one exchange). turn_idx (row_number) and
    latency_us (lag) share one window spec — conv_id is 'conv_' ||
    user_id (bijective) and turn_idx is assigned by (ts, event_id)
    order within user_id, so derive_turn_metrics' lag over (conv_id
    ORDER BY turn_idx, ts) orders rows exactly as this window does.
    The old path re-shuffled and re-sorted every metrics consumer's
    input on the derived conv_id string — a second full exchange
    Catalyst cannot elide because it does not know conv_id is bijective
    in user_id. Same columns, same order, same values (tests assert
    row-for-row equality with the unfused path).

    The stateless metrics (token_count, text_len) are computed BELOW
    the window, exactly like derive_turn_metrics does: a consumer that
    drops ``text`` then prunes it under the window exchange, so rollup
    shapes shuffle ~60 B/turn of metrics and TEXT NEVER CROSSES ANY
    EXCHANGE (the old path shipped it through the row_number window).
    The window partitions by conv_id (same groups as user_id —
    bijective), so every downstream per-conv aggregate piggybacks on
    its partitioning with no exchange of its own, the same free ride
    the old two-window path gave them. (A balance_scan round-robin of
    the events table was measured here and rejected: it parallelizes
    the tokenize against the local single-row-group fixture but ships
    text through an exchange for the digest consumers — a discipline
    the plan gates protect — and is a no-op at production scale.)
    """
    from pyspark.sql import Window

    from ..functions.metrics import token_count_col, ts_us_col

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        F.concat(F.lit("conv_"), F.col("user_id").cast("string")).alias("conv_id"),
        F.when(F.col("event_type").isin("click", "view"), F.lit("user"))
        .when(F.col("event_type") == "purchase", F.lit("tool"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type") == "purchase", F.lit("checkout")).alias("tool"),
        F.col("ts"),
        ts_us_col("ts").alias("ts_us"),
        token_count_col("props").cast("long").alias("token_count"),
        F.length("props").cast("long").alias("text_len"),
        F.col("event_id").alias("__eid"),
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "__eid")
    return base.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        "role",
        "text",
        "tool",
        "ts",
        "ts_us",
        "token_count",
        "text_len",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("latency_us"),
    )
