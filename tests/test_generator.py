"""Generator determinism + schema + per-row text-equality invariant."""

from pyspark.sql import functions as F

from sac2mseed_spark.sources.transcripts import FIXTURES, generate_transcripts

EXPECTED_SCHEMA = [
    ("conv_id", "string"),
    ("turn_idx", "int"),
    ("role", "string"),
    ("text", "string"),
    ("tool", "string"),
    ("ts", "timestamp"),
]


def test_schema_matches_input_hint(spark):
    df = generate_transcripts(spark, "t_small")
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == EXPECTED_SCHEMA


def test_deterministic_across_parallelism(spark):
    """Same rows at parallelism 2 and 8 — the generator is a pure function
    of (seed, conv_id, turn_idx)."""
    a = generate_transcripts(spark, "t_small", parallelism=2)
    b = generate_transcripts(spark, "t_small", parallelism=8)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_monotonic_ts_within_conv(spark):
    df = generate_transcripts(spark, "t_small")
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    bad = (
        df.withColumn("prev", F.lag("ts").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("ts") <= F.col("prev")))
        .count()
    )
    assert bad == 0


def test_text_equality_invariant_after_repartition(spark):
    """Per-turn text equality under stable (conv_id, turn_idx, ts) ordering
    survives an arbitrary repartition round-trip (BASELINE.json input_hint)."""
    df = generate_transcripts(spark, "t_small")
    shuffled = df.repartition(16, F.xxhash64("text"))
    joined = df.alias("a").join(
        shuffled.alias("b"), on=["conv_id", "turn_idx", "ts"], how="full"
    )
    mismatch = joined.filter(
        (F.col("a.text") != F.col("b.text"))
        | F.col("a.text").isNull()
        | F.col("b.text").isNull()
    )
    assert mismatch.count() == 0


def test_hot_fixture_sizes(spark):
    df = generate_transcripts(spark, "t_hot")
    sizes = dict(
        df.groupBy("conv_id").count().orderBy(F.desc("count")).limit(3).collect()
    )
    assert all(v == FIXTURES["t_hot"].hot_turns for v in sizes.values())


def test_edge_fixture_has_empty_text_and_dup_ts(spark):
    df = generate_transcripts(spark, "t_edge")
    assert df.filter(F.col("text") == "").count() > 0
    dups = df.groupBy("conv_id", "ts").count().filter("count > 1").count()
    assert dups > 0


def test_materialized_table_roundtrip_and_slicing(spark, tmp_path):
    """write_transcripts_table / read_transcripts_table: parquet round-trip
    preserves every row, and conv_slice reads are disjoint + exhaustive
    for any P dividing slice_mod (the scaling bench's input contract)."""
    from sac2mseed_spark.sources.transcripts import (
        read_transcripts_table,
        write_transcripts_table,
    )

    path = str(tmp_path / "tt")
    write_transcripts_table(spark, path, "t_small", slice_mod=8)
    gen = generate_transcripts(spark, "t_small", seed=42)
    rt = read_transcripts_table(spark, path)
    assert rt.columns == gen.columns
    assert rt.count() == gen.count()
    assert rt.exceptAll(gen).count() == 0
    assert gen.exceptAll(rt).count() == 0
    for P in (2, 4):
        slices = [
            read_transcripts_table(spark, path, conv_slice=(p, P)) for p in range(P)
        ]
        assert sum(s.count() for s in slices) == gen.count()
        # disjoint: same conv never appears in two slices
        convs = [
            set(r.conv_id for r in s.select("conv_id").distinct().collect())
            for s in slices
        ]
        assert all(
            not (convs[i] & convs[j]) for i in range(P) for j in range(i + 1, P)
        )


def test_single_space_tokenizer_contract(spark):
    """The zero-regex single-space tokenizer equals the general \\s+-run
    definition on generator corpora (single-space-joined words by
    construction) — and the test also pins WHERE they diverge (tabs,
    consecutive spaces), so choosing the fast path is an explicit,
    audited corpus property, not an approximation."""
    from pyspark.sql import functions as F

    from sac2mseed_spark.functions.metrics import token_count_col
    from sac2mseed_spark.sources.transcripts import generate_transcripts

    t = generate_transcripts(spark, "t_small", seed=7).select("text")
    diff = t.select(
        token_count_col().alias("a"),
        token_count_col(single_space=True).alias("b"),
    ).filter(F.col("a") != F.col("b"))
    assert diff.count() == 0

    edge = spark.createDataFrame(
        [("a\tb",), ("a  b",), ("",), ("   ",), ("one",), ("\n",), ("\t",)],
        "text string",
    )
    rows = {
        r["text"]: (r["a"], r["b"])
        for r in edge.select(
            "text",
            token_count_col().alias("a"),
            token_count_col(single_space=True).alias("b"),
        ).collect()
    }
    assert rows["a\tb"] == (2, 1)   # tab separates only under \s+
    assert rows["a  b"] == (2, 3)   # run of spaces counted once vs twice
    assert rows[""] == (0, 0)
    assert rows["   "] == (0, 0)
    assert rows["one"] == (1, 1)
    # trim strips only spaces: a lone newline or tab is a separator
    # between two empty tokens under \s+, one token under single-space
    assert rows["\n"] == (2, 1)
    assert rows["\t"] == (2, 1)
