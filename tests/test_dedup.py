"""Dedup operators: shingle df-cap scale guard + pair semantics.

The inverted-index self-join on sh_h produces O(df^2) rows per shingle;
the df cap (operators/dedup.NGRAM_DF_CAP) is the guard that keeps a
natural-language stop-shingle from making the join quadratic — the
selection short-circuit philosophy of the reference
(/root/reference/libmseed/parseutils.c:163-201): drop with a cheap
predicate before materializing.
"""

from pyspark.sql import functions as F

from sac2mseed_spark.operators.dedup import (
    capped_shingle_sets,
    ngram_jaccard_pairs,
    size_ratio_may_verify,
)


def _hot_corpus(spark, n_docs=200):
    """Every doc shares one hot shingle run ('stop stop stop stop stop'
    -> hot 3-shingles); each doc also has unique content, and docs 2i /
    2i+1 are true near-dups of each other."""
    rows = []
    for i in range(n_docs):
        uniq = f"alpha{i // 2} beta{i // 2} gamma{i // 2} delta{i // 2} eps{i // 2}"
        rows.append((i, f"stop stop stop stop stop {uniq}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_df_cap_bounds_candidate_join(spark):
    docs = _hot_corpus(spark, 200)
    capped = capped_shingle_sets(docs, k=3, df_cap=50).persist()
    # the hot shingles (df=200 > 50) are gone from the inverted index
    max_df = (
        capped.groupBy("sh_h").agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df")).collect()[0][0]
    )
    assert max_df <= 50
    # candidate join size = sum df^2 over kept shingles: bounded by the
    # near-dup structure (~2 docs/shingle), NOT n_docs^2 from the hot run
    join_rows = (
        capped.alias("l").join(capped.alias("r"), "sh_h")
        .filter(F.col("l.doc") < F.col("r.doc")).count()
    )
    uncapped = capped_shingle_sets(docs, k=3, df_cap=None)
    join_rows_uncapped = (
        uncapped.alias("l").join(uncapped.alias("r"), "sh_h")
        .filter(F.col("l.doc") < F.col("r.doc")).count()
    )
    # the (single distinct) hot shingle alone contributes C(200,2)=19900
    # rows uncapped; capped, only the ~2-doc informative shingles remain
    assert join_rows_uncapped > 15_000
    assert join_rows < 2_000
    capped.unpersist()


def test_capped_pairs_find_true_dups_and_drop_stop_pairs(spark):
    docs = _hot_corpus(spark, 100)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, k=3, df_cap=50)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    # true near-dup pairs (2i, 2i+1) share ALL their informative shingles
    want = {(2 * i, 2 * i + 1) for i in range(50)}
    assert got == want
    # sanity: with the cap disabled the stop shingles glue unrelated docs
    # into the candidate set but exact-verify still rejects them below 0.5
    uncapped = ngram_jaccard_pairs(docs, threshold=0.5, k=3, df_cap=None)
    got_un = {(r["a"], r["b"]) for r in uncapped.collect()}
    assert want <= got_un


def test_cap_none_matches_legacy_semantics(spark):
    """df_cap=None reproduces the uncapped operator exactly (jaccard over
    the full shingle sets)."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    rows = ngram_jaccard_pairs(docs, threshold=0.5, k=3, df_cap=None).collect()
    assert len(rows) == 1 and (rows[0]["a"], rows[0]["b"]) == (1, 2)
    # shingle sets: doc1 {abc,bcd,cde,def}, doc2 {abc,bcd,cde,deg};
    # inter=3, union=5
    assert rows[0]["inter"] == 3 and abs(rows[0]["jaccard"] - 0.6) < 1e-9


def test_dup_ngram_coverage_closed_form(spark):
    from sac2mseed_spark.operators.dedup import dup_ngram_coverage

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # "a b c" shared with doc 2 -> 1/2
            (2, "a b c x"),        # 1/2
            (3, "z z z z z"),      # 1 distinct shingle, internal only -> 0
            (4, "q"),              # whole-text fallback, shared with 5
            (5, "q"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_dup"], r["dup_frac"])
        for r in dup_ngram_coverage(docs, k=3).collect()
    }
    assert got == {
        1: (2, 1, 0.5),
        2: (2, 1, 0.5),
        3: (1, 0, 0.0),
        4: (1, 1, 1.0),
        5: (1, 1, 1.0),
    }


def test_size_ratio_prefilter_keeps_pairs_rounding_to_threshold(spark):
    """The size-ratio prefilter drops no pair whose best-case jaccard,
    min/max, verifies after ``round(jaccard, 6)`` — at shingle-set sizes
    past 10^6 too — and still drops a lopsided pair."""
    t = 0.666667
    pairs = [
        (2_000_000, 3_000_000),  # 0.6666667 rounds up to t
        (3_000_000, 2_000_000),
        (4_000_000, 6_000_000),
        (20, 30),                # 0.6666667: dropped only at large sizes
        (666_667, 1_000_000),    # exactly t
        (1_999_997, 3_000_000),  # 0.666666 — below t after rounding
        (1, 3_000_000),
    ]
    df = spark.createDataFrame(pairs, "sza long, szb long")
    got = {
        (r["sza"], r["szb"]): r["keep"]
        for r in df.select(
            "sza", "szb", size_ratio_may_verify("sza", "szb", t).alias("keep")
        ).collect()
    }
    for (a, b), keep in got.items():
        if round(min(a, b) / max(a, b), 6) >= t:
            assert keep, (a, b)
    assert not got[(1_999_997, 3_000_000)]
    assert not got[(1, 3_000_000)]
