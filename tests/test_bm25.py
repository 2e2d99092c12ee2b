"""BM25 retrieval: scoring semantics, determinism, self-exclusion."""

import pytest

from sac2mseed_spark.operators.bm25 import bm25_retrieval


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _queries(spark, pairs):
    return spark.createDataFrame(pairs, "query_id long, text string")


def _score(tf, df, dl, t, n):
    """The operator's exact rational formula, reproduced independently."""
    return (22 * tf * t * (2 * n - 2 * df + 1)) / (
        ((10 * tf + 3) * t + 9 * dl * n) * (2 * df + 1)
    )


def test_single_term_score_matches_closed_form(spark):
    d = _docs(spark, ["apple apple banana", "banana cherry", "cherry cherry"])
    q = _queries(spark, [(100, "apple")])
    out = bm25_retrieval(d, q, k=5).collect()
    # only doc0 contains 'apple': tf=2 df=1 dl=3, corpus T=7 N=3
    assert [(r["query_id"], r["doc_id"], r["n_terms"]) for r in out] == [(100, 0, 1)]
    assert out[0]["score"] == round(_score(2, 1, 3, 7, 3), 6)
    assert out[0]["rank"] == 1


def test_rarer_term_outranks_common_at_equal_tf(spark):
    # both candidate docs same length; doc1 matches the rare term
    d = _docs(
        spark,
        ["common rare", "rare filler", "common filler", "common pad"],
    )
    q = _queries(spark, [(9, "common rare")])
    out = {r["doc_id"]: r for r in bm25_retrieval(d, q, k=4).collect()}
    assert out[0]["n_terms"] == 2  # matches both query terms
    assert out[0]["rank"] == 1
    # rare (df=2) beats common (df=3) on the idf_r ratio at equal tf/dl
    assert out[1]["score"] > out[2]["score"]


def test_multi_term_sum_and_tiebreak(spark):
    # docs 1 and 2 are identical -> identical scores; tie broken doc asc
    d = _docs(spark, ["alpha beta", "alpha gamma", "alpha gamma"])
    q = _queries(spark, [(7, "alpha gamma")])
    out = bm25_retrieval(d, q, k=3).collect()
    ranks = {r["doc_id"]: r["rank"] for r in out}
    s = {r["doc_id"]: r["score"] for r in out}
    assert s[1] == s[2] and ranks[1] == 1 and ranks[2] == 2
    assert ranks[0] == 3  # matched only 'alpha'
    assert next(r["n_terms"] for r in out if r["doc_id"] == 1) == 2


def test_self_exclusion_and_k(spark):
    d = _docs(spark, ["same text here", "same text here", "same text here"])
    q = d.selectExpr("doc_id AS query_id", "text").filter("query_id = 0")
    out = bm25_retrieval(d, q, k=1).collect()
    assert len(out) == 1 and out[0]["doc_id"] != 0
    assert out[0]["doc_id"] == 1  # tiebreak doc asc
    with pytest.raises(ValueError):
        bm25_retrieval(d, q, k=0)


def test_stopwords_and_case_folding(spark):
    d = _docs(spark, ["The Apple", "the orchard"])
    q = _queries(spark, [(1, "APPLE the")])
    out = bm25_retrieval(d, q, k=5).collect()
    # 'the' is a stopword on both sides; APPLE folds to apple
    assert [(r["doc_id"], r["n_terms"]) for r in out] == [(0, 1)]


def test_query_side_is_broadcast(spark):
    d = _docs(spark, ["alpha beta"] * 4)
    q = _queries(spark, [(1, "alpha")])
    plan = (
        bm25_retrieval(d, q, k=2)
        ._jdf.queryExecution()
        .explainString(spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_null_text_counts_zero_tokens(spark):
    """A null text is a document with no tokens, exactly like '': same
    corpus length (avgdl) in bm25 and n_tokens 0 in text_profile, never
    F.size(NULL) = -1."""
    from sac2mseed_spark.functions.text import text_profile

    texts = ["apple apple banana", None, "banana cherry", "cherry cherry"]
    q = _queries(spark, [(100, "apple"), (101, "cherry")])
    null_docs = _docs(spark, texts)
    empty_docs = _docs(spark, ["" if t is None else t for t in texts])
    assert sorted(map(tuple, bm25_retrieval(null_docs, q).collect())) == sorted(
        map(tuple, bm25_retrieval(empty_docs, q).collect())
    )
    # only doc0 has 'apple': tf=2 df=1 dl=3, corpus T=7 over N=4 docs
    top = bm25_retrieval(null_docs, q).filter("query_id = 100").collect()
    assert top[0]["score"] == round(_score(2, 1, 3, 7, 4), 6)
    n_tok = {
        r["doc_id"]: r["n_tokens"]
        for r in text_profile(null_docs).collect()
    }
    assert n_tok == {
        r["doc_id"]: r["n_tokens"] for r in text_profile(empty_docs).collect()
    }
    assert n_tok[1] == 0
