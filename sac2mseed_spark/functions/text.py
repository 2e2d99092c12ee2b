"""Text analysis for training-data pipelines: tokenization, quality
scoring, language-ID heuristic, shingling, document fingerprinting.

All whole-stage-codegen expressions (no Python UDFs) so a 100 TB documents
scan stays JVM-side; every definition is chosen to be expressible verbatim
in ANSI SQL for the DuckDB oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashing import h60

# Tiny English stopword list shared with the oracle SQL (must stay sorted
# and literal-identical on both sides).
EN_STOPWORDS = ["a", "and", "for", "in", "is", "it", "of", "on", "the", "to", "was"]

# BPE-ish subword proxy: runs of letters, runs of digits, or single
# non-alphanumeric non-space characters.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def ws_tokens(text: Column | str) -> Column:
    """Whitespace tokens of trimmed text; empty or null text -> empty
    array (so a null text counts 0 tokens, not F.size(NULL) = -1)."""
    t = F.trim(F.col(text) if isinstance(text, str) else text)
    return F.when(
        F.coalesce(F.length(t), F.lit(0)) == 0, F.array().cast("array<string>")
    ).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column | str) -> Column:
    return F.size(ws_tokens(text)).cast("long")


def shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles as strings; texts with < k tokens yield the whole
    trimmed text as a single shingle (so short docs still participate).

    Built with ONE compiled-regex pass: normalize whitespace, then a
    zero-width lookahead captures each overlapping k-token window while the
    match consumes one token — 6x faster than the equivalent
    transform/slice/array_join higher-order pipeline (HOF lambdas are
    interpreted per element; regexp_extract_all is a native expression).
    Output strings are identical (tests + oracle assert)."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.trim(c), r"\s+", " ")
    pat = "(?=(" + " ".join(["\\S+"] * k) + "))\\S+ ?"
    grams = F.regexp_extract_all(norm, F.lit(pat), 1)
    return F.when(F.regexp_count(norm, F.lit(" ")) >= k - 1, grams).otherwise(
        F.array(norm)
    )


# PII patterns, chosen to mean the same thing under Java regex (Spark)
# and RE2 (DuckDB): character classes, bounded repetition, and ASCII \b
# only — no lookaround, no backreferences.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\b555-[0-9]{4,6}\\b"
PII_IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"


def pii_redact(text: Column | str) -> Column:
    """Redacted text: emails, then phones, then IPv4s replaced by typed
    placeholder tokens. Replacement ORDER is part of the contract (an
    email's host part could otherwise be eaten by the IP pattern) and is
    mirrored literally in the oracle SQL."""
    c = F.col(text) if isinstance(text, str) else text
    red = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, PII_PHONE_RE, "<PHONE>")
    return F.regexp_replace(red, PII_IPV4_RE, "<IP>")


def pii_profile(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document PII detection + redaction stats: match counts per
    class, redacted length, and a 60-bit digest of the redacted text (the
    digest lets a pipeline verify two scrub runs agree without shuffling
    the text itself — same philosophy as dedup_exact's digest groupBy).

    All codegen expressions (regexp_count / regexp_replace), zero Python:
    a 100 TB scrub pass is scan-shaped with no shuffle at all.
    """
    c = F.col(text_col)
    red = pii_redact(c)
    return docs.select(
        F.col(id_col),
        F.regexp_count(c, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(c, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(c, F.lit(PII_IPV4_RE)).cast("long").alias("n_ips"),
        F.length(red).cast("long").alias("redacted_len"),
        h60(red).alias("redacted_h60"),
    )


def top_ngrams(docs, k_top: int = 20, n: int = 2, text_col: str = "text"):
    """Corpus-level top-k word n-grams by occurrence count, rank-stamped.

    Ties break on the n-gram string ascending, so the result is fully
    deterministic. Scale shape: explode + partial/final count aggregate
    (shuffle keyed on the n-gram), then a distributed orderBy().limit(k)
    — Spark plans that as per-partition top-k + a k-row final merge
    (TakeOrderedAndProject), so no single node ever sees the full vocab.
    The k-row row_number window runs on k rows only.
    """
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(shingles(text_col, n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    order = [F.desc("n_occurrences"), F.asc("ngram")]
    top = counts.orderBy(*order).limit(k_top)
    w = Window.orderBy(*order)
    return top.select(
        "ngram", "n_occurrences", F.row_number().over(w).cast("int").alias("rank")
    )


def text_profile(docs, id_col: str = "doc_id", text_col: str = "text"):
    """DataFrame-level text-quality profile: ALL per-document counts are
    map-side expressions over the token array — zero exchanges, a pure
    scan shape (the old explode + groupBy(doc) re-aggregated what each
    row already knows about itself; guide §2.4: remove shuffles outright).

    Every column is a closed form the oracle SQL repeats (integer counts,
    one float expression tree each); this is the shape that survives a
    100 TB scan.
    """
    from pyspark.sql import DataFrame  # noqa: F401

    c = F.col(text_col)
    toks = ws_tokens(text_col)
    agg = docs.select(
        F.col(id_col),
        F.length(c).alias("_len"),
        F.regexp_count(c, F.lit("[^A-Za-z0-9\\s]")).alias("_punct"),
        F.regexp_count(c, F.lit(BPE_TOKEN_RE)).cast("long").alias("bpe_tokens"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: F.lower(x).isin(EN_STOPWORDS)))
        .cast("long")
        .alias("_sw"),
    )
    swr = F.when(F.col("n_tokens") > 0, F.col("_sw") / F.col("n_tokens")).otherwise(
        F.lit(0.0)
    )
    punct = F.when(F.col("_len") > 0, F.col("_punct") / F.col("_len")).otherwise(
        F.lit(0.0)
    )
    len_factor = F.least(F.col("_len") / F.lit(500.0), F.lit(1.0))
    return agg.select(
        id_col,
        "n_tokens",
        "bpe_tokens",
        F.round(punct, 6).alias("punct_ratio"),
        F.round(swr, 6).alias("stopword_ratio"),
        F.round(len_factor * (1.0 - punct) * (0.5 + 0.5 * swr), 6).alias("quality"),
        F.when(F.col("n_tokens") < 3, F.lit("und"))
        .when(swr >= 0.05, F.lit("en"))
        .otherwise(F.lit("xx"))
        .alias("lang_pred"),
    )


def doc_fingerprints(docs, id_col: str = "doc_id", text_col: str = "text", k: int = 8):
    """DataFrame-level fingerprinting: explode k-gram start offsets, hash,
    min per doc — codegen'd end to end (min is order-free, so the result
    matches the scalar expression form bit-for-bit).

    The per-gram aggregate runs on the 15-char md5 hex prefix, not the
    decimal conversion: fixed-length lowercase hex orders identically as
    string and as number, so min(hex) == hex(min(h60)) and the radix
    conversion (BigInteger alloc per gram in the old shape) happens once
    per DOCUMENT after the aggregate instead of once per gram."""
    t = F.trim(F.col(text_col))
    n = F.length(t)
    ex = docs.select(
        F.col(id_col),
        t.alias("_t"),
        F.explode(F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))).alias("_i"),
    ).select(
        id_col,
        F.substring(F.md5(F.col("_t").substr(F.col("_i"), F.lit(k))), 1, 15).alias("_hx"),
    )
    return ex.groupBy(id_col).agg(
        F.conv(F.min("_hx"), 16, 10).cast("long").alias("fingerprint")
    )


def doc_fingerprint(text: Column | str, k: int = 8) -> Column:
    """Winnowing-style fingerprint: min 60-bit hash over k-gram character
    shingles of the trimmed text (rolling-hash analogue, computed set-wise —
    min() is order-free so it distributes)."""
    t = F.trim(F.col(text) if isinstance(text, str) else text)
    n = F.length(t)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: t.substr(i, F.lit(k)),
    )
    hashed = F.transform(grams, lambda g: h60(g))
    return F.array_min(hashed)
