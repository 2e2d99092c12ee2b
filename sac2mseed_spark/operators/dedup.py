"""Deduplication operators for document corpora.

Four strategies, all shuffle-conscious for the 100 TB case:

  * exact            — hash-groupBy on the text (one shuffle on a 60-bit
                       digest, never on the full text bytes)
  * ngram_jaccard    — exact Jaccard over word-shingle sets, but candidate
                       pairs come from an inverted shingle->doc join, so
                       cost is Σ per-shingle pairs, not |docs|² (a doc pair
                       with zero shared shingles is never materialized)
  * minhash_lsh      — shingle -> k minhashes -> banded buckets ->
                       bucket-join candidates -> exact verify. The scale
                       path: shuffle volume is docs x k signature rows.
  * simhash          — 60-bit bit-majority fingerprint; near-dups = equal
                       fingerprint (hamming 0) or banded hamming match.

The verify step mirrors the reference's decode-side Xn check philosophy
(candidates are cheap and optimistic; an exact predicate confirms them,
/root/reference/libmseed/unpackdata.c:556-561).

Every operator returns deterministic, SQL-reproducible results (DuckDB
oracle in __spark_entry__.py) — hashes via functions.hashing.h60.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60
from ..functions.text import shingles, ws_tokens

# MinHash: 16 hashes in 8 bands of 2 rows — band-collision probability
# s^2 per band gives ~0.5 candidate recall at Jaccard 0.3 and ~0.98 at
# 0.7, a good floor for the 0.5-0.8 thresholds used here; 16 (not 12)
# keeps the verify set small on same-vocabulary corpora
MINHASH_K = 16  # signature length
MINHASH_BAND = 2  # rows per band -> 8 bands
# SimHash: 48 bits (not 64) stays positive in a signed BIGINT on both
# engines, and the 4x12-bit LSH bands (simhash_pairs) keep candidate sets
# selective where narrow bands would collide massively
SIMHASH_BITS = 48


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct text: keeper = min id, plus group size.

    GroupBy on the digest (fixed 8 bytes) rather than raw text keeps the
    shuffle narrow. A 60-bit digest collision would merge two distinct
    texts into one group; that risk is accepted unverified (collision
    odds ~n²/2⁶¹) — group by (text_h60, text) instead if the corpus
    warrants paying the full-text shuffle.
    """
    return (
        docs.select(F.col(id_col), F.col(text_col), h60(text_col).alias("text_h60"))
        .groupBy("text_h60")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("keep_id", "n_dups", "text_h60")
    )


def _shingle_sets(docs: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, shingle_h) distinct — the inverted-index base relation."""
    return (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(shingles(text_col, k)).alias("sh"),
        )
        .select("doc", h60("sh").alias("sh_h"))
        .distinct()
    )


# Max documents a shingle may appear in before it is dropped from the
# inverted index. The self-join on sh_h yields O(df^2) candidate rows per
# shingle, so one natural-language stop-shingle ("of the and") shared by d
# documents would alone produce d^2 rows — quadratic in practice on text
# corpora. Capping df bounds the join at cap^2 rows per shingle (the
# parse-with-selection philosophy: never materialize what a cheap
# predicate can drop, /root/reference/libmseed/parseutils.c:163-201).
# Dropped shingles leave BOTH the intersection and the union (set sizes
# are recomputed over the capped universe), so jaccard stays a true
# Jaccard — of the informative-shingle sets.
NGRAM_DF_CAP = 1024


def capped_shingle_sets(
    docs: DataFrame,
    k: int = 3,
    df_cap: int | None = NGRAM_DF_CAP,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc, sh_h) inverted index with document-frequency capping.

    The df count is one groupBy on the 8-byte digest; the semi-join back
    lands on the same sh_h partitioning the candidate self-join needs, so
    the cap costs one narrow shuffle, not a new wide one.
    """
    ss = _shingle_sets(docs, id_col, text_col, k)
    if df_cap is None:
        return ss
    keep = (
        ss.groupBy("sh_h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("sh_h")
    )
    return ss.join(keep, "sh_h", "left_semi")


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = NGRAM_DF_CAP,
) -> DataFrame:
    """Pairs (a < b) with shingle-set Jaccard >= threshold over the
    df-capped shingle universe (see NGRAM_DF_CAP; df_cap=None disables).

    Self-join on shingle hash -> count shared shingles per pair; set sizes
    broadcast back. |inter| and |union| are integers, so the final
    jaccard = inter / (|A|+|B|-inter) is one float division — bit-stable.
    """
    ss = capped_shingle_sets(docs, k, df_cap, id_col, text_col)
    sizes = ss.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (
        ss.alias("l")
        .join(ss.alias("r"), "sh_h")
        .filter(F.col("l.doc") < F.col("r.doc"))
        .groupBy(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        pairs.join(F.broadcast(sizes.withColumnRenamed("doc", "a").withColumnRenamed("sz", "sza")), "a")
        .join(F.broadcast(sizes.withColumnRenamed("doc", "b").withColumnRenamed("sz", "szb")), "b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "inter", "jaccard")
    )
    return out


# Kirsch-Mitzenmacher double hashing: minhash_j = (h1 + j*h2) mod 2^60 from
# two base hashes — 2 md5 evaluations per shingle instead of k, and the
# arithmetic stays overflow-free in a signed BIGINT on both engines
# (h2 is reduced mod 2^56 so j*h2 + h1 < 2^61).
MH_H2_MOD = 1 << 56
MH_MOD = 1 << 60


def minhash_signatures(
    docs: DataFrame,
    k: int = MINHASH_K,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc, sig array<long>): k derived min-hashes of the shingle set.

    Computed as ONE aggregation: explode shingles, build the k-vector of
    double-hashed values per shingle JVM-side, per-element min across the
    group — no per-seed pass over the data.
    """
    sh = docs.select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, shingle_k)).alias("sh")
    )
    # name the two md5-derived bases as columns in their OWN projection:
    # inlining them into the 16 array elements would print (and, under
    # interpreted fallback, evaluate) the md5 chain 32x per shingle;
    # CollapseProject keeps the split because the aliases are non-cheap
    # and multiply referenced
    hs = sh.select(
        "doc",
        h60("sh").alias("__h1"),
        (h60("sh", seed="mh2") % MH_H2_MOD).alias("__h2"),
    )
    vec = F.array(
        *[(F.col("__h1") + F.lit(j) * F.col("__h2")) % MH_MOD for j in range(k)]
    )
    return (
        hs.select("doc", vec.alias("hv"))
        .groupBy("doc")
        .agg(
            F.array(*[F.min(F.element_at("hv", j + 1)) for j in range(k)]).alias("sig")
        )
    )


def size_ratio_may_verify(sza: str, szb: str, threshold: float):
    """LOSSLESS size-ratio prefilter of the Jaccard verify: jaccard <=
    min(|A|,|B|) / max(|A|,|B|), so a pair whose set sizes are more
    lopsided than the threshold cannot verify. The verify compares
    ``round(jaccard, 6)``, which lifts a jaccard up to 5e-7 below the
    threshold onto it, so the slack is 6e-7 of the larger size, plus 0.5
    for the binary representation error of the threshold literal (sizes
    are ints, so |double(t)-t| * max « 0.5)."""
    big = F.greatest(sza, szb).cast("double")
    return F.least(sza, szb).cast("double") >= F.lit(threshold) * big - (
        0.5 + 6e-7 * big
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = MINHASH_K,
    band_rows: int = MINHASH_BAND,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash+LSH candidates, then exact-Jaccard verified.

    band bucket key = (band_idx, the band's minhash sub-vector itself — an
    array<long> equality join key, no explode/regroup round-trip and no
    string materialization); docs sharing any bucket become candidates.
    Verification recomputes true shingle Jaccard only for candidates — the
    classic shingle→minhash→band→bucket-join pipeline.
    """
    sigs = minhash_signatures(docs, k, shingle_k, id_col, text_col)
    n_bands = k // band_rows
    bands = sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.slice("sig", b * band_rows + 1, band_rows).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.bucket")
    cand = (
        bands.alias("l")
        .join(bands.alias("r"), ["band", "bucket"])
        .filter(F.col("l.doc") < F.col("r.doc"))
        .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
        .distinct()
        # candidates feed BOTH the verify join and the doc-id semi-join
        # below; materialize the (narrow id-pair) relation once instead
        # of recomputing the whole signature+band pipeline per consumer
        .localCheckpoint()
    )
    # verify only candidate docs: the semi-join against the (small)
    # candidate id set prunes the shingle relation BEFORE it shuffles —
    # at any realistic threshold candidates are a sliver of the corpus,
    # so the exact-Jaccard verify no longer re-shuffles every document's
    # shingles (guide §3.2; AQE turns the semi into a broadcast when the
    # candidate set is small, and falls back to a narrow shuffle when not)
    cand_ids = (
        cand.select(F.col("a").alias("doc"))
        .union(cand.select(F.col("b").alias("doc")))
        .distinct()
    )
    ss = _shingle_sets(docs, id_col, text_col, shingle_k).join(
        cand_ids, "doc", "left_semi"
    )
    sizes = ss.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    # drop lopsided pairs BEFORE their shingles are materialized
    cand_f = (
        cand.join(
            F.broadcast(sizes.toDF("a", "sza")), "a"
        )
        .join(F.broadcast(sizes.toDF("b", "szb")), "b")
        .filter(size_ratio_may_verify("sza", "szb", threshold))
        .select("a", "b")
    )
    # equi-join on (doc, sh_h) so the intersection materializes only the
    # matching shingles, never the |A| x |B| cross product per pair
    inter = (
        cand_f.join(ss.toDF("a", "sh_h"), "a")
        .join(ss.toDF("b", "sh_h"), ["b", "sh_h"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(F.broadcast(sizes.withColumnRenamed("doc", "a").withColumnRenamed("sz", "sza")), "a")
        .join(F.broadcast(sizes.withColumnRenamed("doc", "b").withColumnRenamed("sz", "szb")), "b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def dedup_clusters(
    docs: DataFrame,
    threshold: float = 0.8,
    max_iters: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Duplicate clusters: connected components over the verified
    MinHash-LSH near-dup pair graph, by iterative min-label propagation.

    Returns one row per document that belongs to a duplicate component
    (size >= 2): ``(doc_id, cluster_id, cluster_size)`` where cluster_id
    is the smallest doc_id in the component — the canonical "keeper" a
    training pipeline retains while dropping the rest.

    Scale shape: each round is one equi-join of the (symmetrized) edge
    list against the current labels plus a min-aggregate — a bounded
    number of narrow shuffles, never an all-pairs product. Rounds needed
    = component diameter; LSH dup families are near-cliques (every member
    pairs with the original through the exact-Jaccard verifier), so 2-3
    rounds close real corpora. localCheckpoint() after every round keeps
    the plan from growing linearly with iterations, and the convergence
    probe is a 1-row count. The loop-until-no-merge structure mirrors the
    reference's group heal (/root/reference/libmseed/traceutils.c:776-915
    rescans until no adjacent pair remains).
    """
    pairs = minhash_lsh_pairs(
        docs, threshold, id_col=id_col, text_col=text_col
    ).select("a", "b")
    return components_from_pairs(pairs, max_iters=max_iters, id_col=id_col)


def components_from_pairs(
    pairs: DataFrame, max_iters: int = 25, id_col: str = "doc_id"
) -> DataFrame:
    """Connected components of an (a, b) pair graph by iterative
    min-label propagation; the shared engine behind dedup_clusters and
    conv-level clustering (see the scale notes on dedup_clusters)."""
    # symmetric edge list, materialized once — every round re-reads it
    edges = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels.toDF("a", "albl"), "a")
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("albl").alias("nbr_min"))
        )
        # carry the did-it-shrink flag through the same join instead of
        # re-joining old and new labels afterwards (one fewer join job
        # per round; the convergence probe is then a filter+count over
        # the already-checkpointed round output)
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least("lbl", F.coalesce("nbr_min", "lbl")).alias("lbl"),
                (F.col("nbr_min") < F.col("lbl")).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("chg")).count()
        labels = new_labels.select("node", "lbl")
        if changed == 0:
            break
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "lbl").select(
        F.col("node").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        "cluster_size",
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash): bit-majority fingerprint over token hashes.

    Tokenize JVM-side into a per-row array (no explode, no shuffle: the
    old shape exploded every token and re-collected the hashes with a
    corpus-wide groupBy — a full exchange of the token stream, guide
    §2.4); the 60-bit md5 hashes are computed in the Arrow kernel via
    per-batch DICTIONARY ENCODING: tokens repeat heavily across a
    corpus, so md5 runs once per distinct token per batch (plus a
    per-task cache across batches) and the per-instance hash lookup is
    one C-speed numpy take — measured ~10x cheaper than evaluating the
    md5/conv expression per token instance in the JVM's interpreted
    higher-order ``transform``. The hash is bit-identical to
    functions/hashing.h60 (int(md5(utf8)[:15 hex], 16)), asserted by
    the unchanged oracle rows. The kernel then computes per-bit signed
    sums; integer math is order-free, so the result is independent of
    partitioning AND bit-identical to the SQL oracle's per-bit
    sum(CASE) formulation. Docs with no tokens yield no row (the
    explode semantics the oracle mirrors).
    """
    import numpy as np
    from hashlib import md5 as _md5

    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import LongType, StructField, StructType

    toks = docs.select(
        F.col(id_col).cast("long").alias("doc"),
        ws_tokens(text_col).alias("toks"),
    ).filter(F.size("toks") > 0)

    schema = StructType(
        [StructField(id_col, LongType()), StructField("simhash", LongType())]
    )
    nbits = SIMHASH_BITS

    def kernel(batches):
        cache: dict = {}
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            lists = rb.column(names.index("toks"))
            lens = pc.list_value_length(lists).to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            dic = pc.dictionary_encode(pc.list_flatten(lists))
            idx = dic.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            vocab = dic.dictionary.to_pylist()
            dvals = np.empty(len(vocab), dtype=np.int64)
            for i, s in enumerate(vocab):
                h = cache.get(s)
                if h is None:
                    h = int(_md5(s.encode("utf-8")).hexdigest()[:15], 16)
                    cache[s] = h
                dvals[i] = h
            flat = dvals[idx]
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            # (+1/-1) per bit, summed per doc: 2*popcount_sum - n. One flat
            # 1-D pass per bit — np.add.reduceat along axis 0 of a 2-D
            # (tokens x bits) array is strided and ~20x slower than these
            # nbits contiguous reduceats
            fp = np.zeros(rb.num_rows, dtype=np.int64)
            for b in range(nbits):
                ones_b = np.add.reduceat((flat >> b) & 1, starts)
                fp |= ((2 * ones_b - lens) > 0).astype(np.int64) << b
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(names.index("doc")).cast(pa.int64()),
                    pa.array(fp),
                ],
                names=[id_col, "simhash"],
            )

    return toks.mapInArrow(kernel, schema=schema)


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_hamming.

    Candidates via 4-band LSH on the fingerprint (12-bit bands): any pair
    within hamming 3 of a 48-bit fingerprint shares at least one exact
    band (pigeonhole), so banding is lossless for max_hamming <= 3.
    """
    fps = simhash(docs, id_col, text_col)
    n_bands = 4
    bw = SIMHASH_BITS // n_bands
    banded = fps.select(
        F.col(id_col).alias("doc"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * bw)
                        .bitwiseAND(F.lit((1 << bw) - 1))
                        .alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "simhash", "bk.band", "bk.key")
    # hamming filter BEFORE the distinct: the post-join filter runs inside
    # the join stage (no extra shuffle), so the distinct only shuffles the
    # surviving (a, b, hamming) triples — not every banded candidate with
    # both 64-bit fingerprints in tow
    return (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "key"])
        .filter(F.col("l.doc") < F.col("r.doc"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("l.doc").alias("a"),
            F.col("r.doc").alias("b"),
            "hamming",
        )
        .distinct()
    )


def dup_ngram_coverage(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated n-gram coverage across the corpus.

    The span-level curation metric behind exact-substring dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): for every document, what fraction of its distinct k-word
    shingles also appears in at least one OTHER document? A page that
    is 95% boilerplate scores ~0.95 even when no single whole-document
    duplicate exists — the signal pair-level dedup (ngram_jaccard_pairs)
    structurally misses once the shared text is spread across many
    partners.

    Cross-document only by construction: the base relation is the
    DISTINCT (doc, shingle-digest) inverted index, so document frequency
    df >= 2 means "some other document has it", and a doc repeating its
    own shingle internally does not self-inflate.

    dup_frac is a ratio of two exact integers, ONE float division
    rounded 6dp.

    Scale shape: shares ``_shingle_sets`` with the dedup family — text
    is digested map-side and only 8-byte shingle hashes shuffle. A
    shingle with df == 1 has exactly ONE owner, so ``min(doc)`` from the
    per-shingle aggregate IS that owner: per-doc unique counts come
    straight from the df aggregate and n_dup = n_shingles - n_unique —
    the index is never joined back against the df table (the old shape
    re-shuffled the full index through that join; guide §2.4). Both
    aggregates reuse the one (doc, sh_h) distinct exchange. No df cap:
    unlike the pair join (df² blowup), coverage cost is linear in index
    size, and dropping stop-shingles would understate boilerplate — the
    very thing this measures.
    """
    ss = _shingle_sets(docs, id_col, text_col, k)
    uniq = (
        ss.groupBy("sh_h")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc").alias("min_doc"))
        .filter(F.col("df") == 1)
        .groupBy(F.col("min_doc").alias("doc"))
        .agg(F.count(F.lit(1)).alias("n_uniq"))
    )
    return (
        ss.groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .join(uniq, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_shingles",
            (F.col("n_shingles") - F.coalesce("n_uniq", F.lit(0))).alias("n_dup"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_dup",
            F.round(
                F.col("n_dup").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )
