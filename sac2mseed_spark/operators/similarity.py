"""Similarity search over embedding columns (array<float>).

Two paths:

  * knn_bruteforce — exact top-k cosine: broadcast the (small) query set
    against the corpus, score pairs in an Arrow-batched numpy kernel, rank
    per query with one window. At 100 TB this is the per-query-batch
    baseline: corpus scan x |Q|, embarrassingly parallel, zero corpus
    shuffle.

  * knn_lsh — random-hyperplane LSH: ±1 hyperplanes derived from the shared
    60-bit hash (deterministic, oracle-reproducible), signature = sign
    bits, candidates = bucket-equality join on signature bands, then exact
    cosine only on candidates. The scale path: corpus is bucketed once,
    each query probes its own buckets.

Bit-determinism contract (DuckDB oracle parity): every float reduction is
a *sequential left-to-right fold over dimensions* — the numpy kernels
accumulate with an explicit per-dimension loop (vectorized across rows),
which reproduces `list_dot_product` / `F.aggregate` folds bit-for-bit.
Rounding happens JVM-side (F.round, same as the oracle's round()).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

N_PLANES = 16
PLANE_BANDS = 4  # 4 bands x 4 bits


def _dvec(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Expression-level sequential dot product (kept for composability)."""
    return F.aggregate(
        F.zip_with(_dvec(a), _dvec(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a) -> Column:
    return F.sqrt(F.aggregate(_dvec(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


_PAIR_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("sim", DoubleType()),
    ]
)


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot with a sequential fold over dimensions (bit-exact to
    the SQL `list_dot_product`), vectorized across rows."""
    acc = np.zeros(len(a), dtype=np.float64)
    for d in range(a.shape[1]):
        acc += a[:, d] * b[:, d]
    return acc


def _list_matrix(col) -> np.ndarray:
    """(N, d) float64 matrix from an Arrow list<float> column — flat value
    buffer reshape, no per-row numpy objects."""
    n = len(col)
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    if n == 0 or len(flat) % n:
        raise ValueError("ragged embedding column")
    return flat.reshape(n, len(flat) // n)


def _cosine_pairs_arrow(batches) -> Iterator:
    """Score (query, neighbor) vector pairs: one reshape per Arrow batch +
    a sequential per-dimension fold (bit-exact to list_dot_product)."""
    import pyarrow as pa

    for rb in batches:
        if rb.num_rows == 0:
            continue
        names = rb.schema.names
        q = _list_matrix(rb.column(names.index("qv")))
        c = _list_matrix(rb.column(names.index("cv")))
        sim = _seq_dot(q, c) / (np.sqrt(_seq_dot(q, q)) * np.sqrt(_seq_dot(c, c)))
        yield pa.RecordBatch.from_arrays(
            [
                rb.column(names.index("query_id")).cast(pa.int64()),
                rb.column(names.index("neighbor_id")).cast(pa.int64()),
                pa.array(sim),
            ],
            names=["query_id", "neighbor_id", "sim"],
        )


# Per-batch candidate pruning: the final ranker keeps top-k per query by
# (round(sim, 6) desc, neighbor_id asc). A row can only be pushed out of
# the global top-k by rows whose UNROUNDED sim exceeds its own by more
# than 1e-6 (two sims within 1e-6 can round equal, and round(x) >
# round(r) implies x > r); so emitting every row within 1.1e-6 of the
# batch's k-th best (self-pairs masked) provably preserves the exact
# global result while shrinking the kernel output from |batch| x
# |queries| rows to ~k+ties per query per batch.
_MARGIN = 1.1e-6


def _topk_candidates(
    sim: np.ndarray, row_ids: np.ndarray, q_ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(row, query) indexes of the pairs of ``sim`` (rows x queries) that
    can reach a query's top-k: within ``_MARGIN`` of the batch's k-th
    best, self-pairs excluded. A NaN sim (a zero-norm vector) counts as
    +inf, since Spark's descending sort ranks NaN first."""
    masked = np.where(np.isnan(sim), np.inf, sim)
    masked = np.where(row_ids[:, None] == q_ids[None, :], -np.inf, masked)
    nrows = masked.shape[0]
    if nrows > k:
        kth = np.partition(masked, nrows - k, axis=0)[nrows - k, :]
        keep = masked >= (kth[None, :] - _MARGIN)
    else:
        keep = masked > -np.inf
    return np.nonzero(keep)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "sim")
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, rank, sim) — sim rounded to 6 dp
    (JVM-side) with deterministic tie-break on neighbor_id. The query set
    (small by contract — it must fit in one broadcast, like any broadcast
    dim table) is shipped to each task ONCE as a dense matrix; every
    corpus Arrow batch is scored against the whole query matrix in one
    kernel. The corpus never shuffles, and — unlike a pair-row
    broadcast-join — each corpus vector crosses the Arrow boundary once
    per batch, not once per query. The kernel emits only rows within a
    provably-safe rounding margin of each query's per-batch top-k (see
    the _MARGIN note), so the rank window sees ~k rows per
    query per batch instead of |corpus| x |queries| pair rows.

    Bit-determinism: the per-dimension outer-product fold reproduces the
    oracle's sequential list_dot_product order per pair, and the
    denominator sqrt(qq)*sqrt(cc) is a single commutative multiply.
    """
    qpdf = queries.select(
        F.col(id_col).cast("long").alias("query_id"), F.col(vec_col).alias("qv")
    ).toPandas()
    qids = qpdf["query_id"].to_numpy(np.int64)
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
    qq = np.sqrt(_seq_dot(Q, Q))
    bq = corpus.sparkSession.sparkContext.broadcast((qids, Q, qq))

    def kernel(batches) -> Iterator:
        import pyarrow as pa

        qids_b, Qm, qn = bq.value
        nq, dims = Qm.shape
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            C = _list_matrix(rb.column(names.index("cv")))
            if C.shape[1] != dims:
                raise ValueError(
                    f"corpus dims {C.shape[1]} != query dims {dims}"
                )
            cn = np.sqrt(_seq_dot(C, C))
            # sequential fold over dims (list_dot_product order), one
            # (corpus x queries) accumulator per batch
            acc = np.zeros((C.shape[0], nq), dtype=np.float64)
            for d in range(dims):
                acc += C[:, d, None] * Qm[None, :, d]
            sim = acc / (cn[:, None] * qn[None, :])
            cids = rb.column(names.index("neighbor_id")).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            ci, qi = _topk_candidates(sim, cids, qids_b, k)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids_b[qi]),
                    pa.array(cids[ci]),
                    pa.array(sim[ci, qi]),
                ],
                names=["query_id", "neighbor_id", "sim"],
            )

    c = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = c.mapInArrow(kernel, schema=_PAIR_SCHEMA).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _rank_topk(scored.withColumn("sim", F.round("sim", 6)), k)


def _plane_matrix(dims: int, n_planes: int = N_PLANES) -> np.ndarray:
    """±1 hyperplane weights; weight(p, d) = +1 iff the shared 60-bit hash
    of 'pl{p}:{d}' is even (reproducible in ANSI SQL, no RNG state)."""
    w = np.empty((dims, n_planes), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dims):
            h = int(hashlib.md5(f"pl{p}:{d}".encode()).hexdigest()[:15], 16)
            w[d, p] = 1.0 if h % 2 == 0 else -1.0
    return w


def _signature_kernel(
    n_planes: int, vec_type, expect_dims: int | None = None, keep_vec: bool = True
):
    fields = [StructField("id", LongType())]
    if keep_vec:
        fields.append(StructField("v", vec_type))
    fields.append(StructField("sig", LongType()))
    out_schema = StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        W = None
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            if expect_dims is not None and v.shape[1] != expect_dims:
                # loud failure instead of a silent oracle disagreement when
                # a caller fixed the plane literals to a dimensionality
                raise ValueError(
                    f"embedding dims {v.shape[1]} != expected {expect_dims}"
                )
            if W is None:
                W = _plane_matrix(v.shape[1], n_planes)
            # sequential fold over dims (matches list_dot_product order),
            # vectorized across rows AND planes
            acc = np.zeros((len(v), n_planes), dtype=np.float64)
            for d in range(v.shape[1]):
                acc += v[:, d, None] * W[None, d, :]
            bits = (acc > 0).astype(np.int64)
            sig = (bits << np.arange(n_planes, dtype=np.int64)[None, :]).sum(axis=1)
            out = {"id": pdf["id"].to_numpy(np.int64)}
            if keep_vec:
                out["v"] = pdf["v"]
            out["sig"] = sig
            yield pd.DataFrame(out)

    return run, out_schema


def hyperplane_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    expect_dims: int | None = None,
    keep_vec: bool = True,
) -> DataFrame:
    """(id[, v], sig): deterministic random-hyperplane signature per vector.

    With ``keep_vec`` the vector rides through the Arrow batch (lossless
    float pass-through) so no self-join is needed to reunite signature and
    embedding; ``keep_vec=False`` emits only (id, sig) — the candidate-
    generation path where vectors must NOT ride the shuffle (guide §2.3)."""
    vec_type = df.schema[vec_col].dataType
    run, schema = _signature_kernel(n_planes, vec_type, expect_dims, keep_vec)
    return df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(run, schema=schema)


def embedding_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    bands: int = PLANE_BANDS,
    expect_dims: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, sim >= threshold).

    Candidates: self-join on hyperplane-signature bands (vectors this
    similar agree on most sign bits, so they share a band w.h.p.); exact
    cosine verifies. The corpus is signed once and bucket-joined — no
    |corpus|² scoring.
    """
    bw = n_planes // bands
    # candidate generation on (id, sig) ONLY — embeddings must not ride
    # the band self-join or the distinct (guide §2.3/§8: shuffle the
    # lightweight proxy, re-attach the payload once). The old shape
    # carried BOTH vectors through the join and the distinct: ~2*dims*8
    # bytes per candidate row vs 16 bytes here.
    sigs = hyperplane_signatures(
        corpus, id_col, vec_col, n_planes, expect_dims, keep_vec=False
    )
    banded = _band_explode(sigs.select("id", "sig"), "id", bands, bw)
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "key"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("query_id"), F.col("r.id").alias("neighbor_id"))
        .distinct()
    )
    # re-attach each side's vector: the corpus crosses the join once per
    # side, keyed by its own id — never per candidate band
    vecs = corpus.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    )
    pairs = cand.join(
        vecs.select(F.col("id").alias("query_id"), F.col("v").alias("qv")),
        "query_id",
    ).join(
        vecs.select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv")),
        "neighbor_id",
    ).select("query_id", "qv", "neighbor_id", "cv")
    scored = pairs.mapInArrow(_cosine_pairs_arrow, schema=_PAIR_SCHEMA)
    return (
        scored.withColumn("sim", F.round("sim", 6))
        .filter(F.col("sim") >= threshold)
        .select(
            F.col("query_id").alias("a"), F.col("neighbor_id").alias("b"), "sim"
        )
    )


def _band_explode(sigs: DataFrame, id_alias: str, bands: int, bw: int) -> DataFrame:
    """(id, band, key) rows: one per signature band, ids only."""
    return sigs.select(
        F.col("id").alias(id_alias),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("sig"), i * bw)
                        .bitwiseAND(F.lit((1 << bw) - 1))
                        .alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_alias, "bk.band", "bk.key")


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    bands: int = PLANE_BANDS,
    expect_dims: int | None = None,
) -> DataFrame:
    """LSH-bucketed approximate top-k: candidates share at least one exact
    signature band with the query; exact cosine re-ranks candidates.

    Candidate generation and dedup run on (id, band, key) rows ONLY — the
    old shape carried both embeddings through the broadcast join and the
    distinct (2*dims*8 bytes per banded candidate, the dominant shuffle
    at scale); vectors are re-attached once per distinct pair: the query
    side from a broadcast (small by contract), the corpus side keyed by
    its own id (guide §2.3/§8)."""
    bw = n_planes // bands
    cb = _band_explode(
        hyperplane_signatures(
            corpus, id_col, vec_col, n_planes, expect_dims, keep_vec=False
        ),
        "neighbor_id", bands, bw,
    )
    qb = _band_explode(
        hyperplane_signatures(
            queries, id_col, vec_col, n_planes, expect_dims, keep_vec=False
        ),
        "query_id", bands, bw,
    )
    cand = (
        cb.join(F.broadcast(qb), ["band", "key"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # score without materializing (qv, cv) pair rows: candidate query
    # ids are grouped per corpus vector (an id-array column), the corpus
    # vector crosses the join ONCE, and the query matrix ships to each
    # task as a broadcast (queries are broadcast-small by contract, the
    # knn_bruteforce design) — the Arrow boundary carries |corpus|
    # vectors + id lists and emits 24-byte id/score rows, never 2*dims*8
    # bytes per candidate pair
    qpdf = queries.select(
        F.col(id_col).cast("long").alias("query_id"), F.col(vec_col).alias("qv")
    ).toPandas()
    if not len(qpdf):  # no query rows: np.stack needs at least one
        scored = corpus.sparkSession.createDataFrame([], schema=_PAIR_SCHEMA)
        return _rank_topk(scored.withColumn("sim", F.round("sim", 6)), k)
    qids = qpdf["query_id"].to_numpy(np.int64)
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
    qn = np.sqrt(_seq_dot(Q, Q))
    qpos = {int(q): i for i, q in enumerate(qids)}
    bq = corpus.sparkSession.sparkContext.broadcast((qids, Q, qn, qpos))

    cand_sets = cand.groupBy("neighbor_id").agg(
        F.collect_list("query_id").alias("qs")
    )
    cv = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    joined = cand_sets.join(cv, "neighbor_id").select("neighbor_id", "qs", "cv")

    def kernel(batches) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc

        qids_b, Qm, qn_b, qpos_b = bq.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            C = _list_matrix(rb.column(names.index("cv")))
            cn = np.sqrt(_seq_dot(C, C))
            ids = rb.column(names.index("neighbor_id")).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            qs = rb.column(names.index("qs"))
            lens = pc.list_value_length(qs).to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            flat_q = pc.list_flatten(qs).to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            qi = np.fromiter(
                (qpos_b[int(q)] for q in flat_q), dtype=np.int64, count=len(flat_q)
            )
            rep = np.repeat(np.arange(rb.num_rows, dtype=np.int64), lens)
            # sequential fold over dims (list_dot_product order) across
            # the flattened (corpus row, query) pair list
            acc = np.zeros(len(rep), dtype=np.float64)
            for d in range(C.shape[1]):
                acc += C[rep, d] * Qm[qi, d]
            sim = acc / (cn[rep] * qn_b[qi])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids_b[qi]),
                    pa.array(ids[rep]),
                    pa.array(sim),
                ],
                names=["query_id", "neighbor_id", "sim"],
            )

    scored = joined.mapInArrow(kernel, schema=_PAIR_SCHEMA)
    return _rank_topk(scored.withColumn("sim", F.round("sim", 6)), k)
