"""IVF (inverted-file) approximate nearest neighbor over embeddings.

The third ANN path next to knn_bruteforce (exact baseline) and knn_lsh
(hyperplane buckets): the corpus is partitioned into n_centroids inverted
lists by nearest centroid; a query probes only its nprobe nearest lists and
re-ranks those candidates with exact cosine. At 100 TB the corpus is
assigned ONCE (one scan, no shuffle — assignment is a map), the inverted
lists are the partition layout, and each query batch touches
nprobe/n_centroids of the data instead of all of it.

Centroid choice is the deterministic medoid seed (the n_centroids lowest
ids) so the DuckDB oracle can reproduce the exact same index — a real
deployment would train centroids offline (k-means on a sample) and ship
them as a broadcast table, which is precisely how the seed matrix travels
here. Every float reduction is the same sequential per-dimension fold as
similarity.py (bit-exact to the oracle's list_dot_product).

Reference parallel: selection short-circuit before decode
(/root/reference/libmseed/parseutils.c:163-201) — prune whole buckets with
a cheap predicate (centroid distance) before the expensive exact scoring.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import (
    _list_matrix,
    _PAIR_SCHEMA,
    _rank_topk,
    _seq_dot,
    _topk_candidates,
)

N_CENTROIDS = 8
NPROBE = 2


def _centroid_matrix(corpus: DataFrame, id_col: str, vec_col: str, n: int):
    """(cids, matrix, norms) of the n lowest-id vectors — tiny, collected
    to the driver and broadcast like any dimension table."""
    rows = (
        corpus.select(F.col(id_col).cast("long").alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy("cid")
        .limit(n)
        .collect()
    )
    cids = np.array([r.cid for r in rows], dtype=np.int64)
    M = np.array([list(r.cv) for r in rows], dtype=np.float64)
    return cids, M, np.sqrt(_seq_dot(M, M))


def train_centroids(
    corpus: DataFrame,
    n_centroids: int = N_CENTROIDS,
    n_iters: int = 10,
    sample_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Sampled spherical k-means trainer — the production centroid path
    (module doc): a deterministic hash-sample of the corpus is collected
    to the driver (the 'offline training' step; at 100 TB the sample cap,
    not the corpus, bounds driver memory), Lloyd-iterated under cosine
    similarity, and the resulting (cids, matrix, norms) tuple broadcasts
    exactly like the medoid seed. Fully deterministic: xxhash64 sampling,
    medoid-seeded init, stable ties to the lowest centroid id, empty
    clusters keep their previous centroid.

    Returns the same (cids, M, norms) tuple _centroid_matrix returns, so
    ``knn_ivf(..., centroids=train_centroids(corpus))`` swaps the index
    seed without touching the assignment/probe/re-rank pipeline. cids are
    0..n-1 (trained centroids are synthetic points, not corpus rows).

    Oracle-reproducible BY CONSTRUCTION: the sample is the bottom
    ``sample_cap`` rows by (md5(sid), sid) — the same expression in Spark
    and DuckDB, hash-uniform regardless of corpus size (closes the r4
    lowest-id-prefix sampling bias) — and every float reduction is a
    defined sequential fold: dimensions left-to-right (the
    list_dot_product order, _seq_dot), members in sample order with the
    first member as the fold seed (the list_reduce order). No BLAS
    matmul anywhere, so the DuckDB twin (__spark_entry__._knn_ivf_trained
    _sql) replays the init and every Lloyd iteration bit-for-bit."""
    rows = (
        corpus.select(
            F.col(id_col).cast("long").alias("sid"), F.col(vec_col).alias("sv")
        )
        .orderBy(F.md5(F.col("sid").cast("string").cast("binary")), F.col("sid"))
        .limit(sample_cap)
        .collect()
    )
    S = np.array([list(r.sv) for r in rows], dtype=np.float64)
    if len(S) < n_centroids:
        raise ValueError(
            f"sample of {len(S)} rows cannot seed {n_centroids} centroids"
        )
    # unit-normalize once; spherical k-means maximizes cosine directly
    S = S / np.maximum(np.sqrt(_seq_dot(S, S)), 1e-300)[:, None]

    def _sims_to(vec: np.ndarray) -> np.ndarray:
        """dot(S[i], vec) for every sample row, sequential over dims."""
        acc = np.zeros(len(S), dtype=np.float64)
        for d in range(S.shape[1]):
            acc += S[:, d] * vec[d]
        return acc

    # deterministic farthest-point init (k-means++ without RNG): start at
    # the first sample (in hash order), then repeatedly take the point
    # least similar to its nearest chosen centroid — spreads seeds across
    # clusters (stable ties -> lowest sample index)
    chosen = [0]
    best_sim = _sims_to(S[0])
    for _ in range(1, n_centroids):
        nxt = int(np.argmin(best_sim))
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, _sims_to(S[nxt]))
    M = S[chosen].copy()
    for _ in range(n_iters):
        # (rows x centroids) similarity via the same sequential dim fold
        sim = np.zeros((len(S), n_centroids), dtype=np.float64)
        for d in range(S.shape[1]):
            sim += S[:, d, None] * M[None, :, d]
        # stable ties -> lowest centroid id
        lab = np.argmax(sim, axis=1)
        for c in range(n_centroids):
            idx = np.nonzero(lab == c)[0]
            if len(idx):
                v = S[idx[0]].copy()
                for j in idx[1:]:  # left fold in sample order
                    v = v + S[j]
                n = np.sqrt(_seq_dot(v[None, :], v[None, :])[0])
                if n > 0:
                    M[c] = v / n
    cids = np.arange(n_centroids, dtype=np.int64)
    return cids, M, np.sqrt(_seq_dot(M, M))


def _nearest(V: np.ndarray, M: np.ndarray, cnorm: np.ndarray, n_assign: int):
    """Top-n_assign centroid INDEXES per row of V (ties → lowest index,
    via a stable sort over the cid-ascending centroid order). The single
    assignment arithmetic shared by the distributed kernel and the
    driver-side query-probe path — sequential dim fold, bit-exact to the
    oracle's list_dot_product."""
    acc = np.zeros((len(V), M.shape[0]), dtype=np.float64)
    for d in range(V.shape[1]):
        acc += V[:, d, None] * M[None, :, d]
    sim = acc / (np.sqrt(_seq_dot(V, V))[:, None] * cnorm[None, :])
    return np.argsort(-sim, axis=1, kind="stable")[:, :n_assign]


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = N_CENTROIDS,
    nprobe: int = NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expect_dims: int | None = None,
    centroids=None,
) -> DataFrame:
    """IVF approximate top-k: (query_id, neighbor_id, rank, sim).

    corpus -> one assignment map (inverted lists); queries -> nprobe
    probed lists each (broadcast); candidates = equi-join on cid; exact
    cosine re-rank. sim rounded to 6 dp, ties broken on neighbor_id.

    ``centroids``: optional pre-trained (cids, M, norms) tuple (see
    train_centroids); default is the oracle-deterministic medoid seed.

    ONE fused corpus pass: the query probe lists are computed driver-side
    (queries are broadcast-small by contract, same as knn_bruteforce's
    query matrix) and shipped with the centroid matrix; a single Arrow
    kernel assigns each corpus vector its inverted list AND scores it
    against exactly the queries probing that list, emitting only rows
    within a provably-safe margin of each query's per-batch top-k (see
    knn_bruteforce for the rounding-margin argument). The old shape ran
    two mapInPandas passes and materialized every (query, neighbor)
    candidate row with BOTH vectors through the Arrow boundary and the
    rank window; candidates never carry vectors now (guide §2.3/§8)."""
    cids, M, cnorm = (
        centroids
        if centroids is not None
        else _centroid_matrix(corpus, id_col, vec_col, n_centroids)
    )
    qpdf = queries.select(
        F.col(id_col).cast("long").alias("query_id"), F.col(vec_col).alias("qv")
    ).toPandas()
    spark = corpus.sparkSession
    if not len(qpdf):
        scored = spark.createDataFrame([], schema=_PAIR_SCHEMA)
        return _rank_topk(scored.withColumn("sim", F.round("sim", 6)), k)
    qids = qpdf["query_id"].to_numpy(np.int64)
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
    if expect_dims is not None and Q.shape[1] != expect_dims:
        raise ValueError(f"embedding dims {Q.shape[1]} != expected {expect_dims}")
    qn = np.sqrt(_seq_dot(Q, Q))
    probe_idx = _nearest(Q, M, cnorm, nprobe)  # (nq, nprobe) centroid indexes
    cid2q: dict[int, np.ndarray] = {}
    for qi in range(len(qids)):
        for ci in probe_idx[qi]:
            cid2q.setdefault(int(ci), []).append(qi)
    cid2q = {c: np.asarray(v, dtype=np.int64) for c, v in cid2q.items()}
    bc = spark.sparkContext.broadcast((qids, Q, qn, cid2q, M, cnorm))

    def kernel(batches) -> Iterator:
        import pyarrow as pa

        qids_b, Qm, qn_b, cid2q_b, M_b, cnorm_b = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            C = _list_matrix(rb.column(names.index("cv")))
            if expect_dims is not None and C.shape[1] != expect_dims:
                raise ValueError(
                    f"embedding dims {C.shape[1]} != expected {expect_dims}"
                )
            own = _nearest(C, M_b, cnorm_b, 1)[:, 0]
            cn = np.sqrt(_seq_dot(C, C))
            ids = rb.column(names.index("neighbor_id")).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            out_q, out_n, out_s = [], [], []
            for ci in np.unique(own):
                qsel = cid2q_b.get(int(ci))
                if qsel is None:
                    continue
                rsel = np.nonzero(own == ci)[0]
                Cs, cs_n, cs_ids = C[rsel], cn[rsel], ids[rsel]
                Qs, qs_n, qs_ids = Qm[qsel], qn_b[qsel], qids_b[qsel]
                acc = np.zeros((len(rsel), len(qsel)), dtype=np.float64)
                for d in range(Cs.shape[1]):
                    acc += Cs[:, d, None] * Qs[None, :, d]
                sim = acc / (cs_n[:, None] * qs_n[None, :])
                rr, qq_ = _topk_candidates(sim, cs_ids, qs_ids, k)
                out_q.append(qs_ids[qq_])
                out_n.append(cs_ids[rr])
                out_s.append(sim[rr, qq_])
            if not out_q:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q)),
                    pa.array(np.concatenate(out_n)),
                    pa.array(np.concatenate(out_s)),
                ],
                names=["query_id", "neighbor_id", "sim"],
            )

    c = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = c.mapInArrow(kernel, schema=_PAIR_SCHEMA)
    return _rank_topk(scored.withColumn("sim", F.round("sim", 6)), k)
