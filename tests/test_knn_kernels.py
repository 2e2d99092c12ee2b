"""Kernel-level exactness tests for the round-6 ANN rewrites.

knn_bruteforce now prunes per-batch candidates inside the Arrow kernel
(rounding-margin argument) and knn_lsh scores grouped candidates against
a broadcast query matrix; both must reproduce the exact
(round(sim, 6) desc, neighbor_id asc) top-k of a naive reference,
including duplicate-vector ties.
"""

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from sac2mseed_spark.operators.ivf import knn_ivf
from sac2mseed_spark.operators.similarity import (
    _plane_matrix,
    _seq_dot,
    knn_bruteforce,
    knn_lsh,
    N_PLANES,
    PLANE_BANDS,
)

DIMS = 8
K = 4


def _spark_round6(x: float) -> float:
    # Spark round(double, 6): BigDecimal.valueOf(d).setScale(6, HALF_UP);
    # BigDecimal.valueOf uses Double.toString (shortest repr), as does
    # Python's repr
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _vectors(n=120, seed=3):
    rng = np.random.RandomState(seed)
    v = rng.randn(n, DIMS).astype(np.float32)
    # duplicate blocks -> exact sim-1.0 ties exercising the id tie-break
    v[10] = v[11] = v[12]
    v[20] = v[21]
    return v


def _df(spark, v):
    rows = [(i, [float(x) for x in v[i]]) for i in range(len(v))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _expected_topk(v, qidx, cand=None):
    """Reference top-k: sequential-fold cosine, Spark rounding, ties by
    neighbor id. cand[qi] restricts neighbors (for LSH); None = all."""
    V = v.astype(np.float64)
    norms = np.sqrt(_seq_dot(V, V))
    out = {}
    for qi in qidx:
        scores = []
        neighbors = cand[qi] if cand is not None else range(len(V))
        for ni in neighbors:
            if ni == qi:
                continue
            acc = 0.0
            for d in range(DIMS):
                acc += V[qi, d] * V[ni, d]
            sim = acc / (norms[qi] * norms[ni])
            scores.append((-_spark_round6(sim), ni))
        scores.sort()
        out[qi] = [
            (qi, ni, r + 1, -s) for r, (s, ni) in enumerate(scores[:K])
        ]
    return out


def test_bruteforce_kernel_pruning_exact(spark):
    v = _vectors()
    df = _df(spark, v)
    qidx = list(range(0, 120, 9)) + [10, 11]  # include tie-block members
    queries = df.filter(F.col("vec_id").isin(qidx))
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in knn_bruteforce(df, queries, k=K).collect()
    }
    exp = _expected_topk(v, qidx)
    for qi in qidx:
        for (q, ni, rank, sim) in exp[qi]:
            assert got[(q, rank)] == (ni, pytest.approx(sim, abs=0)), (q, rank)


def test_zero_norm_corpus_vector_ranks_first(spark):
    """A zero-norm corpus vector has a NaN cosine with every query, and
    Spark's descending sort ranks NaN first: the pruning kernels of
    knn_bruteforce and knn_ivf keep it, so it is every query's rank-1
    neighbor, followed by the exact top-(k-1) of the other vectors."""
    v = _vectors()
    v[5] = 0.0
    df = _df(spark, v)
    qidx = [0, 9, 27, 63]
    queries = df.filter(F.col("vec_id").isin(qidx))
    others = {qi: [n for n in range(len(v)) if n != 5] for qi in qidx}
    exp = _expected_topk(v, qidx, others)
    for result in (
        knn_bruteforce(df, queries, k=K),
        knn_ivf(df, queries, k=K, n_centroids=1, nprobe=1),
    ):
        got = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
            for r in result.collect()
        }
        for qi in qidx:
            ni, sim = got[(qi, 1)]
            assert ni == 5 and np.isnan(sim), (qi, ni, sim)
            for (q, ni, rank, sim) in exp[qi][: K - 1]:
                assert got[(q, rank + 1)] == (ni, pytest.approx(sim, abs=0)), (q, rank)


def test_knn_lsh_grouped_scoring_exact(spark):
    v = _vectors()
    df = _df(spark, v)
    qidx = [0, 9, 10, 11, 27, 45, 63]
    queries = df.filter(F.col("vec_id").isin(qidx))
    # reference candidates: share >= 1 exact signature band
    W = _plane_matrix(DIMS, N_PLANES)
    V = v.astype(np.float64)
    acc = np.zeros((len(V), N_PLANES))
    for d in range(DIMS):
        acc += V[:, d, None] * W[None, d, :]
    sig = ((acc > 0).astype(np.int64) << np.arange(N_PLANES)).sum(axis=1)
    bw = N_PLANES // PLANE_BANDS
    bands = np.stack(
        [(sig >> (i * bw)) & ((1 << bw) - 1) for i in range(PLANE_BANDS)], axis=1
    )
    cand = {
        qi: [
            ni
            for ni in range(len(V))
            if ni != qi and any(bands[ni, b] == bands[qi, b] for b in range(PLANE_BANDS))
        ]
        for qi in qidx
    }
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in knn_lsh(df, queries, k=K).collect()
    }
    exp = _expected_topk(v, qidx, cand)
    for qi in qidx:
        for (q, ni, rank, sim) in exp[qi]:
            assert got[(q, rank)] == (ni, pytest.approx(sim, abs=0)), (q, rank)


def test_knn_lsh_empty_queries(spark):
    """An empty query set gives no rows, with the non-empty result's schema."""
    df = _df(spark, _vectors())
    want = knn_lsh(df, df.filter(F.col("vec_id") == 0), k=K).schema
    got = knn_lsh(df, df.filter(F.lit(False)), k=K)
    assert got.count() == 0
    assert got.schema == want
