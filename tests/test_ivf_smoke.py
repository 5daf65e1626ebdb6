"""Default-lane smoke test for the persisted IVF and IVF-PQ indexes: two
refreshes on a small clustered corpus read back every vector, and a
query that probes every cell returns the brute-force top-k. The full
batteries are in test_ivf_index.py and test_ivf_pq.py (slow lane)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.operators.ivf_index import IVFIndexView
from machinelearningalgomapreduce_spark.operators.ivf_pq import IVFPQIndexView

DIM, N, N_CELLS, PQ_M, PQ_K, K = 8, 120, 3, 2, 4, 3


def _u(tag):  # deterministic uniform in [-1, 1)
    h = int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)
    return h / 2**31 - 1.0


def _corpus():
    centers = [[_u(f"c:{c}:{d}") for d in range(DIM)] for c in range(N_CELLS)]
    rows = [
        (i, [centers[i % N_CELLS][d] + 0.1 * _u(f"n:{i}:{d}") for d in range(DIM)])
        for i in range(N)
    ]
    cents = [(c, centers[c]) for c in range(N_CELLS)]
    sub = DIM // PQ_M
    codebooks = [
        (m, c, rows[c][1][m * sub:(m + 1) * sub]) for m in range(PQ_M) for c in range(PQ_K)
    ]
    return rows, cents, codebooks


def _brute_topk(rows, query_ids):
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))), 6)

    vecs = dict(rows)
    want = {}
    for q in query_ids:
        ranked = sorted(
            ((-cos(vecs[q], v), i) for i, v in vecs.items() if i != q)
        )[:K]
        for rank, (neg, i) in enumerate(ranked, start=1):
            want[(q, rank)] = (i, -neg)
    return want


def _got(df):
    return {(r.query_id, r.rank): (r.neighbor_id, r.cos_sim) for r in df.collect()}


def test_ivf_and_ivf_pq_full_probe_equal_brute_force(spark, tmp_path):
    rows, cents, codebooks = _corpus()
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    batches = [emb.filter(F.col("vec_id") % 2 == i) for i in range(2)]
    ivf = IVFIndexView(str(tmp_path / "ivf"), cents, dim=DIM, n_probe=N_CELLS)
    pq = IVFPQIndexView(
        str(tmp_path / "pq"), cents, codebooks, dim=DIM, n_probe=N_CELLS
    )
    for idx in (ivf, pq):
        for i, b in enumerate(batches):
            assert idx.refresh(spark, b, batch_id=f"b{i}") is True
        assert len(idx.segments()) == 2
        assert sorted(r.vec_id for r in idx.read(spark).collect()) == list(range(N))

    query_ids = [0, 1, 2, 57, 101, N - 1]
    queries = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = _brute_topk(rows, query_ids)
    assert _got(ivf.query(spark, queries, k=K)) == want
    # rerank_mult·k ≥ N: the exact re-rank sees every row
    assert _got(
        pq.query(spark, queries, k=K, full_vectors=emb, rerank_mult=-(-N // K))
    ) == want
