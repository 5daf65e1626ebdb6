"""Tests for the persisted IVF and IVF-PQ indexes on a small clustered
corpus. Default lane: two refreshes read back every vector with no Spark
job, and a query that probes every cell returns the brute-force top-k.
Slow lane: an index whose manifests list bare segment names (written
before segment schemas were recorded) reads, queries, compacts and
vacuums the same. The full batteries are test_ivf_index.py and
test_ivf_pq.py."""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os

import pytest
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.operators.ivf_index import IVFIndexView
from machinelearningalgomapreduce_spark.operators.ivf_pq import IVFPQIndexView
from tests.conftest import jobs_while

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
    for name, idx in (("ivf", ivf), ("pq", pq)):
        for i, b in enumerate(batches):
            assert idx.refresh(spark, b, batch_id=f"b{i}") is True
        assert len(idx.segments()) == 2
        # each segment's recorded schema pins its scan: no inference job
        df, jobs = jobs_while(spark, f"read-{name}", lambda: idx.read(spark))
        assert jobs == 0
        assert sorted(r.vec_id for r in df.collect()) == list(range(N))

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


def _state(df):
    return sorted((r.vec_id, tuple(r[1]), r.cell) for r in df.collect())


def _bare_segment_names(path):
    """Rewrite every manifest as written before segment schemas were
    recorded: ``segments`` becomes a list of bare directory names."""
    for m in glob.glob(os.path.join(path, "m*.json")):
        with open(m) as f:
            manifest = json.load(f)
        manifest["segments"] = [s["dir"] for s in manifest["segments"]]
        with open(m, "w") as f:
            json.dump(manifest, f)


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_legacy_bare_name_manifests_read_the_same(spark, tmp_path):
    rows, cents, codebooks = _corpus()
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    batches = [emb.filter(F.col("vec_id") % 4 == i) for i in range(4)]
    query_ids = [0, 1, 2, 57, 101, N - 2]  # all in batches 0-2
    queries = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = IVFIndexView(str(tmp_path / "ivf"), cents, dim=DIM, n_probe=N_CELLS)
    pq = IVFPQIndexView(
        str(tmp_path / "pq"), cents, codebooks, dim=DIM, n_probe=N_CELLS
    )
    kw = {ivf: {}, pq: {"full_vectors": emb, "rerank_mult": -(-N // K)}}
    for name, idx in (("ivf", ivf), ("pq", pq)):
        for i in range(3):
            idx.refresh(spark, batches[i], batch_id=f"b{i}")
        read = idx.read(spark)
        schema, state = read.schema, _state(read)

        _bare_segment_names(idx.path)
        with open(os.path.join(idx.path, "m00000003.json")) as f:
            assert all(isinstance(s, str) for s in json.load(f)["segments"])
        read, jobs = jobs_while(spark, f"legacy-{name}", lambda: idx.read(spark))
        assert jobs > 0  # unrecorded segments are read with inference
        assert read.schema == schema and _state(read) == state
        indexed = [r for r in rows if r[0] % 4 != 3]
        assert _got(idx.query(spark, queries, k=K, **kw[idx])) == _brute_topk(
            indexed, query_ids
        )
        assert idx.vacuum(keep_last=1)
        assert _state(idx.read(spark)) == state

        # a refresh appends a recorded segment beside the bare names
        assert idx.refresh(spark, batches[3], batch_id="b3") is True
        full = _state(idx.read(spark))
        assert [v for v, _p, _c in full] == list(range(N))
        assert idx.compact(spark) == 1
        assert [set(s) for s in idx.segments()] == [{"dir", "schema"}]
        assert _state(idx.read(spark)) == full
        assert idx.vacuum(keep_last=1)
        assert _state(idx.read(spark)) == full
        assert _got(idx.query(spark, queries, k=K, **kw[idx])) == _brute_topk(
            rows, query_ids
        )
