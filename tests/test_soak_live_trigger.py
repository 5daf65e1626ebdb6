"""Live-trigger (processingTime) soak for both streaming dedup sinks
(VERDICT r13 item 4).

availableNow covered replay and crash recovery; nothing exercised
SUSTAINED micro-batches under a live trigger. Here each sink drains a
directory-layout source split across several part files with
maxFilesPerTrigger=1 twice — once under trigger(availableNow) (the
baseline; availableNow honors the rate limit, so the drain runs the
same multi-batch schedule) and once under trigger(processingTime) with
the query stopped after the source is exhausted. The pins:

- the live run processes MULTIPLE micro-batches (it actually soaked);
- admissions are ROW-IDENTICAL to the availableNow baseline at equal
  batch partitioning (trigger mode moves scheduling, never semantics);
- index growth stays within compaction policy (no per-trigger bloat).
"""

from __future__ import annotations

import os

import pytest

# Soak lane: slow-marked, run with -m slow (pytest.ini r16).
pytestmark = pytest.mark.slow
import time

from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.sources.catalog import load_tables

from tests.conftest import drain

N_FILES = 6


def _split_source(spark, sf_dir, tmp_path, table):
    out = tmp_path / f"src_{table}"
    out.mkdir()
    (
        spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
        .repartition(N_FILES)
        .write.mode("overwrite")
        .parquet(str(out / f"{table}.parquet"))
    )
    return str(out)


def _drain_live(q, done, timeout=240):
    """Poll a live-trigger query until ``done()`` holds, then stop it.
    Returns the number of non-empty micro-batches it ran."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if done():
            # one extra beat so the final progress event lands
            time.sleep(1.5)
            break
        time.sleep(0.5)
    assert done(), "live-trigger soak timed out before draining the source"

    def _rows(p):
        try:
            return p["numInputRows"]
        except TypeError:
            return p.numInputRows

    batches = sum(1 for p in q.recentProgress if p and _rows(p) > 0)
    q.stop()
    drain(q, 300)
    return batches


def test_live_trigger_soak_exact_dedup_sink(spark, sf_dir, tmp_path):
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        dedup_ingest_stream,
        read_dedup_index,
    )

    src = _split_source(spark, sf_dir, tmp_path, "documents")
    n_hashes = (
        load_tables(spark, sf_dir)
        .documents.select(F.md5("text"))
        .distinct()
        .count()
    )

    # baseline: availableNow at the same 1-file-per-batch partitioning
    q = dedup_ingest_stream(
        spark, src, str(tmp_path / "idx_a"), str(tmp_path / "out_a"),
        str(tmp_path / "ck_a"), max_files_per_trigger=1,
    )
    drain(q, 700)

    def _rows_of(path):
        # drop the epoch stamp: it embeds the run digest (checkpoint-path
        # keyed), which differs across runs BY DESIGN — the semantic
        # content is everything else
        df = spark.read.parquet(path)
        return sorted(
            map(tuple, df.drop("epoch").collect())
        )

    base = _rows_of(str(tmp_path / "out_a"))
    assert len(base) == n_hashes

    out_b = str(tmp_path / "out_b")
    q2 = dedup_ingest_stream(
        spark, src, str(tmp_path / "idx_b"), out_b, str(tmp_path / "ck_b"),
        processing_time="500 milliseconds", max_files_per_trigger=1,
    )

    def done():
        try:
            return (
                spark.read.parquet(out_b).count() == n_hashes
            )
        except Exception:
            return False  # first epoch not written yet

    batches = _drain_live(q2, done)
    assert batches >= 2, batches  # it ran as a sustained multi-batch stream
    live = _rows_of(out_b)
    assert live == base

    # index state consistent and bounded: one index row per content hash
    # (the seen-set), no per-trigger duplication
    idx = read_dedup_index(spark, str(tmp_path / "idx_b"))
    assert idx.select("content_hash").distinct().count() == idx.count() == n_hashes


def test_live_trigger_soak_semantic_dedup_sink(spark, sf_dir, tmp_path):
    from machinelearningalgomapreduce_spark.operators.ivf_index import IVFIndexView
    from machinelearningalgomapreduce_spark.operators.ml import label_centroids
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        semantic_dedup_ingest_stream,
    )

    src = _split_source(spark, sf_dir, tmp_path, "embeddings")
    t = load_tables(spark, sf_dir)
    n_source = t.embeddings.count()
    cents = [
        (r.label, list(r.centroid))
        for r in label_centroids(t.embeddings).collect()
    ]

    idx_a = IVFIndexView(
        str(tmp_path / "sivf_a"), cents, dim=EMBEDDING_DIM, n_probe=2
    )
    q = semantic_dedup_ingest_stream(
        spark, src, idx_a, str(tmp_path / "sout_a"), str(tmp_path / "sck_a"),
        max_files_per_trigger=1,
    )
    drain(q, 900)
    base = sorted(
        map(
            tuple,
            spark.read.parquet(str(tmp_path / "sout_a"))
            .select("vec_id", "embedding")
            .collect(),
        )
    )
    assert 0 < len(base) <= n_source

    idx_b = IVFIndexView(
        str(tmp_path / "sivf_b"), cents, dim=EMBEDDING_DIM, n_probe=2
    )
    out_b = str(tmp_path / "sout_b")
    q2 = semantic_dedup_ingest_stream(
        spark, src, idx_b, out_b, str(tmp_path / "sck_b"),
        processing_time="500 milliseconds", max_files_per_trigger=1,
    )

    def done():
        # drained when every source epoch is in the ledger
        return len(idx_b.applied_batches()) >= N_FILES

    batches = _drain_live(q2, done, timeout=360)
    assert batches >= 2, batches
    live = sorted(
        map(
            tuple,
            spark.read.parquet(out_b)
            .select("vec_id", "embedding")
            .collect(),
        )
    )
    assert live == base

    # no index bloat beyond compaction policy: refresh compacts once the
    # live segment count reaches compact_at, so a soak can never leave
    # more than compact_at segments behind
    assert len(idx_b.segments()) <= idx_b.compact_at, idx_b.segments()
    # and the index state is the admitted set, one row per vec_id
    idx_b.compact(spark)
    state = idx_b.read(spark).collect()
    assert {r.vec_id for r in state} == {v for v, _e in live}
    assert len(state) == len(live)
