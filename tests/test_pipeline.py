"""End-to-end curation-chain test: the composed pipeline must honor every
stage's contract simultaneously (monotone funnel, no duplicate survivors,
no contaminated survivors, chunk/shard invariants), and its observe()-based
funnel must equal independently counted stage sizes."""

from __future__ import annotations

import pytest

from machinelearningalgomapreduce_spark.pipeline import N_SHARDS, training_pipeline
from machinelearningalgomapreduce_spark.operators.dedup import (
    keep_best_frame,
    min_label_clusters,
    minhash_dedup_pairs,
)
from machinelearningalgomapreduce_spark.operators.text import (
    q_decontaminate,
    q_quality_score,
)
from machinelearningalgomapreduce_spark.sources.catalog import load_tables


def test_training_pipeline_funnel_and_invariants(spark, sf_dir):
    chunks, funnel = training_pipeline(spark, sf_dir, chunk_tokens=32, overlap=4)
    # Monotone funnel, nothing degenerate.
    assert funnel["raw"] >= funnel["quality"] >= funnel["deduped"] >= funnel["decontaminated"] > 0
    assert funnel["chunks"] >= funnel["decontaminated"]  # ≥1 chunk per doc

    rows = chunks.collect()
    assert len(rows) == funnel["chunks"]
    surviving_docs = {r.doc_id for r in rows}
    assert len(surviving_docs) == funnel["decontaminated"]

    # No contaminated doc survives.
    contaminated = {
        r.doc_id for r in q_decontaminate(spark, sf_dir).filter("contaminated").collect()
    }
    assert not (surviving_docs & contaminated)

    # Reduced-corpus dedup semantics (ADVICE r5): clusters and winners are
    # computed over the quality-filtered frame. Per cluster: at most one
    # survivor, and any surviving member is the quality-chosen best.
    docs = load_tables(spark, sf_dir).documents
    quality = q_quality_score(spark, sf_dir)
    staged = docs.join(quality.filter("keep").select("doc_id"), "doc_id", "left_semi")
    pairs = minhash_dedup_pairs(staged).select("doc_a", "doc_b")
    cluster_df = min_label_clusters(pairs)
    clusters = {r.doc_id: r.cluster_root for r in cluster_df.collect()}
    best = {
        r.cluster_root: r.best_doc
        for r in keep_best_frame(
            cluster_df.select("doc_id", "cluster_root"),
            quality.select("doc_id", "quality_score"),
        ).collect()
    }
    seen_roots = {}
    for d in surviving_docs:
        if d in clusters:
            root = clusters[d]
            assert best[root] == d  # only the best member survives
            assert root not in seen_roots
            seen_roots[root] = d

    # VERDICT r5 item 6: the observe()-based funnel must equal the counted
    # form exactly — same frames, explicit .count() actions.
    deduped_docs = staged.join(
        cluster_df.select("doc_id").join(
            keep_best_frame(
                cluster_df.select("doc_id", "cluster_root"),
                quality.select("doc_id", "quality_score"),
            ).selectExpr("best_doc AS doc_id"),
            "doc_id",
            "left_anti",
        ),
        "doc_id",
        "left_anti",
    )
    assert funnel["raw"] == docs.count()
    assert funnel["quality"] == staged.count()
    assert funnel["deduped"] == deduped_docs.count()
    decon = deduped_docs.join(
        q_decontaminate(spark, sf_dir).filter("contaminated").select("doc_id"),
        "doc_id",
        "left_anti",
    )
    assert funnel["decontaminated"] == decon.count()

    # Shards are well-formed and deterministic.
    assert all(0 <= r.shard < N_SHARDS for r in rows)
    chunks2, _ = training_pipeline(spark, sf_dir, chunk_tokens=32, overlap=4)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, chunks2.collect()))


def test_training_pipeline_semantic_stage(spark, sf_dir):
    """semantic_dedup=True inserts the SemDeDup stage: the funnel gains a
    'semantic' counter between deduped and decontaminated, semantic
    losers are exactly the non-best members of embedding near-dup
    clusters among the text-dedup survivors, and disabling the flag
    reproduces the original pipeline unchanged."""
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.operators.dedup import (
        embedding_dedup_blocked,
    )

    base_chunks, base_funnel = training_pipeline(
        spark, sf_dir, chunk_tokens=32, overlap=4
    )
    chunks, funnel = training_pipeline(
        spark, sf_dir, chunk_tokens=32, overlap=4, semantic_dedup=True
    )
    assert list(funnel) == [
        "raw", "quality", "deduped", "semantic", "decontaminated", "chunks",
    ]
    assert funnel["deduped"] >= funnel["semantic"] >= funnel["decontaminated"] > 0
    # stages before the insertion are identical to the baseline
    for stage in ("raw", "quality", "deduped"):
        assert funnel[stage] == base_funnel[stage]

    # independent expectation: survivors after the text-dedup stage,
    # minus non-best members of embedding clusters restricted to them
    survivors = {r.doc_id for r in chunks.select("doc_id").distinct().collect()}
    base_survivors = {
        r.doc_id for r in base_chunks.select("doc_id").distinct().collect()
    }
    quality = {
        r.doc_id: r.quality_score
        for r in q_quality_score(spark, sf_dir).collect()
    }
    # replicate stages 1-2 exactly (the first test's reduced-corpus
    # recipe) to get the TRUE membership of the semantic stage —
    # decontamination happens later, so base_survivors alone undercounts
    docs = load_tables(spark, sf_dir).documents
    gate_pass = {
        r.doc_id for r in q_quality_score(spark, sf_dir).filter("keep").collect()
    }
    staged1 = docs.filter(docs.doc_id.isin(list(gate_pass)))
    t_pairs = minhash_dedup_pairs(staged1).select("doc_a", "doc_b")
    t_clusters = min_label_clusters(t_pairs).select("doc_id", "cluster_root")
    t_winners = {
        r.best_doc
        for r in keep_best_frame(
            t_clusters,
            q_quality_score(spark, sf_dir).select("doc_id", "quality_score"),
        ).collect()
    }
    t_clustered = {r.doc_id for r in t_clusters.collect()}
    present = gate_pass - (t_clustered - t_winners)  # text-dedup survivors
    # pairs from the SAME restricted frame the pipeline blocks over (the
    # quantizer is trained on survivors only — r11 review), so every
    # endpoint is a stage member by construction
    emb = load_tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    restricted = emb.filter(F.col("vec_id").isin([int(d) for d in present]))
    sem_pairs = [
        (r.id_a, r.id_b)
        for r in embedding_dedup_blocked(spark, restricted).collect()
    ]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    stage_members = set()
    for a, b in sem_pairs:
        assert a in present and b in present  # restricted by construction
        stage_members |= {a, b}
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict = {}
    for d in stage_members:
        clusters.setdefault(find(d), set()).add(d)
    expected_losers = set()
    for members in clusters.values():
        best = max(members, key=lambda d: (quality[d], -d))
        expected_losers |= members - {best}
    assert survivors == base_survivors - expected_losers
