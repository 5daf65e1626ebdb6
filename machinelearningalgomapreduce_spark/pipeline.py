"""End-to-end training-data pipeline: the composition story.

A user of the reference repo runs its jobs as a CHAIN — filter, dedup,
decontaminate, chunk, shard. This module composes the engine's operators
into that exact chain as ONE lazy DataFrame program, returning both the
final export frame and the per-stage funnel counts a production pipeline
logs. Everything is the already-verified operators — no new semantics.

Stage order (the standard pretraining curation order — cheap scan-side
filters first, the expensive near-dup join on the reduced corpus):

1. quality gate      — q_quality_score's keep flag (scan-side heuristics)
2. near-dup removal  — minhash LSH pairs + CC clusters computed ON THE
                       QUALITY-FILTERED frame (dedup.minhash_dedup_pairs →
                       min_label_clusters), with quality-aware
                       survivorship (dedup.keep_best_frame): a clustered
                       doc survives only as its cluster's best member.
                       Running the LSH pass on the reduced corpus is both
                       the cheaper plan at 100 TB and the semantics this
                       docstring promises (ADVICE r5) — survivorship is
                       decided among gate-passers only, so no hidden
                       coupling between the keep-gate and the winner rule.
3. decontamination   — drop docs sharing 3-grams with the benchmark set
                       (q_decontaminate, broadcast probe side)
4. chunking          — fixed token windows with overlap
                       (export.chunk_token_streams, zero-shuffle)
5. sharding          — md5-deterministic shard of (doc_id, chunk_id)

Scale shape: stages 1/3/4/5 are scan-side or broadcast-probe (no corpus
shuffle); stage 2 is the band-bucketed LSH + CC loop — the one genuinely
heavy pass, run once on the already-reduced corpus.

Funnel counters (VERDICT r5 item 6): every stage boundary carries a
`Dataset.observe` node on the main lineage — the Spark-native MapReduce
Counter (functions/metrics.py) — so ALL five funnel values ride the ONE
materializing action at the end. No per-stage `.count()` actions remain;
the only extra jobs are the CC loop's own convergence reads, which are
control flow, not metrics. (Those early CC actions also traverse the
observed prefix of the plan; an Observation records the first completed
result, which is identical for every traversal, so early population is
benign.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.functions.metrics import with_quality_counters
from machinelearningalgomapreduce_spark.functions.storage import materialize_once
from machinelearningalgomapreduce_spark.operators.dedup import (
    embedding_dedup_blocked_frame,
    keep_best_frame,
    min_label_clusters,
    minhash_dedup_pairs,
)
from machinelearningalgomapreduce_spark.operators.export import chunk_token_streams
from machinelearningalgomapreduce_spark.operators.text import (
    q_decontaminate,
    q_quality_score,
)
from machinelearningalgomapreduce_spark.sources.catalog import load_tables

N_SHARDS = 16


def training_pipeline(
    spark: SparkSession,
    sf_dir: str,
    chunk_tokens: int = 64,
    overlap: int = 8,
    semantic_dedup: bool = False,
) -> tuple[DataFrame, dict[str, int]]:
    """Run the full curation chain; returns (chunks, funnel).

    `chunks`: (doc_id, chunk_id, n_tokens, chunk_text, shard), already
    materialized (the observe counters need one action; running it here
    makes the funnel complete on return).
    `funnel`: docs surviving each stage — raw → quality → deduped →
    [semantic →] decontaminated — plus the final chunk count.

    ``semantic_dedup=True`` inserts the SemDeDup-style stage between the
    text near-dup pass and decontamination: embedding-cosine near-dup
    pairs from dedup.embedding_dedup_blocked (learned IVF cells +
    multi-probe blocking + exact verify — the 100 TB shape, never
    all-pairs), restricted to the still-surviving docs, clustered by the
    same CC fixpoint, with the same quality-aware survivorship. Text
    dedup catches copies; the semantic stage catches paraphrases the
    shingle space misses — the standard curation order (SemDeDup runs
    AFTER exact/fuzzy text dedup, on the reduced corpus). Off by
    default: it requires the embeddings table keyed by the document id
    space (the fixture contract: vec_id ≡ doc_id)."""
    docs = load_tables(spark, sf_dir).documents

    names = ["raw", "quality", "deduped"]
    if semantic_dedup:
        names.append("semantic")
    names.append("decontaminated")
    obs = {name: Observation() for name in names}
    n = F.count(F.lit(1)).alias("n_rows")

    staged = docs.observe(obs["raw"], n)

    quality = q_quality_score(spark, sf_dir)
    quality_keep = quality.filter("keep").select("doc_id")
    staged = staged.join(quality_keep, "doc_id", "left_semi").observe(
        obs["quality"], n
    )

    # Near-dup pass on the REDUCED corpus: pairs, clusters, and the
    # quality-chosen winner are all computed among gate-passers. The CC
    # fixpoint materializes its labels, so `losers` enters the final
    # plan as a checkpoint scan — the observed `staged` subtree appears
    # exactly once and no counter double-fires.
    pairs = minhash_dedup_pairs(staged).select("doc_a", "doc_b")
    clusters = min_label_clusters(pairs).select("doc_id", "cluster_root")
    winners = keep_best_frame(
        clusters, quality.select("doc_id", "quality_score")
    ).select(F.col("best_doc").alias("doc_id"))
    # A clustered doc survives iff it IS its cluster's best member;
    # unclustered docs pass through untouched.
    losers = clusters.join(winners, "doc_id", "left_anti").select("doc_id")
    staged = staged.join(losers, "doc_id", "left_anti").observe(obs["deduped"], n)

    if semantic_dedup:
        # SemDeDup stage on the text-deduped survivors: the quantizer is
        # trained and the blocking pass run over ONLY the surviving docs'
        # embeddings (r11 review — filtering result pairs after a
        # full-corpus blocking pass would waste the dominant cost), so
        # survivorship is decided among survivors by construction.
        # materialize_once pins ONE evaluation of this join-heavy lineage:
        # the blocked-dedup helper reads it for its sizing count, the
        # k-means fit, and the blocking pass (r11 review), and the
        # checkpoint scan also keeps the observed `staged` subtree out of
        # the sem_pairs plan (the text-stage `losers` discipline above).
        survivors_emb = materialize_once(
            load_tables(spark, sf_dir)
            .embeddings.select("vec_id", "embedding")
            .join(
                staged.select(F.col("doc_id").alias("vec_id")),
                "vec_id",
                "left_semi",
            )
        )
        sem_pairs = embedding_dedup_blocked_frame(spark, survivors_emb).select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        )
        sem_clusters = min_label_clusters(sem_pairs).select(
            "doc_id", "cluster_root"
        )
        sem_winners = keep_best_frame(
            sem_clusters, quality.select("doc_id", "quality_score")
        ).select(F.col("best_doc").alias("doc_id"))
        sem_losers = sem_clusters.join(
            sem_winners, "doc_id", "left_anti"
        ).select("doc_id")
        staged = staged.join(sem_losers, "doc_id", "left_anti").observe(
            obs["semantic"], n
        )

    contaminated = (
        q_decontaminate(spark, sf_dir).filter("contaminated").select("doc_id")
    )
    staged = staged.join(contaminated, "doc_id", "left_anti").observe(
        obs["decontaminated"], n
    )

    shard = F.conv(
        # 15 hex chars (60 bits) of the md5, not just the leading digit:
        # the old single-digit conv made every shard ≥ 16 permanently
        # empty for N_SHARDS > 16 and skewed non-power-of-16 settings
        # (ADVICE r5; same pattern as classicml.kfold_assign).
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id"), F.col("chunk_id"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    chunks = chunk_token_streams(staged, chunk_tokens, overlap).withColumn(
        "shard", (shard % N_SHARDS).cast("int")
    )
    chunks, chunk_obs = with_quality_counters(chunks)

    # ONE action materializes the export and populates every counter.
    chunks = materialize_once(chunks)
    funnel: dict[str, int] = {name: o.get["n_rows"] for name, o in obs.items()}
    funnel["chunks"] = chunk_obs.get["n_rows"]
    return chunks, funnel
