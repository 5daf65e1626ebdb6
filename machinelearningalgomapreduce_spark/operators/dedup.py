"""Deduplication operators (SURVEY.md §2D; north-star LLM-pipeline surface).

Four families over the documents table plus one over embeddings:
- exact:      content-hash groups (one shuffle on md5(text)).
- minhash:    shingle → 16 MinHash sigs → 4 LSH band keys → band-bucket
              join → Jaccard verify. The shuffle moves BAND KEYS, not
              documents — at 100 TB candidate generation is O(corpus), not
              O(corpus²); only verified candidates pay the pairwise cost
              (functions/hashing.py holds the deterministic primitives).
- simhash:    32-bit fingerprint from per-token md5 bit votes, computed as
              32 aggregate expressions in ONE hash aggregate (no 32× row
              blowup), then a fingerprint-equality self-grouping.
- ngram:      word-bigram Jaccard, blocked on the min-shingle fingerprint
              (1-permutation MinHash LSH: same-block probability equals the
              Jaccard itself, so ≥0.5-similar pairs are mostly retained and
              the candidate set stays near-linear).
- embedding:  cosine near-dup. Brute self-join here (fixture scale);
              the LSH-bucketed scale path lives in operators/similarity.py.

Every hash is md5-over-string, identical in Spark and DuckDB, so all five
are exact sql-oracle checks. Thresholds were calibrated on the fixtures:
near-dup clusters sit at Jaccard ≥ 0.7 with a clean gap below (measured
25 pairs at sf0.01, 256 at sf0.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM
from machinelearningalgomapreduce_spark.functions.hashing import (
    BAND_ROWS,
    LSH_BANDS,
    N_MINHASH,
    band_key,
    minhash_sig,
    shingles,
    tokens,
)
from machinelearningalgomapreduce_spark.functions.joins import fan_out
from machinelearningalgomapreduce_spark.functions.storage import materialize_once
from machinelearningalgomapreduce_spark.functions.vectors import dot, norm, sq_dist
from machinelearningalgomapreduce_spark.operators.text import QUALITY_SCORE_SQL
from machinelearningalgomapreduce_spark.sources.catalog import load_tables, table_stats

JACCARD_THRESHOLD = 0.7
NGRAM_JACCARD_THRESHOLD = 0.5
EMBEDDING_COSINE_THRESHOLD = 0.45
CONTAINMENT_THRESHOLD = 0.8
SIMHASH_BITS = 32

# Once-per-CALL-SITE registry for embedding_dedup_blocked_frame's
# verify=False semantic
# -break warning (r13 ADVICE: warn once per process, not per bench-loop
# call).
_VERIFY_FALSE_WARNED_SITES: set = set()


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 content groups; the survivor is the min doc_id."""
    t = load_tables(spark, sf_dir)
    return (
        t.documents.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def _shingle_sets(documents: DataFrame) -> DataFrame:
    # fan_out: shingling + the 16 MinHash folds are per-row map work over a
    # single-file scan — spread across cores before computing (r15,
    # joins.py::fan_out; no-op on already-wide inputs).
    return fan_out(documents).select(
        "doc_id", F.array_distinct(shingles(F.col("text"), k=3)).alias("sh")
    )


def _minhash_sigs(base: DataFrame) -> DataFrame:
    """16 MinHash signature columns (sig0..sig15) per doc."""
    return base.select(
        "doc_id",
        *[minhash_sig(F.col("sh"), seed).alias(f"sig{seed}") for seed in range(N_MINHASH)],
    )


def _lsh_candidates(sigs: DataFrame) -> DataFrame:
    """LSH band-bucket candidate pairs (doc_a < doc_b): the shuffle moves
    band keys, never documents."""
    band_cols = [
        band_key([F.col(f"sig{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]).alias(f"band{b}")
        for b in range(LSH_BANDS)
    ]
    melted = sigs.select(
        "doc_id",
        F.posexplode(F.array(*band_cols)).alias("band_id", "bkey"),
    )
    a, b = melted.alias("a"), melted.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _exact_jaccard(cand: DataFrame, base: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (rounded 6)."""
    sa = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(inter.cast("double") / union, 6).alias("jaccard"))
    )


def _exact_collapse(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Collapse exact-duplicate texts to one representative per md5(text).

    Returns (reps, members): reps = one (doc_id, text) row per distinct
    content (doc_id = min member id); members = (doc_id, rep_id) for every
    input doc. min_by keeps the representative's text deterministic (all
    member texts are byte-identical anyway — md5 equality).
    """
    keyed = docs.select("doc_id", F.md5("text").alias("content_hash"), "text")
    reps = keyed.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("text", "doc_id").alias("text"),
    )
    members = keyed.join(
        reps.select("content_hash", F.col("doc_id").alias("rep_id")),
        "content_hash",
    ).select("doc_id", "rep_id")
    return reps.select("doc_id", "text"), members


def minhash_dedup_pairs(docs: DataFrame) -> DataFrame:
    """Frame-level core of q_dedup_minhash: near-dup pairs for ANY
    (doc_id, text) frame — the composable form pipeline.py chains after
    its quality gate so the heavy LSH pass runs on the REDUCED corpus.

    Hot-bucket guard (VERDICT r9 item 3): byte-identical texts agree on
    ALL 16 MinHash sigs, so every copy of a boilerplate/empty doc lands in
    the SAME band bucket in every band — 1k copies would make the
    within-bucket self-join build 499,500 candidate pairs, each paying an
    exact Jaccard over full shingle arrays. The pass therefore collapses
    exact duplicates to one representative per md5(text) BEFORE shingling
    (the md5 route the exact-dedup path already uses): LSH candidates are
    generated over DISTINCT contents only, and the (inherently pairwise)
    identical-doc output is reconstructed afterwards by id-only expansion
    joins that never touch shingle sets. Near-identical-but-unequal docs
    still meet in their band buckets as before — recall is unchanged, and
    the output is bit-identical to the uncollapsed plan:
      * within-group pairs have Jaccard exactly 1.0 (round(|s|/|s|,6)),
        or NULL→dropped when the shared shingle set is empty — the same
        value the uncollapsed verify computes for identical sets;
      * cross-group pairs inherit the rep-level Jaccard, which equals the
        member-level one because members' shingle sets equal their rep's.
    """
    reps, members = _exact_collapse(docs)
    # Materialized: the shingle-set frame is referenced FIVE times in
    # this plan (signatures → band melt self-join, both exact-verify
    # sides, the within-group rep_j) and the shingling + array_distinct
    # compute sits ABOVE its exchange, so every reference re-ran it
    # (ReusedExchange dedupes shuffles, not the map work above them).
    # Materialize once: measured 3.15 → 1.79 s on this subtree at sf0.1
    # (r16, guide §5; ck of members measured neutral, ck of candidates
    # measured worse — both left lazy). At 100 TB the same decision holds
    # (compute the shingle pass once, not five times).
    base = materialize_once(_shingle_sets(reps))
    cand = _lsh_candidates(_minhash_sigs(base))
    rep_pairs = _exact_jaccard(cand, base).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )

    # Within-group expansion: all ordered member pairs of each exact group,
    # Jaccard 1.0 (identical non-empty shingle sets) — NULL (dropped) for
    # empty sets, matching the uncollapsed verify's 0/0 result.
    rep_j = base.select(
        F.col("doc_id").alias("rep_id"),
        F.round(
            F.when(F.size("sh") > 0, F.lit(1.0)).cast("double"), 6
        ).alias("jaccard"),
    )
    m1 = members.select("rep_id", F.col("doc_id").alias("doc_a"))
    m2 = members.select(F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("doc_b"))
    within = (
        m1.join(m2, (F.col("rep_id") == F.col("rep_b")) & (F.col("doc_a") < F.col("doc_b")))
        .join(rep_j, "rep_id")
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )

    # Cross-group expansion: every member pair across two near-dup groups
    # carries the rep pair's Jaccard; least/greatest restores doc_a < doc_b.
    cross = (
        rep_pairs.withColumnRenamed("doc_a", "rep_a").withColumnRenamed("doc_b", "rep_b")
        .join(members.select(F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("da")), "rep_a")
        .join(members.select(F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("db")), "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    return within.unionByName(cross)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dedup: candidates from band buckets, then exact
    Jaccard verification on the shingle sets (≥ 0.7 keeps true near-dups)."""
    t = load_tables(spark, sf_dir)
    return minhash_dedup_pairs(t.documents)


def q_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for the MinHash pipeline: for every LSH
    candidate pair, the signature-agreement Jaccard ESTIMATE
    (matching positions / 16) next to the exact shingle-set Jaccard and
    the absolute error — the measurement that justifies (or indicts)
    the 16-permutation budget before anyone trusts the dedup pass at
    100 TB, where only the estimate is affordable corpus-wide.

    Scale shape: the q_dedup_minhash candidate path (band-key shuffle
    only) plus one 16-column equality sum per pair. ONE join tree: each
    side carries its signatures AND its shingle set, so estimate and
    exact Jaccard come from the same two joins — the expensive band-bucket
    candidate subtree appears exactly once in the plan (ADVICE r4: the old
    shape built it twice and relied on exchange reuse). At full scale the
    audit runs on a candidate SAMPLE with identical plan shape.

    r10: the same exact-duplicate collapse as minhash_dedup_pairs (the
    hot-bucket guard — byte-identical copies would make this audit's
    bucket self-join quadratic, with an even heavier per-pair verify);
    metrics compute at rep level and expand by id-only joins. Identical
    pairs carry n_match=16 / est=1.0 / jaccard=1.0 / abs_err=0.0 — the
    values the uncollapsed verify computes for identical sigs and sets —
    or all-NULL when the shared shingle set is null, matching the
    uncollapsed 0/0 arithmetic."""
    t = load_tables(spark, sf_dir)
    reps, members = _exact_collapse(t.documents)
    base = _shingle_sets(reps)
    # Materialized: sigs (shingle set + 16 MinHash folds) is referenced
    # four times below (band melt, both audit sides, rep_metrics) and its
    # per-row compute would re-run per reference — same reasoning and
    # measurement class as minhash_dedup_pairs' base checkpoint (r16).
    sigs = materialize_once(
        base.select(
            "doc_id",
            "sh",
            *[minhash_sig(F.col("sh"), s).alias(f"sig{s}") for s in range(N_MINHASH)],
        )
    )
    cand = _lsh_candidates(sigs)  # sigs already carries sig0..15; the
    # extra sh column is ignored by the band-key projection
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(N_MINHASH)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(N_MINHASH)],
    )
    # coalesce each equality to 0: the oracle's CASE WHEN sig=sig yields 0
    # for NULL sigs (NULL-text docs), while a bare NULL==NULL cast would
    # propagate NULL through the sum — engine divergence on NULL text
    n_match = sum(
        F.coalesce((F.col(f"a{i}") == F.col(f"b{i}")).cast("int"), F.lit(0))
        for i in range(N_MINHASH)
    ).cast("bigint")
    est = F.round(F.col("n_match") / float(N_MINHASH), 6)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    exact = F.round(inter.cast("double") / union, 6)
    rep_rows = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_match", n_match)
        .withColumn("jaccard", exact)
        .select(
            "doc_a",
            "doc_b",
            "n_match",
            est.alias("est_jaccard"),
            "jaccard",
            F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )

    # Within-group expansion: identical docs agree on every signature and
    # share one shingle set, so the audit metrics are constants per group
    # (NULL-propagating when the set is null — the uncollapsed result).
    # NULL-sh reps (NULL text): n_match 0 / est 0.0 (the oracle's CASE
    # yields 0 per NULL-sig term), jaccard/abs_err NULL (0/0 arithmetic)
    has_sh = F.col("sh").isNotNull()
    rep_metrics = sigs.select(
        F.col("doc_id").alias("rep_id"),
        F.when(has_sh, F.lit(N_MINHASH)).otherwise(F.lit(0)).cast("bigint").alias("n_match"),
        F.round(F.when(has_sh, F.lit(1.0)).otherwise(F.lit(0.0)).cast("double"), 6).alias("est_jaccard"),
        F.round(F.when(has_sh, F.lit(1.0)).cast("double"), 6).alias("jaccard"),
        F.round(F.when(has_sh, F.lit(0.0)).cast("double"), 6).alias("abs_err"),
    )
    m1 = members.select("rep_id", F.col("doc_id").alias("doc_a"))
    m2 = members.select(F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("doc_b"))
    within = (
        m1.join(m2, (F.col("rep_id") == F.col("rep_b")) & (F.col("doc_a") < F.col("doc_b")))
        .join(rep_metrics, "rep_id")
        .select("doc_a", "doc_b", "n_match", "est_jaccard", "jaccard", "abs_err")
    )
    cross = (
        rep_rows.withColumnRenamed("doc_a", "rep_a").withColumnRenamed("doc_b", "rep_b")
        .join(members.select(F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("da")), "rep_a")
        .join(members.select(F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("db")), "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "n_match",
            "est_jaccard",
            "jaccard",
            "abs_err",
        )
    )
    return within.unionByName(cross)


def _simhash_bit_vote(token_hash: Column, bit: int) -> Column:
    """±1 vote for one fingerprint bit, extracted from the token's md5 hex."""
    hex_val = F.instr(F.lit("0123456789abcdef"), F.substring(token_hash, bit // 4 + 1, 1)) - 1
    return F.shiftright(hex_val, bit % 4).bitwiseAND(F.lit(1)) * 2 - 1


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivorship: for each near-dup cluster (transitive
    minhash components, q_dedup_clusters), keep the HIGHEST-quality member
    (q_quality_score composite; rounded-score tie-break on min doc_id) —
    the decision an actual dedup pass ships, where "first id wins" throws
    away the best copy whenever the duplicates differ in cleanliness.

    Output per cluster: size, the chosen survivor, its quality, and
    whether quality overrode the min-id default.

    Scale shape: clusters come from the CC loop (join+agg per round);
    the survivor pick is ONE min_by hash aggregate over cluster members —
    no per-cluster sort."""
    from machinelearningalgomapreduce_spark.operators.text import q_quality_score

    clusters = q_dedup_clusters(spark, sf_dir).select("doc_id", "cluster_root")
    quality = q_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    return keep_best_frame(clusters, quality)


def keep_best_frame(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """Frame-level core of q_dedup_keep_best: survivorship over ANY
    (doc_id, cluster_root) frame joined to (doc_id, quality_score)."""
    joined = clusters.join(quality, "doc_id")
    best = F.min_by(
        F.struct("doc_id", "quality_score"),
        F.struct((-F.col("quality_score")).alias("negq"), F.col("doc_id")),
    )
    return (
        joined.groupBy("cluster_root")
        .agg(F.count("*").alias("n_docs"), best.alias("b"))
        .select(
            "cluster_root",
            "n_docs",
            F.col("b.doc_id").alias("best_doc"),
            F.col("b.quality_score").alias("best_quality"),
            (F.col("b.doc_id") != F.col("cluster_root")).alias("quality_overrode_min_id"),
        )
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dedup: 32-bit fingerprint = sign of per-bit votes over
    the doc's distinct tokens; docs sharing a fingerprint form a cluster."""
    t = load_tables(spark, sf_dir)
    # fan_out: per-token md5 + 32 bit-votes are map-stage work (r15)
    tok = fan_out(t.documents).select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("token")
    ).withColumn("th", F.md5("token"))
    votes = tok.groupBy("doc_id").agg(
        *[F.sum(_simhash_bit_vote(F.col("th"), bit)).alias(f"v{bit}") for bit in range(SIMHASH_BITS)]
    )
    fingerprint = F.concat(
        *[F.when(F.col(f"v{bit}") >= 0, "1").otherwise("0") for bit in range(SIMHASH_BITS)]
    )
    per_doc = votes.select("doc_id", fingerprint.alias("simhash"))
    w = W.partitionBy("simhash")
    return per_doc.select(
        "doc_id",
        "simhash",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard near-dedup, blocked on a COMPOUND key:
    (min-shingle hash, log2 size band).

    The 1-perm MinHash block alone keeps candidates near-linear, but one
    hot shingle (boilerplate header, empty-ish docs) makes one giant block
    → quadratic within it on a skewed corpus. Adding a size band to the
    equi-join key splits such a block across length classes AND spreads its
    shuffle partitions.

    The banding is LOSSLESS for threshold ≥ 0.5: J(A,B) = |A∩B|/|A∪B| ≥ 0.5
    implies |A| and |B| differ by ≤2×, so floor(log2|A|) and floor(log2|B|)
    differ by ≤1. Side b is replicated into bands {b−1, b, b+1}; side a
    stays in its own band, so every qualifying pair matches on exactly ONE
    (block, band) key — no duplicate candidates, identical output to the
    unbanded form (the oracle keeps the simpler unbanded blocking for that
    reason). Pairs ≥2 bands apart can never reach the threshold and are
    pruned before the Jaccard is even computed.

    One boundary caveat (r10 review): the emitted filter passes the
    ROUNDED Jaccard ≥ 0.5 while the lossless proof covers TRUE J ≥ 0.5 —
    a pair whose true J sits in [0.4999995, 0.5) rounds up and would pass
    the unbanded filter but can sit 2 bands apart. That window requires
    ~2^19+ distinct bigrams per doc (≈ half-million-word documents), far
    outside the fixtures and any sane near-dup threshold use; noted, not
    special-cased."""
    t = load_tables(spark, sf_dir)
    # Materialized: both self-join sides reference this frame and its
    # shingling + md5-min + array_distinct compute sits above the fan_out
    # exchange — without materialization each side re-ran the full shingle
    # pass (the sides differ by the band explode, so no exchange is
    # shared). Measured 3.5–4.0 → 0.6–0.75 s at sf0.1 (r16, guide §5).
    base = materialize_once(
        fan_out(t.documents).select(
            "doc_id",
            F.array_min(F.transform(shingles(F.col("text"), k=3), F.md5)).alias("block"),
            F.array_distinct(shingles(F.col("text"), k=2)).alias("ng"),
        )
    )
    banded = base.withColumn("band", F.floor(F.log2(F.size("ng"))).cast("int"))
    a = banded.alias("a")
    b = banded.select(
        "doc_id",
        "block",
        "ng",
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("band"),
    ).alias("b")
    inter = F.size(F.array_intersect("a.ng", "b.ng"))
    union = F.size("a.ng") + F.size("b.ng") - inter
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter.cast("double") / union, 6).alias("bigram_jaccard"),
        )
        .filter(F.col("bigram_jaccard") >= NGRAM_JACCARD_THRESHOLD)
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup detection: directional overlap
    C(A→B) = |A∩B| / |A| over word-bigram sets, flagging pairs where one
    document is mostly CONTAINED in the other. This catches the
    subset-duplication Jaccard structurally misses (a short doc quoted
    inside a long one has high containment but low Jaccard — the union
    term dilutes it), which is exactly the partial-copy case an LLM dedup
    pass cares about.

    Candidates come from the same 1-perm min-shingle block as
    q_dedup_ngram_jaccard; NO size band here — banding is only lossless
    for symmetric measures (Jaccard bounds the size ratio; containment
    does not, small-inside-large is the interesting case). Declared
    semantics are "among min-shingle-blocked candidates", identical in
    both engines.

    Scale shape: block-keyed equi self-join, candidates near-linear;
    verify is one array_intersect per candidate."""
    t = load_tables(spark, sf_dir)
    # Materialized: both self-join sides re-ran the shingle pass (same
    # class as q_dedup_ngram_jaccard); measured 2.2 → 0.7 s at sf0.1 (r16).
    base = materialize_once(
        fan_out(t.documents).select(
            "doc_id",
            F.array_min(F.transform(shingles(F.col("text"), k=3), F.md5)).alias("block"),
            F.array_distinct(shingles(F.col("text"), k=2)).alias("ng"),
        )
    )
    a, b = base.alias("a"), base.alias("b")
    inter = F.size(F.array_intersect("a.ng", "b.ng"))
    c_ab = F.round(inter / F.size("a.ng").cast("double"), 6)
    c_ba = F.round(inter / F.size("b.ng").cast("double"), 6)
    union = F.size("a.ng") + F.size("b.ng") - inter
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            c_ab.alias("contain_a_in_b"),
            c_ba.alias("contain_b_in_a"),
            F.round(inter / union.cast("double"), 6).alias("bigram_jaccard"),
        )
        .filter(
            F.greatest("contain_a_in_b", "contain_b_in_a") >= CONTAINMENT_THRESHOLD
        )
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs. Brute-force pairwise at fixture
    scale; at 100 TB use the composed SemDeDup-style path
    (`embedding_dedup_blocked` below — learned cells + multi-probe
    blocking + this query's exact verify; measured recall 1.0 vs brute
    at both fixture scales) or the label-cell variant
    (`dedup_embedding_cell`) for corpora with a trusted label column.

    Why the CHECKED query stays brute: cell-pruning was measured on the
    fixture (sf0.01, 2026-08-13) — IVF cells from label_centroids retain
    only 2/14 true pairs (top-1 cell) and 7/14 with 2-probe, because the
    fixture's labels barely correlate with geometry. Swapping the checked
    semantics to cell-pruned would pass its own oracle while silently
    missing 86% of actual near-dups — the brute form is the honest oracle
    baseline, and `dedup_embedding_cell`'s recall is pytest-tracked
    (tests/test_dedup_variants.py) so the trade-off is machine-recorded.

    Above similarity.BRUTE_MAX_ROWS embeddings (the table's Parquet footer
    row count, catalog.table_stats — no probe job, whatever the
    directory is named) the brute self-join REFUSES to run and routes to
    the learned-cell blocked path (VERDICT r4 item 5: enforce the switch
    in code, not prose; r11: the route is embedding_dedup_blocked, whose
    fixture recall vs brute is 1.0) — at that scale the O(n²) form is
    not an option and any residual recall trade-off is the price of
    admission, tracked by the recall tests. The route emits a warning:
    the caller asked for the exact query and is getting blocked-candidate
    semantics (recall 1.0 on the fixtures, but approximate by
    construction), which must be observable, not silent (r12 ADVICE)."""
    from machinelearningalgomapreduce_spark.operators.similarity import BRUTE_MAX_ROWS

    if table_stats(spark, sf_dir)["embeddings"].rows > BRUTE_MAX_ROWS:
        import warnings

        warnings.warn(
            f"q_dedup_embedding: {sf_dir} holds more than "
            f"{BRUTE_MAX_ROWS} embeddings — routing to the "
            "approximate blocked path (embedding_dedup_blocked); "
            "results are candidate-verified near-dup pairs, not "
            "the exhaustive O(n²) enumeration",
            stacklevel=2,
        )
        # learned-cell multi-probe blocking (recall 1.0 vs brute on the
        # fixtures), not the label-cell variant — a big unlabeled corpus
        # has no label column to seed cells from anyway
        return embedding_dedup_blocked(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    # Per-vector norms precomputed; each candidate pair pays only the dot.
    e = t.embeddings.select("vec_id", "embedding", norm(F.col("embedding"), EMBEDDING_DIM).alias("vnorm"))
    # The STREAMED side of the pairwise loop must not inherit the 1-partition
    # single-file scan — fan_out spreads the O(n²) kernel over the cores
    # (r15; no-op when the scan is already wide).
    a, b = fan_out(e).alias("a"), e.alias("b")
    # try_divide: a zero-norm embedding must yield NULL cosine (dropped by
    # the threshold filter, matching the oracle's NaN-drop) — not an ANSI
    # DIVIDE_BY_ZERO abort (the round-9 hardening class; q_dedup_edit
    # already uses it for the analogous case)
    cos = F.round(
        F.try_divide(
            dot(F.col("a.embedding"), F.col("b.embedding"), EMBEDDING_DIM),
            F.col("a.vnorm") * F.col("b.vnorm"),
        ),
        6,
    )
    # Pushdown BARRIER on the threshold filter (r15, guide §4.4 applied to
    # predicate pushdown): left alone, PushDownPredicates folds
    # `cos_sim >= t` INTO the nested-loop join condition — and a join
    # condition cannot be split into codegen sub-methods, so the whole
    # condition (64-term dot first in the AND) dropped the stage out of
    # JIT-able code for all n² ordered pairs (measured 80 s at sf0.1).
    # Wrapping the compared value in an always-true NONDETERMINISTIC
    # `when(spark_partition_id() >= 0, cos_sim)` makes the predicate
    # non-pushable AND non-splittable (a bare AND-ed guard gets conjunct-
    # split and the deterministic half still pushed), so the join keeps
    # only the cheap `vec_id <` condition and the cosine evaluates in the
    # whole-stage-codegen Filter/Project above it. With fan_out this
    # measures 5.3 s — same rows, same hashes (the guard is identically
    # true and NULL-safe: a NULL cosine stays NULL, stays dropped).
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .filter(
            F.when(F.spark_partition_id() >= 0, F.col("cos_sim")).otherwise(F.lit(None))
            >= EMBEDDING_COSINE_THRESHOLD
        )
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve near-dup PAIRS into transitive CLUSTERS (connected
    components by min-label propagation): every doc in a component maps to
    the component's min doc_id — the survivor a dedup pass keeps.

    Spark side: iterate label = min(label, min(neighbor label)) to a
    fixpoint — the standard large-graph CC (each pass is one join + one
    aggregate; diameter-bounded iterations). The 100 TB path with an
    O(log²) round bound SHIPS as operators/graph.py::
    connected_components_star (alternating large-star/small-star),
    pytest-diffed bit-identical to this fixpoint on the same edge set.
    Fixture near-dup chains are short, so this loop converges in a
    handful of passes. The oracle is DuckDB's recursive CTE over the same
    edge set — convergence makes both exact, no iteration-count coupling.
    """
    pairs = q_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    return min_label_clusters(pairs)


def min_label_clusters(pairs: DataFrame) -> DataFrame:
    """Frame-level core of q_dedup_clusters: min-label-propagation CC over
    ANY (doc_a, doc_b) pair frame (pipeline.py runs it on reduced-corpus
    pairs)."""
    # Undirected edge list, both directions. unionByName, NOT positional
    # union: a caller whose pair frame has the columns in (doc_b, doc_a)
    # physical order — e.g. after a string-key join, which moves the join
    # key first — would otherwise get its endpoints silently swapped in
    # one branch and every cluster dissolved into self-rooted singletons
    # (found by the pipeline semantic-dedup differential, r11).
    pairs = pairs.select("doc_a", "doc_b")
    # Materialize the edge list ONCE before iterating (r15, guide §5): the
    # caller's pair frame is typically an expensive candidate pipeline
    # (q_dedup_clusters feeds the whole MinHash-LSH candidate generator in
    # here), and the loop below references `edges` in every round — without
    # the checkpoint each round's actions re-executed that pipeline from
    # the scan (~2 full recomputes per round; measured 42 s → ~6 s for
    # q_dedup_clusters at sf0.1). Same fixpoint, same labels.
    # Symmetrize with ONE generator pass, not a 2-branch union (r16 — the
    # q_edge_support r15 lesson): each union branch re-executed the whole
    # candidate pipeline's joins above its exchanges. Same (doc_a, doc_b)
    # multiset, struct fields keep the endpoint order explicit.
    edges = materialize_once(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a"), F.col("doc_b")),
                    F.struct(
                        F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
                    ),
                )
            ).alias("e")
        )
        .select("e.doc_a", "e.doc_b")
        .distinct()
    )
    labels = edges.select(F.col("doc_a").alias("node")).distinct().select(
        "node", F.col("node").alias("root")
    )
    changed = 0
    for _ in range(20):  # diameter bound; fixture chains converge in ~3
        neigh_min = (
            edges.join(labels, edges.doc_b == labels.node)
            .groupBy(F.col("doc_a").alias("node2"))
            .agg(F.min("root").alias("neigh_root"))
        )
        # Carry the OLD root through the checkpoint (r16): the convergence
        # count is then a filter over the checkpointed blocks — no
        # new-vs-old join, no per-round exchange pair (measured ~0.5 s per
        # q_dedup_clusters invocation at sf0.1; labels verified identical).
        new_labels = (
            labels.join(neigh_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(F.col("root"), F.coalesce(F.col("neigh_root"), F.col("root"))).alias(
                    "root"
                ),
                F.col("root").alias("old_root"),
            )
        )
        # Checkpoint FIRST, then count changes against the checkpointed
        # frame (r15): counting from the pre-checkpoint plan re-executed
        # the whole join subtree a second time per round.
        ck = materialize_once(new_labels)
        changed = ck.filter(F.col("root") != F.col("old_root")).count()
        labels = ck.select("node", "root")
        if changed == 0:
            break
    if changed != 0:
        # Fail loudly rather than hash non-converged labels against the
        # recursive-CTE oracle (which always runs to fixpoint).
        raise RuntimeError(
            "q_dedup_clusters: min-label propagation did not converge within "
            "the iteration bound; component diameter exceeds 20 — raise the "
            "bound or switch to the large-star/small-star variant"
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("root").alias("cluster_root"),
        (F.col("node") == F.col("root")).alias("keep"),
    )


def _multi_probe_cells(
    embeddings: DataFrame, cents: DataFrame, n_probe: int
) -> DataFrame:
    """(vec_id, cell): each vector's ``n_probe`` nearest cells from the
    flat broadcast ``cents`` (cell, centroid) — O(n·k) distance work."""
    w = W.partitionBy("vec_id").orderBy("dist2", "cell")
    return (
        embeddings.crossJoin(F.broadcast(cents))
        .select("vec_id", "cell", F.round(sq_dist(F.col("embedding"), F.col("centroid"), EMBEDDING_DIM), 6).alias("dist2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select("vec_id", "cell")
    )


def _cell_blocked_embedding_pairs(
    embeddings: DataFrame,
    cents: DataFrame,
    n_probe: int,
    verify: bool = True,
    threshold: float | None = None,
) -> DataFrame:
    """Shared candidate-generate + exact-verify core of the cell-blocked
    embedding dedup family: assign every vector of the supplied
    (vec_id, embedding) frame to its ``n_probe`` nearest cells from
    ``cents`` (cell, centroid) — IVF multi-probe — generate pairs only
    WITHIN a cell, then run the SAME rounded-cosine verify as brute
    q_dedup_embedding. O(corpus × n_probe) candidate rows sharded by
    cell, never all-pairs; the centroid frame is O(k·d) and broadcast.
    ``verify=False`` returns the UNFILTERED candidate pairs (cos_sim
    included) — the knob the containment tests use to assert the
    candidate set stays O(Σ cell²), far under all-pairs."""
    return _pairs_within_cells(
        embeddings, _multi_probe_cells(embeddings, cents, n_probe), verify, threshold
    )


def _pairs_within_cells(
    embeddings: DataFrame,
    cells: DataFrame,
    verify: bool = True,
    threshold: float | None = None,
) -> DataFrame:
    """Pair-generate + exact-verify over a precomputed (vec_id, cell)
    assignment — factored out (r12) so the flat and TWO-LEVEL quantizer
    paths share one verify/distinct/threshold implementation."""
    e = embeddings.select("vec_id", "embedding", norm(F.col("embedding"), EMBEDDING_DIM).alias("vnorm"))
    ea = e.join(cells, "vec_id").alias("a")
    eb = e.join(cells, "vec_id").alias("b")
    # try_divide: a zero-norm embedding must yield NULL cosine (dropped by
    # the threshold filter, matching the oracle's NaN-drop) — not an ANSI
    # DIVIDE_BY_ZERO abort (the round-9 hardening class; q_dedup_edit
    # already uses it for the analogous case)
    cos = F.round(
        F.try_divide(
            dot(F.col("a.embedding"), F.col("b.embedding"), EMBEDDING_DIM),
            F.col("a.vnorm") * F.col("b.vnorm"),
        ),
        6,
    )
    pairs = (
        ea.join(
            eb,
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .distinct()  # multi-probe pairs can share >1 cell
    )
    if verify:
        pairs = pairs.filter(
            F.col("cos_sim")
            >= (EMBEDDING_COSINE_THRESHOLD if threshold is None else threshold)
        )
    return pairs


def _keyed_kmeans(
    data: DataFrame, key: str, k: int, n_iter: int = 5
) -> DataFrame:
    """Lloyd's k-means run for EVERY key group simultaneously as one
    keyed job per iteration (the pq_fit per-subspace discipline, applied
    per coarse cell): data is (key, vec_id, embedding); returns
    (key, sub, centroid) with up to ``k`` sub-centroids per key.

    Deterministic end to end: init = each group's k smallest vec_ids'
    vectors; assignment minimizes the (rounded d², sub) struct;
    recomputed coordinates round to 6; empty sub-cells simply drop.
    Scale shape: per iteration ONE join of data against its group's ≤k
    centroids (shuffle on key, k·d values per key) and ONE
    (key, sub, dim) average — both map-side combinable; no driver state
    beyond the loop counter."""
    wi = W.partitionBy(key).orderBy("vec_id")
    cents = materialize_once(
        data.withColumn("rn", F.row_number().over(wi))
        .filter(F.col("rn") <= k)
        .select(key, (F.col("rn") - 1).cast("bigint").alias("sub"),
                F.col("embedding").alias("centroid"))
    )
    for _ in range(n_iter):
        assigned = (
            data.join(cents, key)
            .select(
                key, "vec_id",
                F.struct(
                    F.round(sq_dist(F.col("embedding"), F.col("centroid"), EMBEDDING_DIM), 6).alias("d2"),
                    F.col("sub").alias("sub"),
                ).alias("cand"),
            )
            .groupBy(key, "vec_id")
            .agg(F.min("cand")["sub"].alias("sub"))
        )
        cents = materialize_once(
            assigned.join(data, [key, "vec_id"])
            .select(key, "sub", F.posexplode("embedding").alias("d", "x"))
            .groupBy(key, "sub", "d")
            .agg(F.round(F.avg("x"), 6).alias("c"))
            .groupBy(key, "sub")
            .agg(F.array_sort(F.collect_list(F.struct("d", "c"))).alias("dc"))
            .select(key, "sub", F.transform("dc", lambda s: s["c"]).alias("centroid"))
        )
    return cents


def _two_level_probe_cells(
    spark: SparkSession,
    embeddings: DataFrame,
    train: DataFrame,
    k: int,
    n_probe: int,
    seed: int,
) -> DataFrame:
    """(vec_id, cell) via a TWO-LEVEL (IMI-style, public FAISS/Babenko
    2012 design) quantizer — the route past EMBED_DEDUP_K_MAX where a
    single flat Lloyd's fit with k ≈ n/512 centers stops being practical
    (r12; previously the code clamped k and WARNED that per-cell cost
    regrows).

    Level 1: k1 = ⌈√k⌉ coarse centroids (kmeans_fit_frame on the capped
    training sample). Level 2: every training point keyed by its nearest
    coarse cell, then ONE keyed-kmeans trains k2 = ⌈k/k1⌉ sub-centroids
    per coarse cell simultaneously. Flat cell id = coarse·k2 + sub.

    Assignment is two-stage multi-probe: top-n_probe coarse cells per
    vector (O(n·k1)), then distances only to those cells' sub-centroids
    (O(n·n_probe·k2)) and a global top-n_probe over (d2, cell) — total
    O(n·√k·n_probe) distance work instead of the flat path's O(n·k),
    which is what makes k ≈ n/512 affordable past the clamp."""
    import math

    from machinelearningalgomapreduce_spark.operators.ml import kmeans_fit_frame

    k1 = max(2, math.isqrt(k - 1) + 1)  # ceil(sqrt(k))
    k2 = -(-k // k1)
    model, _cost = kmeans_fit_frame(train.select("vec_id", "embedding"), k=k1, seed=seed)
    coarse = spark.createDataFrame(
        [
            (int(i), [round(float(x), 6) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ],
        "coarse bigint, centroid array<double>",
    )
    keyed = train.select(
        "vec_id", "embedding"
    ).join(
        _multi_probe_cells(
            train.select("vec_id", "embedding"),
            coarse.select(F.col("coarse").alias("cell"), "centroid"),
            n_probe=1,
        ).select("vec_id", F.col("cell").alias("coarse")),
        "vec_id",
    )
    sub = _keyed_kmeans(keyed, "coarse", k2)
    # Every coarse cell must own ≥1 sub-centroid, else a corpus vector
    # whose probed coarse cells are all sub-less would vanish at the
    # keyed join below — silently excluded from blocking entirely (r12
    # review). MLlib can retain empty clusters and _keyed_kmeans only
    # trains cells that won a training point, so backfill each sub-less
    # coarse cell with ITS OWN centroid as sub 0.
    backfill = (
        coarse.join(sub.select("coarse").distinct(), "coarse", "left_anti")
        .select("coarse", F.lit(0).cast("bigint").alias("sub"), "centroid")
    )
    sub = materialize_once(sub.unionByName(backfill))
    # stage 1: top-n_probe coarse cells per corpus vector
    probed = _multi_probe_cells(
        embeddings,
        coarse.select(F.col("coarse").alias("cell"), "centroid"),
        n_probe,
    ).select("vec_id", F.col("cell").alias("coarse"))
    # stage 2: distances only to the probed cells' sub-centroids; global
    # top-n_probe flat cells per vector. The sub frame is O(k·d) rows but
    # the join is keyed on coarse (shuffle), NOT a broadcast crossJoin —
    # at k ≈ n/512 the flat centroid table may exceed broadcast budget.
    wv = W.partitionBy("vec_id").orderBy("dist2", "cell")
    return (
        embeddings.join(probed, "vec_id")
        .join(sub, "coarse")
        .select(
            "vec_id",
            (F.col("coarse") * k2 + F.col("sub")).alias("cell"),
            F.round(sq_dist(F.col("embedding"), F.col("centroid"), EMBEDDING_DIM), 6).alias("dist2"),
        )
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") <= n_probe)
        .select("vec_id", "cell")
    )


def dedup_embedding_cell(
    spark: SparkSession, sf_dir: str, n_probe: int = 2
) -> DataFrame:
    """Cell-bucketed embedding near-dup (library API, pytest-checked):
    candidates blocked by the FIXTURE-LABEL centroids (label_centroids).

    Kept as the labeled-corpus variant; its recall on THIS fixture is
    honestly low (labels barely correlate with geometry — see
    q_dedup_embedding's docstring) and pytest-tracked. The learned-
    quantizer form below (``embedding_dedup_blocked``) is the variant a
    100 TB corpus without labels actually runs — and the variant whose
    CELL COUNT scales: label cells are a FIXED partition, so per-cell
    all-pairs cost here grows n²/|labels| (fine for fine-grained label
    domains, quadratic for coarse ones; the auto-k form holds cell size
    constant instead).
    """
    from machinelearningalgomapreduce_spark.operators.ml import label_centroids

    t = load_tables(spark, sf_dir)
    cents = label_centroids(t.embeddings).select(
        F.col("label").alias("cell"), "centroid"
    )
    return _cell_blocked_embedding_pairs(
        t.embeddings.select("vec_id", "embedding"), cents, n_probe
    )


# Auto-k target cell size for embedding_dedup_blocked: total candidate
# cost is Σ_cells C(cell·n_probe, 2) ≈ n_probe²·n²/(2k), so holding the
# CELL size fixed (k = n / target) keeps the total LINEAR in n — a fixed
# k would re-grow the quadratic the blocking exists to kill (found by the
# r11 10×-tier scale probe: k=10 over 50k vectors ≈ 10⁹ candidates).
EMBED_DEDUP_CELL_TARGET = 512
# Quantizer-training sample floor: k-means assignment is O(train_n · k)
# per iteration and k itself grows with n, so training on the FULL
# corpus would be O(n²/512) — quadratic again, just in the trainer (the
# r11 30×-probe finding). Training on a deterministic hash-sample makes
# it near-linear in n; the full corpus is still ASSIGNED to cells
# exactly (assignment is one linear pass). The sample TARGET is
# max(this floor, EMBED_DEDUP_TRAIN_PER_CELL · k) — a flat 65,536 cap
# alone would starve the trainer once auto-k crosses ~33.5M rows
# (KMeans cannot mint more centers than training points, so k would
# silently saturate and per-cell cost re-grow; the r12 ADVICE finding).
# Scaling the target with k is the public FAISS practice (tens of
# training points per centroid); cells from a representative sample are
# statistically the same partition.
EMBED_DEDUP_TRAIN_CAP = 65_536
EMBED_DEDUP_TRAIN_PER_CELL = 32
# Ceiling on the FLAT quantizer's cell count: a single flat Lloyd's fit
# beyond ~65k centers is impractical (per-iteration cost O(train_n·k) =
# O(32k²) once the per-cell target binds) — and assignment is O(n·k).
# Past it (n > K_MAX·512 ≈ 33.5M reps) the quantizer goes TWO-LEVEL
# (r12, _two_level_probe_cells): √k coarse cells + keyed k-means
# sub-cells, O(n·√k) assignment — the 512-target cell size (and the
# linear candidate budget it guarantees) holds at any n instead of
# silently regrowing per-cell cost at a clamped k.
EMBED_DEDUP_K_MAX = 65_536


def auto_n_probe(k: int) -> int:
    """Recall-targeting probe policy for ``embedding_dedup_blocked``
    (VERDICT r11 item 2): a FIXED n_probe=3 under-recalls as cells
    multiply — measured 1.0 at k=10 (fixture) but 0.778 at k=98 (10×
    tier) and 0.681 at 30×, because a fixed-threshold pair is more
    likely to straddle a boundary as cells get geometrically finer.
    Policy: ceil(0.6·√k), BOUNDED at 6. The √k leg passes through the
    measured calibration points — k=10 → 3 (the fixture's recall-1.0
    config), k=40 → 4 (measured 0.868 on the r12 10×-tier audit),
    k=98 → 6 (measured 0.993) — and the r12 audits show recall tracks
    n_probe almost independently of k on this geometry (0.868 at probe 4
    for BOTH k=40 and k=98).

    Why the cap is NOT optional: candidate volume is
    n_probe²·n²/(2k) = 256·n·n_probe² at the 512 cell target, so an
    UNBOUNDED n_probe = c·√k substitutes to c²·n²/2 — all-pairs with a
    small constant, silently regrowing the exact quadratic the blocking
    exists to kill (the same failure class as r11's fixed-k and
    train-cap findings). Capped at 6 the total stays LINEAR in n
    (≤ 256·36 candidate rows per vector). The residual decay beyond the
    cap on genuinely distinct geometries is the corpus owner's explicit
    n_probe= knob; the EXACT-DUPLICATE mass — what actually drove the
    measured tier decay, each copy splitting across finer cells — is
    eliminated structurally by the rep-collapse in
    ``embedding_dedup_blocked_frame`` (r12), not by probes."""
    import math

    return min(k, max(3, min(6, math.ceil(0.6 * math.sqrt(k)))))


# Measured probe→recall calibration (10×-tier audit geometry, k=98 —
# the WORST measured case: fine cells over self-similar data; fixture
# k=10 measured 1.0 at probe 3). Powers n_probe_for_recall.
PROBE_RECALL_CURVE = ((3, 0.778), (4, 0.868), (5, 0.944), (6, 0.993))


def n_probe_for_recall(target_recall: float) -> int:
    """The explicit target_recall lane of the r12 probe policy: smallest
    probe budget whose MEASURED audit-tier recall meets the target
    (conservative — the curve was measured on the worst geometry probed
    so far, and exact-dup mass is handled structurally by the
    rep-collapse, not by probes). A target above the measured ceiling
    (0.993 at probe 6) raises: no probe budget was MEASURED to deliver
    it — use the brute form or re-measure the curve on the real corpus
    geometry before promising a number."""
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    for n_probe, recall in PROBE_RECALL_CURVE:
        if recall >= target_recall:
            return n_probe
    raise ValueError(
        f"no measured probe budget delivers recall {target_recall} "
        f"(curve ceiling {PROBE_RECALL_CURVE[-1][1]} at n_probe "
        f"{PROBE_RECALL_CURVE[-1][0]}); use the brute q_dedup_embedding "
        "form or re-measure PROBE_RECALL_CURVE on your corpus"
    )


def embedding_dedup_blocked(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = None,
    n_probe: int | None = None,
    seed: int = 42,
    verify: bool = True,
    target_recall: float | None = None,
) -> DataFrame:
    """SemDeDup-style blocked embedding dedup (VERDICT r10 item 3): the
    composed 100 TB scale path for q_dedup_embedding, assembled from the
    pieces that previously only existed separately.

    Plan: (1) train a coarse quantizer on the embeddings themselves with
    kmeans_fit (the learned_ivf_ann discipline — no label column needed,
    centroids rounded to 6 for engine-stable assignment); (2) assign each
    vector to its ``n_probe`` nearest cells (multi-probe catches near-dup
    pairs that straddle a cell boundary — the single-cell SemDeDup form
    is the n_probe=1 special case); (3) candidate pairs only WITHIN a
    cell; (4) the exact rounded-cosine verify of brute q_dedup_embedding
    over the candidates — so every emitted pair is TRUE by construction,
    and the only possible error is a MISSED pair whose members share no
    probed cell.

    Scale shape: quantizer training is the k-means iterate (broadcast
    k×d centroids, one agg per iteration); assignment is one broadcast
    crossJoin + per-vector top-n_probe; the pair join shuffles on cell
    with per-cell work O(cell²) — cells are data-sized/k, so the
    all-pairs O(n²) never materializes. Past EMBED_DEDUP_K_MAX (r12,
    > ~33.5M distinct reps) the quantizer goes TWO-LEVEL
    (_two_level_probe_cells: √k coarse + keyed-kmeans sub-cells, O(n·√k)
    assignment) so the 512-target cell size holds at any n. Recall vs
    the brute baseline and candidate-count containment are
    pytest-asserted (tests/test_dedup_variants.py).

    Defaults measured on the fixtures (2026-08-15, sf0.001 + sf0.01):
    k=10/n_probe=3 recovers ALL brute pairs (recall 1.0, 0 invented) at
    both scales; n_probe=2 measured 0.857 — boundary-straddling pairs
    need the third probe on this geometry. At the 10× tier (50k vectors,
    auto-k=98 cells, brute ground truth on one key-offset copy) the
    measured probe curve is n_probe 3/4/5/6 → recall 0.778/0.868/0.944/
    0.993, ALWAYS 0 invented, runtime ~flat (31→38 s — the verify is
    cheap next to quantizer training): more cells straddle more
    boundaries, and n_probe is the recall lever with near-linear
    candidate growth (n_probe²/k of all-pairs).

    r12 closes the decay two ways. (1) STRUCTURALLY: identical
    embeddings collapse to a representative before blocking (see
    ``embedding_dedup_blocked_frame``) — the measured tier decay was
    exact copies straddling ever-finer cells; with collapse the 10× tier
    re-audit (2026-08-16, 20k vectors → 2000 reps) measures recall
    0.9653 at the auto defaults with 0 invented pairs and the end-to-end
    run 5.8× faster (342 s → 58.5 s — the copies never enter the
    blocked join). (2) POLICY:
    n_probe=None now auto-scales ~√k with the cell count, BOUNDED at 6
    so candidate volume stays linear (``auto_n_probe`` — an unbounded
    √k default would regrow the quadratic; see its docstring for the
    substitution). A fixed probe count is still accepted for corpus
    owners who measured their own geometry; re-measure on the real
    corpus before committing a probe budget."""
    return embedding_dedup_blocked_frame(
        spark,
        load_tables(spark, sf_dir).embeddings.select("vec_id", "embedding"),
        k=k,
        n_probe=n_probe,
        seed=seed,
        verify=verify,
        target_recall=target_recall,
    )


def embedding_dedup_blocked_frame(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int | None = None,
    n_probe: int | None = None,
    seed: int = 42,
    verify: bool = True,
    threshold: float | None = None,
    target_recall: float | None = None,
) -> DataFrame:
    """Frame-parameterized form of ``embedding_dedup_blocked`` (r11
    review): quantizer training AND candidate blocking run over exactly
    the supplied (vec_id, embedding) frame — the pipeline's semantic
    stage passes its curation SURVIVORS, so docs already dropped by the
    quality gate or text dedup never pay the kmeans/blocking/verify cost
    (at 100 TB the blocking pass dominates; filtering result pairs after
    the fact would waste it).

    ``threshold`` (r12, verify=True only): caller-supplied cosine cutoff
    replacing EMBEDDING_COSINE_THRESHOLD — applied at the REP level
    (sound: a member pair's cosine is bit-identical to its rep pair's),
    so only TRUE pairs pay the expansion joins. This replaced the
    streaming sink's old verify=False-then-filter pattern, which after
    the rep-collapse would have missed EXACT-duplicate pairs entirely
    (rep-level candidates carry no within-group pairs — the r12
    regression caught by review, pinned by
    test_blocked_frame_threshold_recovers_exact_dups).

    ``verify=False`` returns the UNFILTERED REP-LEVEL candidate set —
    strictly a budget-audit knob now (the containment tests bound the
    blocked join's volume with it); it deliberately does NOT expand,
    because expanding unverified candidates multiplies by the duplicate
    mass squared. Because this meaning CHANGED in r12 (it used to return
    doc-level candidates, and the old verify=False-then-filter pattern
    now silently loses every exact-duplicate pair), the call emits a
    loud UserWarning naming the break and the threshold= lane — the
    regression mode is silent missed duplicates, so the knob cannot stay
    quiet (r12 ADVICE). The warning fires ONCE PER PROCESS (r13 ADVICE):
    the endorsed budget-audit callers run verify=False in bench loops,
    and per-call repetition of an already-acknowledged semantic note is
    noise, not signal — first use warns, the rest stay quiet. Keyed per
    CALL SITE (caller file:line — r14 ADVICE): one bench loop consuming
    the warning must not hide the semantic break from a second, distinct
    caller elsewhere in a long-lived process."""
    from machinelearningalgomapreduce_spark.operators.ml import kmeans_fit_frame

    if not verify:
        import inspect
        import warnings

        caller = inspect.stack()[1]
        site = (caller.filename, caller.lineno)
        del caller
    if not verify and site not in _VERIFY_FALSE_WARNED_SITES:
        _VERIFY_FALSE_WARNED_SITES.add(site)
        warnings.warn(
            "embedding_dedup_blocked_frame(verify=False) returns "
            "REP-LEVEL candidates (identical embeddings collapse to one "
            "representative since r12): filtering them by cosine does "
            "NOT reproduce verify=True — exact-duplicate pairs are "
            "absent. Pass threshold= for a caller-supplied cutoff with "
            "exact member expansion; verify=False is a blocking-budget "
            "audit knob only.",
            stacklevel=2,
        )

    # Evaluation-count note (r11 review): the frame is read by the count
    # below, the k-means fit (which PERSISTS its input internally for
    # its ~20 iterations — MLlib's handlePersistence), and the blocking
    # pass. A table-backed frame pays two cheap columnar rescans; a
    # JOIN-HEAVY caller lineage should go through materialize_once in the
    # caller first (the pipeline's semantic stage and the streaming sink
    # both do) — checkpointing unconditionally here would materialize a
    # full corpus copy at 100 TB for callers whose input is already a
    # plain scan.
    # r12: EXACT-collapse identical embeddings to a min-id representative
    # BEFORE any quantizer or blocking work — the same hot-bucket guard
    # the minhash path has had since r10 (_exact_collapse). Three wins:
    # (1) the blocked join never sees a hot cell made of one repeated
    # vector (copy-heavy corpora drop from O(copies²) join rows to
    # O(reps), with the inherent O(copies²) OUTPUT pairs reconstructed
    # by expansion, not by the d-dim verify); (2) quantizer training is
    # not skewed toward high-multiplicity points; (3) the measured
    # 10×/30×-tier recall decay at fixed probes (0.778/0.681) disappears
    # STRUCTURALLY — it was exact copies straddling ever-finer cells,
    # and copies now collapse to ONE blocked participant. The expansion
    # is exact, not approximate: identical vectors make a member pair's
    # cosine bit-identical to its rep pair's cosine. groupBy on the raw
    # array<double> column is exact float equality — one linear shuffle.
    reps = embeddings.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
    # One count pays for the empty-corpus guard (MLlib KMeans crashes on
    # zero rows; a fewer-than-k corpus is fine — min(n, k) centers), the
    # auto-k sizing, and the training-stride sizing — all on the
    # COLLAPSED rep count, the frame the quantizer and blocking actually
    # see. An empty corpus has no pairs by definition; return the empty
    # contract frame so the empty-tables sweep and empty curation stages
    # stay green.
    n = reps.count()
    if n == 0:
        return embeddings.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cos_sim double"
        )
    if k is None:
        # fixed TARGET CELL SIZE, so candidate volume stays linear in n
        # (see EMBED_DEDUP_CELL_TARGET); floor of 10 keeps the fixture
        # behavior (and its measured recall-1.0 point) unchanged
        k = max(10, -(-n // EMBED_DEDUP_CELL_TARGET))
    # Deterministic hash-sample for training. The TARGET scales with k
    # (EMBED_DEDUP_TRAIN_PER_CELL · k, floored at EMBED_DEDUP_TRAIN_CAP):
    # a flat cap would starve KMeans of centers once auto-k crosses the
    # cap (r12 ADVICE). Sampling keys on xxhash64(vec_id), NOT vec_id
    # itself — a raw pmod assumes dense sequential ids and silently
    # skews (or empties) the sample on sparse/strided id spaces (r12
    # ADVICE); the hash is partition-layout-independent, so trained
    # cells stay stable run-to-run. Below the target the sample IS the
    # corpus and nothing changes (the fixtures, in particular).
    train_target = max(EMBED_DEDUP_TRAIN_CAP, EMBED_DEDUP_TRAIN_PER_CELL * k)
    stride = max(1, n // train_target)
    if stride == 1:
        train, train_n = reps, n
    else:
        train = reps.filter(F.pmod(F.xxhash64("vec_id"), F.lit(stride)) == 0)
        train_n = train.count()
        if train_n < k:
            # Pathological id space (hash sample came back too thin to
            # mint k centers) — fall back to training on the full frame
            # rather than crashing MLlib or silently degrading cells.
            train, train_n = reps, n
    k = min(k, train_n)  # KMeans cannot produce more centers than points
    if target_recall is not None:
        if n_probe is not None:
            raise ValueError("pass n_probe OR target_recall, not both")
        # explicit lane: the smallest MEASURED probe budget meeting the
        # target on the audit curve (raises above the measured ceiling)
        n_probe = min(k, n_probe_for_recall(target_recall))
    elif n_probe is None:
        # recall-targeting default: probes scale ~√k with the cell count,
        # bounded so candidate volume stays linear (see auto_n_probe)
        n_probe = auto_n_probe(k)
    rep_frame = reps.select("vec_id", "embedding")
    if k > EMBED_DEDUP_K_MAX:
        # Past the flat-Lloyd's practicality ceiling (> ~33.5M reps at
        # the 512 target) the quantizer goes TWO-LEVEL (r12): √k coarse
        # cells, then keyed k-means for √k sub-cells per coarse cell,
        # two-stage multi-probe assignment — O(n·√k) distance work keeps
        # k ≈ n/512 (and with it the linear candidate budget) affordable
        # where the old code clamped k and let per-cell cost regrow.
        cells = _two_level_probe_cells(spark, rep_frame, train, k, n_probe, seed)
        rep_pairs = _pairs_within_cells(rep_frame, cells, verify, threshold)
    else:
        model, _cost = kmeans_fit_frame(
            train.select("vec_id", "embedding"), k=k, seed=seed
        )
        rows = [
            (int(i), [round(float(x), 6) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ]
        cents = spark.createDataFrame(rows, "cell bigint, centroid array<double>")
        rep_pairs = _cell_blocked_embedding_pairs(
            rep_frame, cents, n_probe, verify, threshold
        )
    if not verify:
        # budget-audit knob: the UNFILTERED rep-level candidate set — the
        # join volume the containment assertions bound. No expansion:
        # unverified candidates × duplicate-mass² would be quadratic in
        # the copy count, and the budget being audited is the join's.
        return rep_pairs
    thr = EMBEDDING_COSINE_THRESHOLD if threshold is None else threshold
    # Expand rep-level verified pairs back to member pairs. Identical
    # vectors ⇒ identical arithmetic ⇒ the expanded cosine IS the rep
    # cosine (and a within-group pair's cosine is the rep's
    # self-cosine: 1.0 after rounding, or NULL for a zero-norm vector —
    # dropped by the threshold, exactly matching the brute form).
    members = embeddings.join(
        reps.select("embedding", F.col("vec_id").alias("rep_id")), "embedding"
    ).select("rep_id", "vec_id")
    rep_self = reps.select(
        F.col("vec_id").alias("rep_id"),
        F.round(
            F.try_divide(
                dot(F.col("embedding"), F.col("embedding"), EMBEDDING_DIM),
                norm(F.col("embedding"), EMBEDDING_DIM)
                * norm(F.col("embedding"), EMBEDDING_DIM),
            ),
            6,
        ).alias("cos_sim"),
    )
    within = (
        members.select("rep_id", F.col("vec_id").alias("id_a"))
        .join(
            members.select(F.col("rep_id").alias("r2"), F.col("vec_id").alias("id_b")),
            (F.col("rep_id") == F.col("r2")) & (F.col("id_a") < F.col("id_b")),
        )
        .join(rep_self, "rep_id")
        .filter(F.col("cos_sim") >= thr)
        .select("id_a", "id_b", "cos_sim")
    )
    cross = (
        rep_pairs.join(
            members.select(F.col("rep_id").alias("id_a"), F.col("vec_id").alias("ma")),
            "id_a",
        )
        .join(
            members.select(F.col("rep_id").alias("id_b"), F.col("vec_id").alias("mb")),
            "id_b",
        )
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "cos_sim",
        )
    )
    return within.unionByName(cross)


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str, threshold: float = 0.35):
    """MLlib MinHashLSH variant of q_dedup_minhash (library API,
    pytest-checked for recall against the deterministic pipeline).

    CountVectorizer(binary) turns shingle sets into sparse vectors;
    approxSimilarityJoin returns candidate pairs with Jaccard DISTANCE
    below `threshold` (distance = 1 − similarity, so 0.35 covers the
    fixture's ≥ 0.7-similarity near-dup clusters)."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    t = load_tables(spark, sf_dir)
    # Same hot-bucket guard as the deterministic paths (r10): identical
    # texts collide in every hash table, so the approx join over an
    # uncollapsed corpus is quadratic in the copy count. LSH runs on the
    # distinct-content representatives; pairs expand back by id joins
    # (within-group pairs have Jaccard distance exactly 0).
    reps, members = _exact_collapse(t.documents)
    base = _shingle_sets(reps)
    cv = CountVectorizer(inputCol="sh", outputCol="features", binary=True).fit(base)
    feats = cv.transform(base)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42).fit(
        feats
    )
    pairs = lsh.approxSimilarityJoin(feats, feats, threshold, distCol="jaccard_dist")
    rep_pairs = pairs.filter(
        F.col("datasetA.doc_id") < F.col("datasetB.doc_id")
    ).select(
        F.col("datasetA.doc_id").alias("rep_a"),
        F.col("datasetB.doc_id").alias("rep_b"),
        "jaccard_dist",
    )
    m1 = members.select("rep_id", F.col("doc_id").alias("doc_a"))
    m2 = members.select(F.col("rep_id").alias("rep_b_"), F.col("doc_id").alias("doc_b"))
    within = (
        m1.join(m2, (F.col("rep_id") == F.col("rep_b_")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", F.lit(0.0).alias("jaccard_dist"))
    )
    cross = (
        rep_pairs
        .join(members.select(F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("da")), "rep_a")
        .join(members.select(F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("db")), "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard_dist",
        )
    )
    return within.unionByName(cross)


QUERIES = {
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_minhash": q_dedup_minhash,
    "q_dedup_minhash_est": q_dedup_minhash_est,
    "q_dedup_clusters": q_dedup_clusters,
    "q_dedup_keep_best": q_dedup_keep_best,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "q_dedup_containment": q_dedup_containment,
    "q_dedup_embedding": q_dedup_embedding,
}

# --- Oracle SQL. Shingle/hash expressions mirror functions/hashing.py
# byte-for-byte (md5 hex is identical across engines).

_SHINGLE3 = """list_distinct(list_transform(
    range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
    i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))"""

_SHINGLE2 = """list_distinct(list_transform(
    range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
    i -> array_to_string((string_split(text, ' '))[i:i+1], ' ')))"""

_SIGS = ",\n               ".join(
    f"list_min(list_transform(sh, x -> md5('{seed}:' || x))) AS sig{seed}"
    for seed in range(N_MINHASH)
)
_BAND_CASE = " ".join(
    f"WHEN {b} THEN md5(concat_ws('|', "
    + ", ".join(f"sig{b * BAND_ROWS + r}" for r in range(BAND_ROWS))
    + "))"
    for b in range(LSH_BANDS)
)

_MINHASH_CTES = f"""base AS (
            SELECT doc_id, {_SHINGLE3} AS sh FROM documents
        ), sig AS (
            SELECT doc_id,
               {_SIGS}
            FROM base
        ), bands AS (
            SELECT doc_id, band_id,
                   CASE band_id {_BAND_CASE} END AS bkey
            FROM sig, (SELECT unnest(range({LSH_BANDS})) AS band_id)
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        ), verified AS (
            SELECT c.doc_a, c.doc_b,
                   round(CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
                         / (len(sa.sh) + len(sb.sh)
                            - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))), 6)
                       AS jaccard
            FROM cand c
            JOIN base sa ON sa.doc_id = c.doc_a
            JOIN base sb ON sb.doc_id = c.doc_b
        )"""

_VOTES = ",\n               ".join(
    f"sum((((instr('0123456789abcdef', substr(th, {bit // 4 + 1}, 1)) - 1)"
    f" >> {bit % 4}) & 1) * 2 - 1) AS v{bit}"
    for bit in range(SIMHASH_BITS)
)
_FP = " || ".join(f"CASE WHEN v{bit} >= 0 THEN '1' ELSE '0' END" for bit in range(SIMHASH_BITS))

ORACLES = {
    "q_dedup_exact": """
        SELECT md5(text) AS content_hash,
               min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY 1
    """,
    "q_dedup_minhash": f"""
        WITH {{MINHASH_CTES}}
        SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    "q_dedup_minhash_est": f"""
        WITH {{MINHASH_CTES}}, est AS (
            SELECT c.doc_a, c.doc_b,
                   CAST({" + ".join(f"(CASE WHEN sa.sig{i} = sb.sig{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH))}
                        AS BIGINT) AS n_match
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.doc_a
            JOIN sig sb ON sb.doc_id = c.doc_b
        )
        SELECT e.doc_a, e.doc_b, e.n_match,
               round(e.n_match / {float(N_MINHASH)}, 6) AS est_jaccard,
               v.jaccard,
               round(abs(round(e.n_match / {float(N_MINHASH)}, 6) - v.jaccard), 6)
                   AS abs_err
        FROM est e
        JOIN verified v ON v.doc_a = e.doc_a AND v.doc_b = e.doc_b
    """,
    "q_dedup_clusters": f"""
        WITH RECURSIVE {{MINHASH_CTES}}, pairs AS (
            SELECT doc_a, doc_b FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
        ), edges AS (
            SELECT doc_a, doc_b FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ), reach(node, r) AS (
            SELECT doc_a, doc_a FROM edges
            UNION
            SELECT e.doc_a, reach.r FROM edges e JOIN reach ON reach.node = e.doc_b
        )
        SELECT node AS doc_id,
               min(r) AS cluster_root,
               node = min(r) AS keep
        FROM reach GROUP BY node
    """,
    "q_dedup_keep_best": f"""
        WITH RECURSIVE {{MINHASH_CTES}}, pairs AS (
            SELECT doc_a, doc_b FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
        ), edges AS (
            SELECT doc_a, doc_b FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ), reach(node, r) AS (
            SELECT doc_a, doc_a FROM edges
            UNION
            SELECT e.doc_a, reach.r FROM edges e JOIN reach ON reach.node = e.doc_b
        ), clusters AS (
            SELECT node AS doc_id, min(r) AS cluster_root FROM reach GROUP BY node
        ), quality AS (
            SELECT doc_id, {QUALITY_SCORE_SQL} AS quality_score FROM documents
        ), ranked AS (
            SELECT c.cluster_root, c.doc_id, q.quality_score,
                   row_number() OVER (PARTITION BY c.cluster_root
                                      ORDER BY q.quality_score DESC, c.doc_id) AS rk,
                   count(*) OVER (PARTITION BY c.cluster_root) AS n_docs
            FROM clusters c JOIN quality q ON c.doc_id = q.doc_id
        )
        SELECT cluster_root,
               CAST(n_docs AS BIGINT) AS n_docs,
               doc_id AS best_doc,
               quality_score AS best_quality,
               doc_id <> cluster_root AS quality_overrode_min_id
        FROM ranked WHERE rk = 1
    """,
    "q_dedup_simhash": f"""
        WITH tok AS (
            SELECT doc_id, md5(token) AS th
            FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
                  FROM documents)
        ), votes AS (
            SELECT doc_id,
               {_VOTES}
            FROM tok GROUP BY doc_id
        ), fp AS (
            SELECT doc_id, {_FP} AS simhash FROM votes
        )
        SELECT doc_id, simhash,
               count(*) OVER (PARTITION BY simhash) AS cluster_size,
               doc_id = min(doc_id) OVER (PARTITION BY simhash) AS keep
        FROM fp
    """,
    "q_dedup_containment": f"""
        WITH base AS (
            SELECT doc_id,
                   list_min(list_transform({_SHINGLE3.replace('list_distinct(', '(', 1)}, x -> md5(x))) AS block,
                   {_SHINGLE2} AS ng
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   len(list_filter(a.ng, x -> list_contains(b.ng, x))) AS inter,
                   len(a.ng) AS na, len(b.ng) AS nb
            FROM base a JOIN base b ON a.block = b.block AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               round(inter / CAST(na AS DOUBLE), 6) AS contain_a_in_b,
               round(inter / CAST(nb AS DOUBLE), 6) AS contain_b_in_a,
               round(inter / CAST(na + nb - inter AS DOUBLE), 6) AS bigram_jaccard
        FROM pairs
        WHERE greatest(round(inter / CAST(na AS DOUBLE), 6),
                       round(inter / CAST(nb AS DOUBLE), 6)) >= {CONTAINMENT_THRESHOLD}
    """,
    "q_dedup_ngram_jaccard": f"""
        WITH base AS (
            SELECT doc_id,
                   list_min(list_transform({_SHINGLE3.replace('list_distinct(', '(', 1)}, x -> md5(x))) AS block,
                   {_SHINGLE2} AS ng
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_filter(a.ng, x -> list_contains(b.ng, x))) AS DOUBLE)
                     / (len(a.ng) + len(b.ng)
                        - len(list_filter(a.ng, x -> list_contains(b.ng, x)))), 6)
                   AS bigram_jaccard
        FROM base a JOIN base b ON a.block = b.block AND a.doc_id < b.doc_id
        WHERE round(CAST(len(list_filter(a.ng, x -> list_contains(b.ng, x))) AS DOUBLE)
                    / (len(a.ng) + len(b.ng)
                       - len(list_filter(a.ng, x -> list_contains(b.ng, x)))), 6)
              >= {NGRAM_JACCARD_THRESHOLD}
    """,
    "q_dedup_embedding": f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(
                 list_sum(list_transform(range(1, 65),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(1, 65),
                        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, 65),
                        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
                 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round(
                 list_sum(list_transform(range(1, 65),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(1, 65),
                        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, 65),
                        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
                 6) >= {EMBEDDING_COSINE_THRESHOLD}
    """,
}

# The minhash CTE chain is shared by the pair and cluster oracles.
ORACLES = {k: v.replace("{MINHASH_CTES}", _MINHASH_CTES) for k, v in ORACLES.items()}


# ---------------------------------------------------------------------------
# Sorted-neighborhood dedup (round-6 addition, deferred driver window).

SNM_WINDOW = 2  # compare each doc against its next-2 sort neighbors
SNM_KEY_CHARS = 40  # sort key = lowercased text prefix
SNM_BLOCK_CHARS = 4  # sort blocks — windows never cross blocks
SNM_THRESHOLD = 0.5


def _snm_pairs(base: DataFrame, payload: str) -> DataFrame:
    """Shared sorted-neighborhood candidate generator: `base` must carry
    (doc_id, skey, block, <payload>); returns each doc paired with its
    next SNM_WINDOW neighbors in (skey, doc_id) order within its block,
    as (doc_a, doc_b, <payload>_a, <payload>_b). One definition serves
    both verifiers (shingle Jaccard and Levenshtein) so the blocking can
    never silently diverge between them."""
    w = W.partitionBy("block").orderBy("skey", "doc_id")
    led = base.select(
        "doc_id",
        payload,
        *[F.lead("doc_id", i).over(w).alias(f"nid{i}") for i in range(1, SNM_WINDOW + 1)],
        *[F.lead(payload, i).over(w).alias(f"np{i}") for i in range(1, SNM_WINDOW + 1)],
    )
    # (r16 negative result: replacing this union with one explode-of-
    # structs generator pass — the q_edge_support trick — measured WORSE
    # (1.6/1.7 → 2.2/3.4 s on snm/edit at sf0.1): unlike edge_support,
    # the branches here share the block exchange, so only the cheap
    # window re-sort repeats per branch, while the explode materializes
    # SNM_WINDOW copies of the payload ARRAY per row before the null
    # filter. The union stays.)
    pairs = None
    for i in range(1, SNM_WINDOW + 1):
        p = led.filter(F.col(f"nid{i}").isNotNull()).select(
            F.col("doc_id").alias("doc_a"),
            F.col(f"nid{i}").alias("doc_b"),
            F.col(payload).alias(f"{payload}_a"),
            F.col(f"np{i}").alias(f"{payload}_b"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs


def q_dedup_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood (SNM) near-dedup — the third blocking
    strategy next to LSH banding (q_dedup_minhash) and min-shingle
    blocks (q_dedup_ngram_jaccard): sort by a normalized key (lowercased
    text prefix), compare each doc only to its next SNM_WINDOW sort
    neighbors, verify candidates with exact word-bigram Jaccard ≥ 0.5.
    Misses dups whose edits fall inside the sort key (the classic SNM
    trade-off — multi-pass with rotated keys is the standard fix);
    catches suffix edits in O(n·w) comparisons.

    Scale shape: the sort happens WITHIN hash-prefix blocks (the window
    runs per block, never a global single-partition sort), so partitions
    scale with the block domain; candidates are O(n·w)."""
    t = load_tables(spark, sf_dir)
    base = t.documents.select(
        "doc_id",
        F.lower(F.substring("text", 1, SNM_KEY_CHARS)).alias("skey"),
        F.array_distinct(shingles(F.col("text"), k=2)).alias("ng"),
    ).withColumn("block", F.substring("skey", 1, SNM_BLOCK_CHARS))
    pairs = _snm_pairs(base, "ng")
    inter = F.size(F.array_intersect("ng_a", "ng_b"))
    union = F.size("ng_a") + F.size("ng_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        pairs.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= SNM_THRESHOLD)
    )


QUERIES["q_dedup_snm"] = q_dedup_snm

ORACLES["q_dedup_snm"] = f"""
    WITH base AS (
        SELECT doc_id,
               lower(substr(text, 1, {SNM_KEY_CHARS})) AS skey,
               substr(lower(substr(text, 1, {SNM_KEY_CHARS})), 1, {SNM_BLOCK_CHARS})
                   AS block,
               {_SHINGLE2} AS ng
        FROM documents
    ),
    led AS (
        SELECT doc_id, ng,
               {", ".join(f"lead(doc_id, {i}) OVER w AS nid{i}, lead(ng, {i}) OVER w AS nng{i}" for i in range(1, SNM_WINDOW + 1))}
        FROM base
        WINDOW w AS (PARTITION BY block ORDER BY skey, doc_id)
    ),
    pairs AS (
        {" UNION ALL ".join(f"SELECT doc_id AS doc_a, nid{i} AS doc_b, ng AS ng_a, nng{i} AS ng_b FROM led WHERE nid{i} IS NOT NULL" for i in range(1, SNM_WINDOW + 1))}
    ),
    scored AS (
        SELECT doc_a, doc_b,
               round(CAST(len(list_intersect(ng_a, ng_b)) AS DOUBLE)
                     / CAST(len(ng_a) + len(ng_b)
                            - len(list_intersect(ng_a, ng_b)) AS DOUBLE), 6)
                   AS jaccard
        FROM pairs
    )
    SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {SNM_THRESHOLD}
"""


EDIT_PREFIX_CHARS = 200  # Levenshtein runs on bounded prefixes (O(k²)/pair)
EDIT_MAX_DIST = 40


def q_dedup_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dedup over the sorted-neighborhood candidates:
    the q_dedup_snm blocking (per-block sort, next-w neighbors) verified
    with exact Levenshtein distance on bounded 200-char prefixes instead
    of shingle Jaccard — the character-level verifier that catches
    small in-word edits bigram shingles miss entirely. Keeps pairs with
    distance ≤ 40; similarity = 1 − d/max(len) rounded to 6. Levenshtein
    is the standard DP metric in both engines → identical integers.

    Scale shape: identical to q_dedup_snm (per-block windows, O(n·w)
    candidates); the per-pair DP is O(prefix²) — bounded constant."""
    t = load_tables(spark, sf_dir)
    base = t.documents.select(
        "doc_id",
        F.lower(F.substring("text", 1, SNM_KEY_CHARS)).alias("skey"),
        F.substring("text", 1, EDIT_PREFIX_CHARS).alias("prefix"),
    ).withColumn("block", F.substring("skey", 1, SNM_BLOCK_CHARS))
    pairs = _snm_pairs(base, "prefix")
    dist = F.levenshtein("prefix_a", "prefix_b")
    maxlen = F.greatest(F.length("prefix_a"), F.length("prefix_b"))
    # try_divide: two EMPTY texts pair with maxlen 0 — similarity is
    # undefined (NULL), not an ANSI error (oracle nullif matches).
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            dist.alias("edit_dist"),
            F.round(
                1.0 - F.try_divide(dist.cast("double"), maxlen.cast("double")), 6
            ).alias("edit_sim"),
        )
        .filter(F.col("edit_dist") <= EDIT_MAX_DIST)
    )


QUERIES["q_dedup_edit"] = q_dedup_edit

ORACLES["q_dedup_edit"] = f"""
    WITH base AS (
        SELECT doc_id,
               lower(substr(text, 1, {SNM_KEY_CHARS})) AS skey,
               substr(lower(substr(text, 1, {SNM_KEY_CHARS})), 1, {SNM_BLOCK_CHARS})
                   AS block,
               substr(text, 1, {EDIT_PREFIX_CHARS}) AS prefix
        FROM documents
    ),
    led AS (
        SELECT doc_id, prefix,
               {", ".join(f"lead(doc_id, {i}) OVER w AS nid{i}, lead(prefix, {i}) OVER w AS npfx{i}" for i in range(1, SNM_WINDOW + 1))}
        FROM base
        WINDOW w AS (PARTITION BY block ORDER BY skey, doc_id)
    ),
    pairs AS (
        {" UNION ALL ".join(f"SELECT doc_id AS doc_a, nid{i} AS doc_b, prefix AS pa, npfx{i} AS pb FROM led WHERE nid{i} IS NOT NULL" for i in range(1, SNM_WINDOW + 1))}
    ),
    scored AS (
        SELECT doc_a, doc_b,
               CAST(levenshtein(pa, pb) AS INTEGER) AS edit_dist,
               round(1.0 - CAST(levenshtein(pa, pb) AS DOUBLE)
                     / nullif(CAST(greatest(len(pa), len(pb)) AS DOUBLE), 0.0), 6)
                   AS edit_sim
        FROM pairs
    )
    SELECT doc_a, doc_b, edit_dist, edit_sim
    FROM scored WHERE edit_dist <= {EDIT_MAX_DIST}
"""
