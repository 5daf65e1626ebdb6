"""Similarity search over the embeddings table (SURVEY.md §2D q_sim_topk;
north-star ANN surface).

Two paths, same semantics:
- q_sim_topk — brute-force global top-k cosine pairs. Exact, quadratic:
  this is the oracle-checkable baseline and the verify stage of every
  approximate pipeline. Ranking uses the ROUNDED cosine with a total id
  tie-break, so the top-k set is engine-independent.
- q_sim_ann — IVF-style cell-pruned search: vectors are bucketed to their
  nearest seeded centroid (the coarse quantizer; reuses the k-means
  assignment), queries probe their ANN_NPROBE nearest cells (default 2).
  At 100 TB the centroid set is broadcast, the corpus is hash-partitioned
  by cell, and each probe touches n_probe/k of the data — candidate
  generation is linear, never all-pairs. (The same shape backs
  q_dedup_embedding at scale.)

Both are exact sql-oracle checks — the IVF pruning is deterministic
because the quantizer (rounded centroids, rounded distances, id
tie-breaks) is bit-identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from machinelearningalgomapreduce_spark.functions.joins import fan_out
from machinelearningalgomapreduce_spark.functions.storage import materialize_once
from machinelearningalgomapreduce_spark.functions.vectors import dot, norm, sq_dist, sq_norm
from machinelearningalgomapreduce_spark.operators.ml import (
    _ASSIGN_CTES,
    assign_nearest,
    label_centroids,
)
from machinelearningalgomapreduce_spark.sources.catalog import load_tables, table_stats
from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM

TOPK_PAIRS = 20
ANN_QUERY_STRIDE = 100
ANN_K = 3
ANN_NPROBE = 2
# Perfect-order DCG denominator, derived from ANN_K so the oracle tracks a
# k change instead of silently diverging (r10 review).
_IDCG_SQL = " + ".join(
    f"{ANN_K - p + 1}.0 / log2({p + 1}.0)" for p in range(1, ANN_K + 1)
)
# Above this many embeddings (sf0.5's; ≤ 5·10⁷ pairs) the O(n²) brute pair
# scans of q_sim_topk and q_dedup_embedding REFUSE to run and route to the
# cell-pruned plan (VERDICT r4 item 5: the scale path must be enforced by
# code, not prose). Fixture tiers (≤ 2k) stay brute — the oracle baseline.
BRUTE_MAX_ROWS = 10_000


def _pair_cos() -> "F.Column":
    return F.round(
        dot(F.col("a.embedding"), F.col("b.embedding"), EMBEDDING_DIM)
        / (F.col("a.vnorm") * F.col("b.vnorm")),
        6,
    )


def sim_topk_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-pruned global top-k pairs — the 100 TB form of q_sim_topk.

    Candidate pairs must share an IVF cell (coarse quantizer = the seeded
    k-means assignment), so candidate generation is per-cell, never
    all-pairs; the shuffle key is the cell id. Same output contract as the
    brute query; recall vs brute is the q_sim_recall trade-off, measured
    on a sample."""
    t = load_tables(spark, sf_dir)
    cells = assign_nearest(t.embeddings, label_centroids(t.embeddings), EMBEDDING_DIM).select(
        "vec_id", "cluster"
    )
    e = t.embeddings.join(cells, "vec_id").select(
        "vec_id", "embedding", "cluster", norm(F.col("embedding"), EMBEDDING_DIM).alias("vnorm")
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            _pair_cos().alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "id_a", "id_b")
        .limit(TOPK_PAIRS)
    )


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 most-similar embedding pairs by cosine.

    Brute force at fixture tiers (exact — the oracle baseline); above
    BRUTE_MAX_ROWS embeddings the O(n²) self-join is refused and the query
    routes to the cell-pruned plan (sim_topk_cell), pytest-asserted via
    the plan."""
    if table_stats(spark, sf_dir)["embeddings"].rows > BRUTE_MAX_ROWS:
        return sim_topk_cell(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    # Norms precomputed per vector; the pairwise loop pays only the dot.
    e = t.embeddings.select("vec_id", "embedding", norm(F.col("embedding"), EMBEDDING_DIM).alias("vnorm"))
    # fan_out: the streamed side of the O(n^2) loop must not inherit the
    # 1-partition single-file scan (r15, functions/joins.py::fan_out).
    a, b = fan_out(e).alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            _pair_cos().alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "id_a", "id_b")
        .limit(TOPK_PAIRS)
    )


def q_sim_ann(spark: SparkSession, sf_dir: str, n_probe: int = ANN_NPROBE) -> DataFrame:
    """IVF-pruned ANN: top-3 neighbors per query (every 100th id), searching
    the query's `n_probe` nearest coarse cells instead of the full corpus.

    Multi-probe (default 2, VERDICT r4 item 6): corpus vectors live in
    their top-1 cell (assign_nearest — a min_by hash aggregate); only the
    QUERY side ranks its centroid distances to take the top-n_probe cells
    (a window over queries × k centroid rows — sample-sized). Each
    candidate (query, neighbor) pair appears once because a neighbor has
    exactly one home cell; `cell` reports the probed cell the neighbor was
    found in. q_sim_recall quantifies what each probe buys.

    The oracle-checked query keeps label-derived coarse cells (exact in
    both engines); ivf_ann below is the same plan over ANY centroid
    frame, and learned_ivf_ann feeds it kmeans_fit centroids — the
    LEARNED coarse quantizer an IVF index actually trains at 100 TB."""
    t = load_tables(spark, sf_dir)
    return ivf_ann(spark, sf_dir, label_centroids(t.embeddings), n_probe)


def ivf_ann(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame,
    n_probe: int = ANN_NPROBE,
    *,
    stride: int = ANN_QUERY_STRIDE,
    topk: int = ANN_K,
) -> DataFrame:
    """q_sim_ann's plan over an arbitrary (label, centroid) coarse-cell
    frame: corpus vectors in their top-1 cell, queries probing their
    n_probe nearest cells. ``stride``/``topk`` re-aim the same plan at a
    different query sample and neighbor budget (keyword-only; q_knn's
    ANN twin uses stride=KNN_QUERY_STRIDE, topk=KNN_K) — the defaults
    keep the oracle-checked q_sim_ann shape bit-identical."""
    t = load_tables(spark, sf_dir)
    cells = assign_nearest(t.embeddings, centroids, EMBEDDING_DIM).select(
        "vec_id", "cluster"
    )
    # The O(n·k) assign_nearest join feeds ONLY the corpus side (r16): the
    # query side never reads `cluster`, so deriving it from the bare
    # embeddings scan instead of `e` halves the assignment work the old
    # double-reference paid. Row-identical: every vector has exactly one
    # home cell when centroids exist, and with an empty centroid frame
    # both forms end empty through the qprobe/cells inner joins.
    base = t.embeddings.select(
        "vec_id", "embedding", norm(F.col("embedding"), EMBEDDING_DIM).alias("vnorm")
    )
    e = base.join(cells, "vec_id").select("vec_id", "embedding", "cluster", "vnorm")
    cents = centroids.select(F.col("label").alias("pcell"), "centroid")
    wq = W.partitionBy("query_id").orderBy("dist2", "pcell")
    qprobe = (
        t.embeddings.filter(F.col("vec_id") % stride == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "pcell",
            F.round(sq_dist(F.col("embedding"), F.col("centroid"), EMBEDDING_DIM), 6).alias("dist2"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "pcell")
    )
    q = (
        base.filter(F.col("vec_id") % stride == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("vnorm").alias("qnorm"),
        )
        .join(qprobe, "query_id")
    )
    cos = F.round(
        dot(F.col("qv"), F.col("embedding"), EMBEDDING_DIM)
        / (F.col("qnorm") * F.col("vnorm")),
        6,
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        q.join(e, (F.col("pcell") == F.col("cluster")) & (F.col("query_id") != F.col("vec_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("cluster").alias("cell"),
            cos.alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )


def learned_ivf_ann(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_probe: int = ANN_NPROBE,
    seed: int = 42,
    *,
    stride: int = ANN_QUERY_STRIDE,
    topk: int = ANN_K,
) -> DataFrame:
    """IVF ANN with a LEARNED coarse quantizer (VERDICT r9 item 6a): the
    cells come from a kmeans_fit model instead of the fixture labels —
    what an IVF index trains at scale, where no label column exists.
    Centroids are rounded to 6 (the label_centroids determinism
    discipline) and shipped as a k-row broadcast frame; everything
    downstream is the identical ivf_ann plan, so the 100 TB shape is
    unchanged. ann_recall_frame quantifies the swap: the pytest tier
    asserts learned cells recall at least as well as label cells."""
    from machinelearningalgomapreduce_spark.operators.ml import centroid_frame, kmeans_fit

    model, _cost = kmeans_fit(spark, sf_dir, k=k, seed=seed)
    cents = centroid_frame(spark, model, "label")
    return ivf_ann(spark, sf_dir, cents, n_probe, stride=stride, topk=topk)


def ann_recall_frame(
    spark: SparkSession,
    sf_dir: str,
    ann: DataFrame,
    *,
    stride: int = ANN_QUERY_STRIDE,
    k: int = ANN_K,
) -> DataFrame:
    """Recall@k of ANY ANN result frame (query_id, neighbor_id) against the
    exact brute-force top-k (_brute_topk — the shared ground-truth set of
    the whole ranking-eval family) — q_sim_recall's harness, reusable for
    the learned-quantizer variant. Duplicate (query_id, neighbor_id) rows
    in the supplied frame (e.g. a multi-probe variant that keeps per-cell
    rows) are deduplicated, never double-counted. ``stride``/``k``
    follow _brute_topk's knobs — pass the SAME values the audited ANN
    frame was built with, or recall is against the wrong truth set."""
    brute = _brute_topk(spark, sf_dir, stride=stride, k=k).select(
        "query_id", "neighbor_id"
    )
    hits = (
        ann.select("query_id", "neighbor_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        brute.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"))
        .select(
            "query_id",
            F.lit(k).alias("k"),
            "n_hits",
            F.round(F.col("n_hits") / float(k), 6).alias("recall"),
        )
    )


def q_sim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the IVF path: per query point, how many of the
    EXACT brute-force top-k neighbors the cell-pruned q_sim_ann search
    recovered — the number that decides whether single-cell probing is
    good enough or nprobe must rise, measured continuously at scale on a
    query sample (the q_dedup_minhash_est discipline applied to ANN).

    Scale shape: brute ground truth is queries × corpus (broadcastable
    query side — linear in corpus, affordable for a sample); the IVF side
    and the hit-join are model-sized. Ranking uses rounded cosine with id
    tie-breaks in both engines, so top-k sets are engine-identical."""
    return ann_recall_frame(spark, sf_dir, q_sim_ann(spark, sf_dir))


def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k ranking-quality audit of the IVF path — recall@k
    (q_sim_recall) says WHETHER the true neighbors were found; NDCG says
    whether they were found IN THE RIGHT ORDER, the number that matters
    when downstream consumers only look at the first result.

    Relevance of an ANN result = (k − brute_rank + 1) if it is in the
    exact brute top-k, else 0; DCG discounts by log2(position+1); IDCG is
    the perfect-order constant. Both rankings use rounded cosine with id
    tie-breaks, so they are engine-identical; the ≤k-term float sums sit
    ~1e-16 relative, far inside the round-6 window.

    Scale shape: identical to q_sim_recall — brute truth on the query
    sample only, model-sized joins after."""
    # (r16 negative result: materializing brute — referenced twice,
    # here and as the query universe — measured NEUTRAL-to-worse across
    # q_ndcg/q_mrr/q_map: both references share the window's query_id
    # exchange, so ReusedExchange already dedupes the O(n·q) scoring pass,
    # and the eager checkpoint only added stage latency. Left as the lazy
    # shared frame.)
    brute = _brute_topk(spark, sf_dir).select(
        "query_id",
        "neighbor_id",
        (ANN_K - F.col("brute_rank") + 1).alias("rel"),
    )
    ann = q_sim_ann(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    gain = F.coalesce(F.col("rel"), F.lit(0)).cast("double") / F.log2(
        F.col("rank").cast("double") + 1.0
    )
    dcg = (
        ann.join(brute, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(gain).alias("dcg"))
    )
    idcg = sum(
        (F.lit(float(ANN_K - p + 1)) / F.log2(F.lit(float(p + 1))) for p in range(1, ANN_K + 1)),
        F.lit(0.0),
    )
    queries_frame = brute.select("query_id").distinct()
    return (
        queries_frame.join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce(F.col("dcg"), F.lit(0.0)) / idcg, 6).alias("ndcg"),
        )
    )


def brp_lsh_neighbors(
    spark: SparkSession, sf_dir: str, key_id: int = 0, k: int = 10
):
    """MLlib BucketedRandomProjectionLSH variant (library API): approximate
    nearest neighbors for one query vector via random-hyperplane bucketing.
    The deterministic IVF path (q_sim_ann) is the oracle-checked twin;
    pytest checks this one's recall against brute force."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from machinelearningalgomapreduce_spark.functions.vectors import as_double

    t = load_tables(spark, sf_dir)
    data = t.embeddings.select(
        "vec_id", array_to_vector(as_double(F.col("embedding"))).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    ).fit(data)
    key = data.filter(F.col("vec_id") == key_id).first()
    if key is None:
        raise ValueError(f"vec_id {key_id} not present in the embeddings table")
    return lsh.approxNearestNeighbors(data, key.features, k + 1).filter(
        F.col("vec_id") != key_id
    )


def q_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class cohesion in O(n): per label, the mean pairwise
    dot product WITHIN the class via the sum-vector identity
    mean_dot = (|Σv|² − Σ|v|²) / (n(n−1)) — no pairwise join, ever.
    The "is this embedding space separable by label" probe run before
    trusting labels for IVF seeding or a classifier.

    Exactness: per-coordinate sums and the two quadratic sums accumulate
    as DECIMAL(18,6) of rounded terms (the q_ab_test pattern —
    order-independent, engine-identical); the final ratio is a derived
    double rounded to 6.

    Scale shape: one posexplode aggregate keyed (label, dim) — bounded by
    labels × dims — plus one per-row scalar aggregate keyed label. The
    corpus shuffles compact partial sums only.
    """
    t = load_tables(spark, sf_dir)
    dec6 = lambda c: F.round(c, 6).cast("decimal(18,6)")  # noqa: E731
    coord_sums = (
        t.embeddings.select("label", F.posexplode("embedding").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.sum(dec6(F.col("x").cast("double"))).alias("s_d"))
    )
    sumvec_sq = coord_sums.groupBy("label").agg(
        F.sum(dec6(F.col("s_d").cast("double") * F.col("s_d").cast("double")))
        .alias("sumvec_sq")
    )
    per_row = t.embeddings.select(
        "label", sq_norm(F.col("embedding"), EMBEDDING_DIM).alias("sqn")
    ).groupBy("label").agg(
        F.count("*").alias("n"), F.sum(dec6(F.col("sqn"))).alias("sq_sum")
    )
    n = F.col("n").cast("double")
    # try_divide: a single-member label has no pairs — NULL, not an ANSI
    # divide-by-zero.
    mean_dot = F.try_divide(
        F.col("sumvec_sq").cast("double") - F.col("sq_sum").cast("double"),
        n * (n - 1),
    )
    out = per_row.join(sumvec_sq, "label").select(
        "label", "n", F.round(mean_dot, 6).alias("within_mean_dot")
    )
    from machinelearningalgomapreduce_spark.operators.relational import tiny_sorted

    return tiny_sorted(out, "label")


def q_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm profile: n, min/mean/max of the (rounded)
    L2 norm — the embedding-sanity check (collapsed vectors, scale drift
    between sources) run before any cosine pipeline.

    min/max are order-independent on rounded per-row norms; the mean uses
    the DECIMAL(18,6) sum pattern. One scan-side norm + one bounded
    aggregate keyed label."""
    t = load_tables(spark, sf_dir)
    nrm = F.round(norm(F.col("embedding"), EMBEDDING_DIM), 6)
    agg = (
        t.embeddings.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.min("nrm").alias("min_norm"),
            F.round(
                F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double") / F.count("*"),
                6,
            ).alias("mean_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )
    from machinelearningalgomapreduce_spark.operators.relational import tiny_sorted

    return tiny_sorted(agg, "label")


QUERIES = {
    "q_sim_topk": q_sim_topk,
    "q_sim_ann": q_sim_ann,
    "q_sim_recall": q_sim_recall,
    "q_ndcg": q_ndcg,
    "q_class_separation": q_class_separation,
    "q_norm_profile": q_norm_profile,
}

_DIMS = f"range(1, {EMBEDDING_DIM + 1})"

_PAIR_COS = f"""round(
    list_sum(list_transform({_DIMS}, i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform({_DIMS}, i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
     * sqrt(list_sum(list_transform({_DIMS}, i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
    6)"""

ORACLES = {
    "q_sim_topk": f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_PAIR_COS} AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ORDER BY cos_sim DESC, id_a, id_b
        LIMIT {TOPK_PAIRS}
    """,
    "q_sim_ann": f"""
        WITH {_ASSIGN_CTES},
        cells AS (
            SELECT e.vec_id, e.embedding, a.cluster
            FROM embeddings e JOIN assigned a USING (vec_id)
        ), q AS (
            SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id % {ANN_QUERY_STRIDE} = 0
        ), qprobe AS (
            SELECT query_id, pcell
            FROM (SELECT vec_id AS query_id, cluster AS pcell,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY dist2, cluster) AS rn
                  FROM scored WHERE vec_id % {ANN_QUERY_STRIDE} = 0)
            WHERE rn <= {ANN_NPROBE}
        ), probe AS (
            SELECT q.query_id, b.vec_id AS neighbor_id, b.cluster AS cell,
                   round(
                     list_sum(list_transform({_DIMS},
                         i -> CAST(q.qv[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform({_DIMS},
                            i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform({_DIMS},
                            i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
                     6) AS cos_sim
            FROM q
            JOIN qprobe p ON p.query_id = q.query_id
            JOIN cells b ON b.cluster = p.pcell AND q.query_id <> b.vec_id
        )
        SELECT query_id, neighbor_id, cell, cos_sim, CAST(rank AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos_sim DESC, neighbor_id) AS rank
              FROM probe)
        WHERE rank <= {ANN_K}
    """,
    "q_sim_recall": f"""
        WITH {_ASSIGN_CTES},
        cells AS (
            SELECT e.vec_id, e.embedding, a.cluster
            FROM embeddings e JOIN assigned a USING (vec_id)
        ), q AS (
            SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id % {ANN_QUERY_STRIDE} = 0
        ), qprobe AS (
            SELECT query_id, pcell
            FROM (SELECT vec_id AS query_id, cluster AS pcell,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY dist2, cluster) AS rn
                  FROM scored WHERE vec_id % {ANN_QUERY_STRIDE} = 0)
            WHERE rn <= {ANN_NPROBE}
        ), brute AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM (
                SELECT q.query_id, b.vec_id AS neighbor_id,
                       round(
                         list_sum(list_transform({_DIMS},
                             i -> CAST(q.qv[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform({_DIMS},
                                i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
                          * sqrt(list_sum(list_transform({_DIMS},
                                i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
                         6) AS cos_sim
                FROM q JOIN embeddings b ON q.query_id <> b.vec_id)
        ), topk AS (
            SELECT query_id, neighbor_id FROM brute WHERE rank <= {ANN_K}
        ), probe AS (
            SELECT q.query_id, b.vec_id AS neighbor_id,
                   round(
                     list_sum(list_transform({_DIMS},
                         i -> CAST(q.qv[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform({_DIMS},
                            i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform({_DIMS},
                            i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
                     6) AS cos_sim
            FROM q
            JOIN qprobe p ON p.query_id = q.query_id
            JOIN cells b ON b.cluster = p.pcell AND q.query_id <> b.vec_id
        ), ann AS (
            SELECT query_id, neighbor_id
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY cos_sim DESC, neighbor_id) AS rank
                  FROM probe)
            WHERE rank <= {ANN_K}
        )
        SELECT t.query_id,
               {ANN_K} AS k,
               CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hits,
               round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                     / {float(ANN_K)}, 6) AS recall
        FROM topk t
        LEFT JOIN ann a
          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
        GROUP BY t.query_id
    """,
    "q_ndcg": f"""
        WITH {{ASSIGN}},
        cells AS (
            SELECT e.vec_id, e.embedding, a.cluster
            FROM embeddings e JOIN assigned a USING (vec_id)
        ), q AS (
            SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id % {ANN_QUERY_STRIDE} = 0
        ), qprobe AS (
            SELECT query_id, pcell
            FROM (SELECT vec_id AS query_id, cluster AS pcell,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY dist2, cluster) AS rn
                  FROM scored WHERE vec_id % {ANN_QUERY_STRIDE} = 0)
            WHERE rn <= {ANN_NPROBE}
        ), brute AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id) AS brute_rank
            FROM (
                SELECT q.query_id, b.vec_id AS neighbor_id,
                       {{COS}} AS cos_sim
                FROM q JOIN embeddings b ON q.query_id <> b.vec_id)
        ), rel AS (
            SELECT query_id, neighbor_id,
                   {ANN_K} - brute_rank + 1 AS rel
            FROM brute WHERE brute_rank <= {ANN_K}
        ), probe AS (
            SELECT q.query_id, b.vec_id AS neighbor_id, {{COS_CELL}} AS cos_sim
            FROM q
            JOIN qprobe p ON p.query_id = q.query_id
            JOIN cells b ON b.cluster = p.pcell AND q.query_id <> b.vec_id
        ), ann AS (
            SELECT query_id, neighbor_id, rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY cos_sim DESC, neighbor_id) AS rank
                  FROM probe)
            WHERE rank <= {ANN_K}
        ), dcg AS (
            SELECT a.query_id,
                   sum(CAST(coalesce(r.rel, 0) AS DOUBLE) / log2(a.rank + 1.0)) AS dcg
            FROM ann a LEFT JOIN rel r USING (query_id, neighbor_id)
            GROUP BY a.query_id
        )
        SELECT qq.query_id,
               round(coalesce(d.dcg, 0.0)
                     / ({_IDCG_SQL}),
                     6) AS ndcg
        FROM (SELECT DISTINCT query_id FROM rel) qq
        LEFT JOIN dcg d USING (query_id)
    """,
    "q_class_separation": f"""
        WITH coord_sums AS (
            SELECT label, i.range AS d,
                   sum(CAST(round(CAST(embedding[i.range] AS DOUBLE), 6)
                            AS DECIMAL(18,6))) AS s_d
            FROM embeddings CROSS JOIN {_DIMS} i
            GROUP BY label, i.range
        ),
        sumvec AS (
            SELECT label,
                   sum(CAST(round(CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE), 6)
                            AS DECIMAL(18,6))) AS sumvec_sq
            FROM coord_sums GROUP BY label
        ),
        per_row AS (
            SELECT label, count(*) AS n,
                   sum(CAST(round(list_sum(list_transform({_DIMS},
                            i -> CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[i] AS DOUBLE))), 6)
                            AS DECIMAL(18,6))) AS sq_sum
            FROM embeddings GROUP BY label
        )
        SELECT p.label, p.n,
               round((CAST(s.sumvec_sq AS DOUBLE) - CAST(p.sq_sum AS DOUBLE))
                     / nullif(p.n * (p.n - 1.0), 0.0), 6) AS within_mean_dot
        FROM per_row p JOIN sumvec s ON p.label = s.label
        ORDER BY p.label
    """,
    "q_norm_profile": f"""
        WITH norms AS (
            SELECT label,
                   round(sqrt(list_sum(list_transform({_DIMS},
                        i -> CAST(embedding[i] AS DOUBLE)
                             * CAST(embedding[i] AS DOUBLE)))), 6) AS nrm
            FROM embeddings
        )
        SELECT label, count(*) AS n,
               min(nrm) AS min_norm,
               round(CAST(sum(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 6) AS mean_norm,
               max(nrm) AS max_norm
        FROM norms
        GROUP BY label
        ORDER BY label
    """,
}

# The q_ndcg oracle shares the recall oracle's building blocks; the
# placeholders keep the f-string above readable.
_COS_QB = f"""round(
    list_sum(list_transform({_DIMS},
        i -> CAST(q.qv[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform({_DIMS},
           i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
     * sqrt(list_sum(list_transform({_DIMS},
           i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
    6)"""

ORACLES["q_ndcg"] = (
    ORACLES["q_ndcg"]
    .replace("{ASSIGN}", _ASSIGN_CTES)
    .replace("{COS_CELL}", _COS_QB)
    .replace("{COS}", _COS_QB)
)


def ann_projected_rerank(
    spark: SparkSession,
    sf_dir: str,
    out_dim: int = 16,
    n_probe: int = ANN_NPROBE,
    k: int = ANN_K,
    rerank_mult: int = 3,
) -> DataFrame:
    """Two-stage retrieval over the fixture embeddings — see
    ``ann_projected_rerank_frame`` for the semantics; this wrapper only
    binds the sf_dir table."""
    return ann_projected_rerank_frame(
        load_tables(spark, sf_dir).embeddings,
        in_dim=EMBEDDING_DIM,
        out_dim=out_dim,
        n_probe=n_probe,
        k=k,
        rerank_mult=rerank_mult,
    )


def ann_projected_rerank_frame(
    embeddings: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    n_probe: int = ANN_NPROBE,
    k: int = ANN_K,
    rerank_mult: int = 3,
) -> DataFrame:
    """Two-stage retrieval (library API): coarse ANN in JL-PROJECTED space,
    exact full-dimension re-rank of the survivors — the standard
    compressed-index architecture (IVF over reduced vectors; full vectors
    touched only for the short candidate list).

    Stage 1 runs entirely in `out_dim` dims: centroids, cell assignment,
    probe ranking and the candidate cosine all use
    `functions/vectors.random_project` vectors, cutting the per-pair fold
    cost in_dim/out_dim× and, at 100 TB, the index storage alongside.
    Stage 2 joins the ≤ rerank_mult·k survivors per query back to the full
    vectors for the exact cosine — the only full-width work after the scan.

    Guarantees pinned by tests: the re-rank stage is EXACT (final order ≡
    brute full-dim order restricted to the candidate set) on any input;
    end-to-end recall is high exactly when neighbor structure is real
    (≥0.8 on a clustered synthetic set; the near-uniform fixture floors
    both this and the unprojected IVF — measured, see q_sim_recall).
    """
    from machinelearningalgomapreduce_spark.functions.vectors import random_project

    EMBEDDING_DIM = in_dim  # noqa: N806 — shadow for the shared exprs below

    base = embeddings.select(
        "vec_id",
        "label",
        "embedding",
        random_project(F.col("embedding"), "ann-jl", out_dim, EMBEDDING_DIM).alias("pvec"),
    )
    proj = base.select("vec_id", "label", F.col("pvec").alias("embedding"))
    cents = label_centroids(proj)
    cells = assign_nearest(proj, cents, out_dim).select("vec_id", "cluster")
    corpus = proj.join(cells, "vec_id").select(
        "vec_id",
        F.col("embedding").alias("cvec"),
        "cluster",
        norm(F.col("embedding"), out_dim).alias("cnorm"),
    )
    is_query = F.col("vec_id") % ANN_QUERY_STRIDE == 0
    pcells = cents.select(F.col("label").alias("pcell"), "centroid")
    wq = W.partitionBy("query_id").orderBy("dist2", "pcell")
    qprobe = (
        proj.filter(is_query)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .crossJoin(F.broadcast(pcells))
        .select(
            "query_id",
            "pcell",
            F.round(sq_dist(F.col("embedding"), F.col("centroid"), out_dim), 6).alias("dist2"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "pcell")
    )
    q = (
        corpus.filter(is_query)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cvec").alias("qv"),
            F.col("cnorm").alias("qnorm"),
        )
        .join(qprobe, "query_id")
    )
    nbrs = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cvec").alias("nvec"),
        F.col("cluster").alias("ncluster"),
        F.col("cnorm").alias("nnorm"),
    )
    pcos = dot(F.col("qv"), F.col("nvec"), out_dim) / (F.col("qnorm") * F.col("nnorm"))
    wcand = W.partitionBy("query_id").orderBy(F.desc("proj_cos"), "neighbor_id")
    candidates = (
        q.join(
            nbrs,
            (F.col("pcell") == F.col("ncluster"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id", F.round(pcos, 6).alias("proj_cos"))
        .withColumn("crank", F.row_number().over(wcand))
        .filter(F.col("crank") <= rerank_mult * k)
        .select("query_id", "neighbor_id")
    )
    full = embeddings.select(
        "vec_id", "embedding", norm(F.col("embedding"), EMBEDDING_DIM).alias("fnorm")
    )
    qfull = full.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qfv"),
        F.col("fnorm").alias("qfnorm"),
    )
    nfull = full.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nfv"),
        F.col("fnorm").alias("nfnorm"),
    )
    exact = F.round(
        dot(F.col("qfv"), F.col("nfv"), EMBEDDING_DIM) / (F.col("qfnorm") * F.col("nfnorm")), 6
    )
    wfin = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        candidates.join(qfull, "query_id")
        .join(nfull, "neighbor_id")
        .select("query_id", "neighbor_id", exact.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(wfin))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Oracle-checked JL projection (round-6 addition, deferred driver window).

JL_OUT_DIM = 4
JL_SEED = "jl"


def q_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection of the embeddings to
    JL_OUT_DIM coordinates with the deterministic md5-parity ±1/√d sign
    matrix (functions.vectors.jl_signs) — the width-reduction step the
    two-stage retrieval pipeline (IVF in projected space, exact re-rank
    in full space) builds on. Each coordinate is a sequential left-fold
    dot product — identical float-op order in both engines — emitted as
    round-6 scalar columns.

    Scale shape: a pure per-row projection the scan carries — no
    shuffle, no Python, O(in_dim·out_dim) literal multiplies per row."""
    from machinelearningalgomapreduce_spark.functions.vectors import random_project

    t = load_tables(spark, sf_dir)
    proj = random_project(F.col("embedding"), JL_SEED, JL_OUT_DIM, EMBEDDING_DIM)
    out = t.embeddings.select("vec_id", proj.alias("p"))
    return out.select(
        "vec_id",
        *[F.round(F.col("p")[i], 6).alias(f"p{i}") for i in range(JL_OUT_DIM)],
    )


def _jl_oracle_sql() -> str:
    from machinelearningalgomapreduce_spark.functions.vectors import jl_signs
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM

    rows = jl_signs(JL_SEED, JL_OUT_DIM, EMBEDDING_DIM)
    # Explicit left-assoc term chains — bit-for-bit the fsum fold order
    # (0 + t1) + t2 + ... (0 + t1 ≡ t1 for finite t1).
    cols = []
    for i, row in enumerate(rows):
        chain = " + ".join(
            f"CAST(embedding[{j + 1}] AS DOUBLE) * CAST({float(s)!r} AS DOUBLE)"
            for j, s in enumerate(row)
        )
        cols.append(f"round({chain}, 6) AS p{i}")
    return "SELECT vec_id, " + ", ".join(cols) + " FROM embeddings"


QUERIES["q_jl_project"] = q_jl_project
ORACLES["q_jl_project"] = _jl_oracle_sql()


# ---------------------------------------------------------------------------
# Product quantization (round-6 session-4 addition, deferred driver window).

PQ_M = 4          # subspaces
PQ_SUB_DIM = 16   # dims per subspace (M × SUB_DIM = EMBEDDING_DIM)


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment: each 64-dim embedding splits
    into 4 × 16-dim subvectors, each assigned to the nearest of 4 FIXED
    codebook patterns (±0.5 constant, ±0.5 alternating) — the PQ encode
    step of a billion-scale ANN index (Jégou et al. 2011), with the
    quantization error per subspace as the audit column.

    With unit-norm patterns (‖c‖² = 4 for all four), nearest-centroid
    reduces to argmax dot product, and the four dots are ±0.5·Σx and
    ±0.5·Σ(−1)ᵈx — so the assignment needs TWO subvector sums, the
    argmax is an exact sign/magnitude CASE on identically-computed
    doubles (first-match tie-break), and no distance matrix exists
    anywhere. The learned-codebook variant is per-subspace kmeans_fit
    (operators/ml.py) feeding the same assignment shape.

    Scale shape: one posexplode → (vec, sub)-keyed aggregate (map-side
    combinable, 4 rows per vector out), then scan-side CASE arithmetic.
    At 100 TB the codes table is the compact index this query EMITS —
    64 dims of float32 become 4 small ints per vector."""
    t = load_tables(spark, sf_dir)
    long = t.embeddings.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "vec_id",
        (F.col("pos") / PQ_SUB_DIM).cast("int").alias("sub"),
        (1 - 2 * (F.col("pos") % 2)).cast("double").alias("sgn"),
        F.col("xf").cast("double").alias("x"),
    )
    # Order-free sums (module discipline): per-term round → DECIMAL, so
    # engine-side aggregation parallelism can never reorder a float sum.
    agg = long.groupBy("vec_id", "sub").agg(
        F.sum(F.round(F.col("x"), 6).cast("decimal(18,6)")).alias("sx_d"),
        F.sum(F.round(F.col("sgn") * F.col("x"), 6).cast("decimal(18,6)")).alias("sa_d"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(18,9)")).alias("sq_d"),
    )
    agg = agg.select(
        "vec_id",
        "sub",
        F.col("sx_d").cast("double").alias("sx"),
        F.col("sa_d").cast("double").alias("sa"),
        F.col("sq_d").cast("double").alias("sq"),
    )
    dots = [
        0.5 * F.col("sx"),
        -0.5 * F.col("sx"),
        0.5 * F.col("sa"),
        -0.5 * F.col("sa"),
    ]
    best = F.greatest(*dots)
    code = (
        F.when(dots[0] == best, F.lit(0))
        .when(dots[1] == best, F.lit(1))
        .when(dots[2] == best, F.lit(2))
        .otherwise(F.lit(3))
    )
    dist = F.col("sq") - 2.0 * best + 4.0
    return agg.select(
        "vec_id",
        "sub",
        code.cast("int").alias("code"),
        F.floor(dist * 1000000.0 + F.lit(0.5)).cast("bigint").alias("dist_micro"),
    )


QUERIES["q_pq_codes"] = q_pq_codes

ORACLES["q_pq_codes"] = f"""
    WITH long AS (
        SELECT vec_id,
               CAST((d.d - 1) // {PQ_SUB_DIM} AS INTEGER) AS sub,
               CAST(1 - 2 * ((d.d - 1) % 2) AS DOUBLE) AS sgn,
               CAST(embedding[d.d] AS DOUBLE) AS x
        FROM embeddings, (SELECT unnest(range(1, {PQ_M * PQ_SUB_DIM} + 1)) AS d) d
    ),
    agg AS (
        SELECT vec_id, sub,
               CAST(sum(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(round(sgn * x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sa,
               CAST(sum(CAST(round(x * x, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sq
        FROM long GROUP BY vec_id, sub
    ),
    scored AS (
        SELECT vec_id, sub, sq,
               greatest(0.5 * sx, -0.5 * sx, 0.5 * sa, -0.5 * sa) AS best,
               CASE WHEN 0.5 * sx = greatest(0.5 * sx, -0.5 * sx, 0.5 * sa, -0.5 * sa) THEN 0
                    WHEN -0.5 * sx = greatest(0.5 * sx, -0.5 * sx, 0.5 * sa, -0.5 * sa) THEN 1
                    WHEN 0.5 * sa = greatest(0.5 * sx, -0.5 * sx, 0.5 * sa, -0.5 * sa) THEN 2
                    ELSE 3 END AS code
        FROM agg
    )
    SELECT vec_id, sub, CAST(code AS INTEGER) AS code,
           CAST(floor((sq - 2.0 * best + 4.0) * 1000000.0 + 0.5) AS BIGINT) AS dist_micro
    FROM scored
"""


def q_calinski(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz index of the label partition in embedding
    space — the variance-ratio cluster-quality score (between-group over
    within-group scatter, both per-degree-of-freedom): the k-selection
    and clustering-sanity metric that, unlike silhouette, needs NO
    pairwise distances at all.

    Both scatters reduce to sum-vector identities (the
    q_class_separation discipline): W = Σ|v|² − Σᵢ|Σvᵢ|²/nᵢ and
    B = Σᵢ|Σvᵢ|²/nᵢ − |Σv|²/n, from per-(label, dim) DECIMAL sums of
    rounded terms — order-free, engine-identical; CH emits as micro
    fixed-point.

    Scale shape: one posexplode aggregate keyed (label, dim) — bounded
    by labels × dims — and one per-row norm aggregate; the global sums
    fold from the PER-LABEL frame (O(k·d) rows), so the corpus is
    scanned once and shuffles only compact partials."""
    t = load_tables(spark, sf_dir)
    dec6 = lambda c: F.round(c, 6).cast("decimal(18,6)")  # noqa: E731
    coord = (
        t.embeddings.select("label", F.posexplode("embedding").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.sum(dec6(F.col("x").cast("double"))).alias("s_d"))
    )
    per_label_sq = coord.groupBy("label").agg(
        F.sum(dec6(F.col("s_d").cast("double") * F.col("s_d").cast("double")))
        .alias("sumvec_sq")
    )
    per_label_n = (
        t.embeddings.select("label", sq_norm(F.col("embedding"), EMBEDDING_DIM).alias("sqn"))
        .groupBy("label")
        .agg(F.count("*").alias("n_i"), F.sum(dec6(F.col("sqn"))).alias("sq_sum_i"))
    )
    # Global sum-vector from the per-(label, dim) frame: Σv = Σ_labels Σv_i.
    global_sq = (
        coord.groupBy("d")
        .agg(F.sum("s_d").alias("g_d"))
        .agg(
            F.sum(dec6(F.col("g_d").cast("double") * F.col("g_d").cast("double")))
            .alias("gvec_sq")
        )
    )
    lab = per_label_n.join(per_label_sq, "label")
    folded = lab.agg(
        F.sum("n_i").alias("n"),
        F.count("*").alias("k"),
        F.sum(dec6(F.col("sq_sum_i").cast("double"))).alias("sq_sum"),
        F.sum(
            dec6(F.col("sumvec_sq").cast("double") / F.col("n_i").cast("double"))
        ).alias("cent_sq"),
    )
    out = folded.crossJoin(F.broadcast(global_sq))
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    w = F.col("sq_sum").cast("double") - F.col("cent_sq").cast("double")
    b = F.col("cent_sq").cast("double") - F.col("gvec_sq").cast("double") / nd
    ch = (b / (kd - 1.0)) / (w / (nd - kd))
    return out.select(
        "n",
        "k",
        F.round(w, 6).alias("within_scatter"),
        F.round(b, 6).alias("between_scatter"),
        F.floor(ch * 1000000.0 + F.lit(0.5)).cast("bigint").alias("ch_micro"),
    )


QUERIES["q_calinski"] = q_calinski

ORACLES["q_calinski"] = f"""
    WITH long AS (
        SELECT label, d.d AS d, CAST(embedding[d.d] AS DOUBLE) AS x
        FROM embeddings, (SELECT unnest(range(1, {EMBEDDING_DIM + 1})) AS d) d
    ),
    coord AS (
        SELECT label, d, sum(CAST(round(x, 6) AS DECIMAL(18,6))) AS s_d
        FROM long GROUP BY label, d
    ),
    per_label_sq AS (
        SELECT label,
               sum(CAST(round(CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE), 6)
                        AS DECIMAL(18,6))) AS sumvec_sq
        FROM coord GROUP BY label
    ),
    per_label_n AS (
        SELECT label, count(*) AS n_i,
               sum(CAST(round(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6)
                        AS DECIMAL(18,6))) AS sq_sum_i
        FROM embeddings GROUP BY label
    ),
    global_sq AS (
        SELECT sum(CAST(round(CAST(g_d AS DOUBLE) * CAST(g_d AS DOUBLE), 6)
                        AS DECIMAL(18,6))) AS gvec_sq
        FROM (SELECT d, sum(s_d) AS g_d FROM coord GROUP BY d)
    ),
    folded AS (
        SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
               sum(CAST(round(CAST(sq_sum_i AS DOUBLE), 6) AS DECIMAL(18,6))) AS sq_sum,
               sum(CAST(round(CAST(sumvec_sq AS DOUBLE) / CAST(n_i AS DOUBLE), 6)
                        AS DECIMAL(18,6))) AS cent_sq
        FROM per_label_n JOIN per_label_sq USING (label)
    )
    SELECT n, k,
           round(CAST(sq_sum AS DOUBLE) - CAST(cent_sq AS DOUBLE), 6) AS within_scatter,
           round(CAST(cent_sq AS DOUBLE) - CAST(gvec_sq AS DOUBLE) / CAST(n AS DOUBLE), 6)
               AS between_scatter,
           CAST(floor(((CAST(cent_sq AS DOUBLE) - CAST(gvec_sq AS DOUBLE) / CAST(n AS DOUBLE))
                        / (CAST(k AS DOUBLE) - 1.0))
                      / ((CAST(sq_sum AS DOUBLE) - CAST(cent_sq AS DOUBLE))
                         / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
                      * 1000000.0 + 0.5) AS BIGINT) AS ch_micro
    FROM folded CROSS JOIN global_sq
"""


def _pq_subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, sub, sv): embeddings split into PQ_M subvectors of
    PQ_SUB_DIM doubles — the long frame both PQ training and encoding
    key on."""
    t = load_tables(spark, sf_dir)
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("sub"),
                F.transform(
                    F.slice("embedding", m * PQ_SUB_DIM + 1, PQ_SUB_DIM),
                    lambda x: x.cast("double"),
                ).alias("sv"),
            )
            for m in range(PQ_M)
        ]
    )
    return (
        t.embeddings.select("vec_id", F.explode(subs).alias("s"))
        .select("vec_id", F.col("s.sub").alias("sub"), F.col("s.sv").alias("sv"))
    )


def pq_assign(data: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-codeword assignment for every (vector, subspace): ONE
    hash aggregate (min of (rounded dist, code) structs — no window, no
    shuffle of candidates beyond the broadcast codebook join). Returns
    (vec_id, sub, code, d2)."""
    d2 = F.round(sq_dist(F.col("sv"), F.col("centroid"), PQ_SUB_DIM), 6)
    best = F.min(F.struct(d2.alias("d2"), F.col("code").alias("code")))
    return (
        data.join(F.broadcast(cents), "sub")
        .groupBy("vec_id", "sub")
        .agg(best.alias("b"))
        .select("vec_id", "sub", F.col("b.code").alias("code"), F.col("b.d2").alias("d2"))
    )


def pq_fit(
    spark: SparkSession, sf_dir: str, k: int = 4, n_iter: int = 4
) -> tuple[DataFrame, list[float]]:
    """Learned product-quantization codebooks (the data-fit sibling of
    q_pq_codes' fixed patterns): per-subspace k-means trained for ALL
    PQ_M subspaces SIMULTANEOUSLY as one keyed-kmeans loop — centroids
    are keyed (sub, code), so a 100 TB trainer runs one job per
    iteration, not one per subspace.

    Deterministic end to end: init = the k smallest vec_ids' subvectors
    per subspace; assignment minimizes (rounded distance, code) structs;
    recomputed centroid coordinates round to 6. Returns (codebooks,
    per-iteration total quantization error) — the error list is the
    O(n_iter) driver-side convergence read the MapReduce loop would put
    in a counter.

    Scale shape: the subvector frame is materialized once
    (loop-invariant); per iteration ONE broadcast-codebook assignment
    aggregate and ONE (sub, code, dim) recompute aggregate — both
    map-side combinable; state crossing iterations is O(M·k·sub_dim)."""
    data = materialize_once(_pq_subvectors(spark, sf_dir))
    wi = W.partitionBy("sub").orderBy("vec_id")
    cents = materialize_once(
        data.withColumn("rn", F.row_number().over(wi))
        .filter(F.col("rn") <= k)
        .select("sub", (F.col("rn") - 1).cast("int").alias("code"), F.col("sv").alias("centroid"))
    )
    errors: list[float] = []
    for i in range(n_iter):
        # materialize the assignment: the error read AND the centroid
        # recompute both consume it — otherwise the broadcast-codebook
        # job runs twice per iteration (r10 review)
        assigned = materialize_once(pq_assign(data, cents))
        # DECIMAL(18,6) sum: order-free exact total, so the error
        # trajectory is identical across partition layouts (the
        # q_pq_codes discipline; d2 is already rounded to 6)
        errors.append(
            float(
                assigned.agg(
                    F.sum(F.col("d2").cast("decimal(18,6)"))
                ).first()[0]
            )
        )
        cents = materialize_once(
            assigned.join(data, ["vec_id", "sub"])
            .select("sub", "code", F.posexplode("sv").alias("d", "x"))
            .groupBy("sub", "code", "d")
            .agg(F.round(F.avg("x"), 6).alias("c"))
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("d", "c"))).alias("dc"))
            .select("sub", "code", F.transform("dc", lambda s: s["c"]).alias("centroid"))
        )
    return cents, errors


def _brute_topk(
    spark: SparkSession,
    sf_dir: str,
    *,
    stride: int = ANN_QUERY_STRIDE,
    k: int = ANN_K,
) -> DataFrame:
    """Exact brute-force top-k (query_id, neighbor_id, brute_rank) over the
    ANN query sample — the shared ground-truth relevance set of the
    ranking-eval family (q_sim_recall / q_ndcg / q_mrr / q_map).
    ``stride``/``k`` re-aim it at another sample/budget (the q_knn-twin
    recall audit uses stride=KNN_QUERY_STRIDE, k=KNN_K).

    Scale shape: query side is a 1/STRIDE sample and broadcast; the join
    is linear in the corpus — the continuously-affordable audit envelope
    the module docstring describes."""
    t = load_tables(spark, sf_dir)
    e = t.embeddings.select(
        "vec_id", "embedding", norm(F.col("embedding"), EMBEDDING_DIM).alias("vnorm")
    )
    q = e.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("vnorm").alias("qnorm"),
    )
    cos = F.round(
        dot(F.col("qv"), F.col("embedding"), EMBEDDING_DIM)
        / (F.col("qnorm") * F.col("vnorm")),
        6,
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        F.broadcast(q)
        .join(fan_out(e), F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim"))
        .withColumn("brute_rank", F.row_number().over(w))
        .filter(F.col("brute_rank") <= k)
        .select("query_id", "neighbor_id", "brute_rank")
    )


def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reciprocal-rank audit of the IVF path — the first-result
    metric: recall@k (q_sim_recall) counts how many true neighbors were
    found and NDCG scores the whole ordering; MRR isolates HOW FAR DOWN
    the list the first true neighbor sits, the number a
    retrieve-one-document consumer (RAG, dedup-canonical lookup) cares
    about. rr = 1/rank of the first ANN result that is in the exact
    brute top-k, 0 if none of the k results is.

    Determinism: ranks are row_number over rounded cosine with id
    tie-breaks (engine-identical); rr is one integer division, rounded.

    Scale shape: identical to q_sim_recall — brute truth on the query
    sample only, model-sized joins after."""
    # (ReusedExchange already dedupes the double-referenced brute subtree —
    # see q_ndcg's r16 note; materializing it measured neutral-to-worse.)
    brute = _brute_topk(spark, sf_dir)
    ann = q_sim_ann(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    first_hit = (
        ann.join(brute, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.min("rank").alias("min_rank"))
    )
    queries_frame = brute.select("query_id").distinct()
    return queries_frame.join(first_hit, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("min_rank"), F.lit(0)).cast("bigint").alias("first_hit_rank"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("min_rank"), F.lit(0.0)), 6
        ).alias("rr"),
    )


def q_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-precision@k audit of the IVF path — the order-sensitive
    set metric completing the ranking-eval family: AP averages
    precision@i over the positions i where the ANN list produced a true
    (brute top-k) neighbor, so early misses are punished harder than
    late ones, without NDCG's graded-relevance assumption.

    AP = (1/k) Σ_hits (hits_so_far / rank). hits_so_far is row_number
    over the hit list ordered by ANN rank — exact integers in both
    engines; each precision term is one small-integer division rounded
    to 6 and summed as DECIMAL(18,6) (order-free), closing with a single
    /k division.

    Scale shape: identical to q_sim_recall — brute truth on the query
    sample only, model-sized joins after."""
    # (ReusedExchange already dedupes the double-referenced brute subtree —
    # see q_ndcg's r16 note; materializing it measured neutral-to-worse.)
    brute = _brute_topk(spark, sf_dir)
    ann = q_sim_ann(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    hits = ann.join(brute, ["query_id", "neighbor_id"]).select("query_id", "rank")
    w = W.partitionBy("query_id").orderBy("rank")
    prec = hits.withColumn(
        "p",
        F.round(
            F.row_number().over(w).cast("double") / F.col("rank"), 6
        ).cast("decimal(18,6)"),
    )
    per_q = prec.groupBy("query_id").agg(F.sum("p").alias("sp"))
    queries_frame = brute.select("query_id").distinct()
    return queries_frame.join(per_q, "query_id", "left").select(
        "query_id",
        F.round(
            F.coalesce(F.col("sp").cast("double"), F.lit(0.0)) / float(ANN_K), 6
        ).alias("ap"),
    )


QUERIES["q_mrr"] = q_mrr
QUERIES["q_map"] = q_map

# Both oracles reuse the q_sim_recall skeleton: exact brute top-k as the
# relevance set, the probe/ann CTEs replicating the IVF search.
_RANKEVAL_CTES = f"""{_ASSIGN_CTES},
    cells AS (
        SELECT e.vec_id, e.embedding, a.cluster
        FROM embeddings e JOIN assigned a USING (vec_id)
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id % {ANN_QUERY_STRIDE} = 0
    ), qprobe AS (
        SELECT query_id, pcell
        FROM (SELECT vec_id AS query_id, cluster AS pcell,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY dist2, cluster) AS rn
              FROM scored WHERE vec_id % {ANN_QUERY_STRIDE} = 0)
        WHERE rn <= {ANN_NPROBE}
    ), brute AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS brute_rank
        FROM (
            SELECT q.query_id, b.vec_id AS neighbor_id, {_COS_QB} AS cos_sim
            FROM q JOIN embeddings b ON q.query_id <> b.vec_id)
    ), topk AS (
        SELECT query_id, neighbor_id FROM brute WHERE brute_rank <= {ANN_K}
    ), probe AS (
        SELECT q.query_id, b.vec_id AS neighbor_id, {_COS_QB} AS cos_sim
        FROM q
        JOIN qprobe p ON p.query_id = q.query_id
        JOIN cells b ON b.cluster = p.pcell AND q.query_id <> b.vec_id
    ), ann AS (
        SELECT query_id, neighbor_id, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos_sim DESC, neighbor_id) AS rank
              FROM probe)
        WHERE rank <= {ANN_K}
    )"""

ORACLES["q_mrr"] = f"""
    WITH {_RANKEVAL_CTES},
    first_hit AS (
        SELECT a.query_id, min(a.rank) AS min_rank
        FROM ann a JOIN topk t USING (query_id, neighbor_id)
        GROUP BY a.query_id
    )
    SELECT qq.query_id,
           CAST(coalesce(f.min_rank, 0) AS BIGINT) AS first_hit_rank,
           round(coalesce(1.0 / f.min_rank, 0.0), 6) AS rr
    FROM (SELECT DISTINCT query_id FROM topk) qq
    LEFT JOIN first_hit f USING (query_id)
"""

ORACLES["q_map"] = f"""
    WITH {_RANKEVAL_CTES},
    hits AS (
        SELECT a.query_id, a.rank
        FROM ann a JOIN topk t USING (query_id, neighbor_id)
    ),
    prec AS (
        SELECT query_id,
               CAST(round(CAST(row_number() OVER (PARTITION BY query_id
                                                  ORDER BY rank) AS DOUBLE)
                          / rank, 6) AS DECIMAL(18,6)) AS p
        FROM hits
    ),
    per_q AS (SELECT query_id, sum(p) AS sp FROM prec GROUP BY query_id)
    SELECT qq.query_id,
           round(coalesce(CAST(m.sp AS DOUBLE), 0.0) / {float(ANN_K)}, 6) AS ap
    FROM (SELECT DISTINCT query_id FROM topk) qq
    LEFT JOIN per_q m USING (query_id)
"""


EMB_DRIFT_COS = 0.9  # below this centroid-to-global cosine → flagged drifted


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift audit: each label cohort's centroid compared
    to the GLOBAL corpus centroid — cosine and norm ratio, with a flag
    when the cohort points somewhere else than the corpus bulk
    (cos < EMB_DRIFT_COS). The vector-space twin of q_psi/q_vocab_drift:
    run per ingest source or per day at 100 TB, it is the cheap monitor
    that catches an embedding-model version mix-up or a source whose
    content shifted, BEFORE clustering/ANN quality degrades downstream.

    Determinism: per-dimension means are rounded to 6 (the shared
    label_centroids model discipline, q_kmeans_assign); dot products and
    norms fold dimension-ordered on both engines (functions/vectors
    ↔ list_sum(list_transform(...)) — the verified bit-identical pair),
    so cosine and norm ratio hash exactly.

    Scale shape: one posexplode + (label, dim) aggregate — map-side
    partial sums, output O(labels × dims); the global centroid is the
    same aggregate without the label key, broadcast as one row. No
    vector self-join anywhere."""
    from machinelearningalgomapreduce_spark.operators.relational import tiny_sorted

    t = load_tables(spark, sf_dir)
    cents = label_centroids(t.embeddings)
    glob = (
        t.embeddings.select(F.posexplode("embedding").alias("d", "xv"))
        .groupBy("d")
        .agg(F.round(F.avg(F.col("xv").cast("double")), 6).alias("g"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("d", "g"))).alias("dg"))
        .select(F.transform("dg", lambda s: s["g"]).alias("gvec"))
    )
    counts = t.embeddings.groupBy("label").agg(F.count("*").alias("n_vecs"))
    j = cents.join(counts, "label").crossJoin(F.broadcast(glob))
    c, g = F.col("centroid"), F.col("gvec")
    cos = dot(c, g, EMBEDDING_DIM) / (norm(c, EMBEDDING_DIM) * norm(g, EMBEDDING_DIM))
    nr = norm(c, EMBEDDING_DIM) / norm(g, EMBEDDING_DIM)
    out = j.select(
        "label",
        "n_vecs",
        F.round(cos, 6).alias("cos_to_global"),
        F.round(nr, 6).alias("norm_ratio"),
        (F.round(cos, 6) < EMB_DRIFT_COS).cast("int").alias("drifted"),
    )
    return tiny_sorted(out, "label")


QUERIES["q_embedding_drift"] = q_embedding_drift

_DRIFT_DIMS = f"range(1, {EMBEDDING_DIM + 1})"

ORACLES["q_embedding_drift"] = f"""
    WITH cent_dims AS (
        SELECT label, d, round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS c
        FROM embeddings, (SELECT unnest({_DRIFT_DIMS}) AS d)
        GROUP BY label, d
    ),
    cent AS (
        SELECT label, list(c ORDER BY d) AS centroid
        FROM cent_dims GROUP BY label
    ),
    glob_dims AS (
        SELECT d, round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS g
        FROM embeddings, (SELECT unnest({_DRIFT_DIMS}) AS d)
        GROUP BY d
    ),
    gcent AS (SELECT list(g ORDER BY d) AS gvec FROM glob_dims),
    counts AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
        FROM embeddings GROUP BY label
    )
    SELECT c.label, n.n_vecs,
           round(list_sum(list_transform({_DRIFT_DIMS},
                     i -> c.centroid[i] * g.gvec[i]))
                 / (sqrt(list_sum(list_transform({_DRIFT_DIMS},
                        i -> c.centroid[i] * c.centroid[i])))
                    * sqrt(list_sum(list_transform({_DRIFT_DIMS},
                          i -> g.gvec[i] * g.gvec[i])))), 6) AS cos_to_global,
           round(sqrt(list_sum(list_transform({_DRIFT_DIMS},
                     i -> c.centroid[i] * c.centroid[i])))
                 / sqrt(list_sum(list_transform({_DRIFT_DIMS},
                       i -> g.gvec[i] * g.gvec[i]))), 6) AS norm_ratio,
           CAST(CASE WHEN round(list_sum(list_transform({_DRIFT_DIMS},
                              i -> c.centroid[i] * g.gvec[i]))
                          / (sqrt(list_sum(list_transform({_DRIFT_DIMS},
                                 i -> c.centroid[i] * c.centroid[i])))
                             * sqrt(list_sum(list_transform({_DRIFT_DIMS},
                                   i -> g.gvec[i] * g.gvec[i])))), 6)
                          < {EMB_DRIFT_COS}
                     THEN 1 ELSE 0 END AS INTEGER) AS drifted
    FROM cent c CROSS JOIN gcent g JOIN counts n USING (label)
    ORDER BY c.label
"""
