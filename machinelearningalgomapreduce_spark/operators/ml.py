"""ML algorithms as declarative DataFrame queries (SURVEY.md §2C).

The reference repo class implements these as hand-written MapReduce jobs
(mapper emits partial statistics, reducer folds them, driver loops);
here every one is a Catalyst plan: partial aggregation replaces Combiners,
broadcast joins replace DistributedCache model shipping, and the iterative
loop body (one k-means/logreg step) is a pure SQL-expressible query so the
DuckDB oracle can hash-check it. Full multi-iteration fits via MLlib are
library API (`kmeans_fit`, `logreg_fit`) exercised from pytest — sketch
internals are not cross-engine hashable.

Scale notes (100 TB posture):
- Model state (centroids, gradients, NB likelihoods) is O(k·d) — always the
  broadcast side; the data side is never collected.
- k-means assign is data ⋈ broadcast(centroids): embarrassingly parallel,
  no shuffle of the fact table; the only shuffle is the O(k·d) centroid
  recompute aggregate with map-side partials.
- kNN brute-force is queries × corpus — kept for oracle checking; the
  scale path is cell-pruned search (operators/similarity.py::q_sim_ann).
- Float policy: centroid/gradient aggregates are rounded to 6 in both
  engines BEFORE downstream use, so argmin/ordering decisions never depend
  on summation order (SURVEY.md §5.2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from machinelearningalgomapreduce_spark.functions import money
from machinelearningalgomapreduce_spark.functions.joins import fan_out
from machinelearningalgomapreduce_spark.functions.storage import materialize_once
from machinelearningalgomapreduce_spark.functions.vectors import as_double, dot, norm, sq_dist
from machinelearningalgomapreduce_spark.sources.catalog import load_tables, table_stats
from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM

KNN_K = 10
KNN_QUERY_STRIDE = 50  # vec_id % stride == 0 → query point


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Seeded centroids: per-label dimension means (label = seed cluster),
    rounded to 6 so both engines agree bit-for-bit on the model.

    Returns (label, centroid: array<double> ordered by dimension).
    """
    # Measured note: a 64-avg-buffer single aggregate looks cheaper on paper
    # (no row blowup) but benches ~1.8× slower than this explode form — the
    # wide aggregate falls off the fast codegen path. Keep the explode.
    per_dim = (
        embeddings.select("label", F.posexplode("embedding").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c"))
    )
    return (
        per_dim.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("d", "c"))).alias("dc"))
        .select("label", F.transform("dc", lambda s: s["c"]).alias("centroid"))
    )


def assign_nearest(
    embeddings: DataFrame,
    centroids: DataFrame,
    dim: int | None = None,
    keep: tuple = ("label",),
) -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2, rounded;
    ties break on centroid id). centroids is broadcast — the
    DistributedCache idiom (SURVEY.md §2A).

    Shape notes (measured 2026-08-13): the k-row broadcast crossJoin keeps
    the centroid array a DIRECT column reference inside the distance fold —
    the fast evaluation path. Two "shuffle-free" alternatives (argmin as
    array_min/transform over a one-row broadcast of all centroids, or
    F.least over k struct exprs indexing into it) bench 2-40× SLOWER:
    lambda-body references that index into nested broadcast structures drop
    the fold onto an interpreted per-step path. The groupBy argmin shuffle
    moves only (vec_id, label, cluster, dist2) scalars — k×~32 B per
    vector, never the embeddings — so it stays cheap at 100 TB too.

    argmin as min_by over a (dist2, cluster) struct: a hash aggregate with
    map-side partials — cheaper than a per-key sort window, same rounded-
    distance + cluster-id tie-break (verified identical).

    ``keep`` threads extra per-vector columns through the argmin
    unchanged (default: the fixtures' label column). Pass ``keep=()``
    for frames without one — the IVF index path (operators/ivf_index.py)
    reuses this exact plan that way instead of re-implementing it."""
    dist2 = F.round(sq_dist(F.col("embedding"), F.col("centroid"), dim), 6)
    keep = tuple(keep)
    # fan_out: the assignment kernel is O(n·k) distance math in the map
    # stage — a 1-partition single-file scan would run it on one core
    # (r15, joins.py::fan_out; no-op when the input is already wide).
    scored = fan_out(embeddings).crossJoin(
        F.broadcast(centroids.select(F.col("label").alias("cluster"), "centroid"))
    ).select("vec_id", *keep, "cluster", dist2.alias("dist2"))
    return (
        scored.groupBy("vec_id", *keep)
        .agg(F.min_by(F.struct("cluster", "dist2"), F.struct("dist2", "cluster")).alias("m"))
        .select("vec_id", *keep, F.col("m.cluster").alias("cluster"), F.col("m.dist2").alias("dist2"))
    )


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means iteration, assign step: nearest of the 10 label-seeded
    centroids for every vector (the reference's per-iteration map phase)."""
    t = load_tables(spark, sf_dir)
    return assign_nearest(t.embeddings, label_centroids(t.embeddings), EMBEDDING_DIM)


def q_kmeans_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means iteration, update step: recompute centroids from the
    fresh assignments (the reference's reduce phase). Output is the new
    model — (cluster, dimension, coordinate)."""
    t = load_tables(spark, sf_dir)
    assigned = assign_nearest(t.embeddings, label_centroids(t.embeddings), EMBEDDING_DIM)
    return (
        assigned.join(t.embeddings.select("vec_id", "embedding"), "vec_id")
        .select("cluster", F.posexplode("embedding").alias("d0", "x"))
        .select("cluster", (F.col("d0") + 1).cast("bigint").alias("d"), "x")  # 1-based dims
        .groupBy("cluster", "d")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c"), F.count("*").alias("n"))
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classifier: for each query vector (every 50th id), the majority
    label among its 10 nearest neighbors by cosine. Brute-force scoring
    (oracle-checkable); cell-pruned ANN is the 100 TB path."""
    t = load_tables(spark, sf_dir)
    # Precompute each vector's norm BEFORE the pairwise join: per pair only
    # the dot product remains (the norm column is computed once per input
    # row and reused across all its join matches in the codegen'd loop).
    e = t.embeddings.withColumn("vnorm", norm(F.col("embedding"), EMBEDDING_DIM))
    q = e.filter(F.col("vec_id") % KNN_QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("qv"),
        F.col("vnorm").alias("qnorm"),
    )
    cos = F.round(
        dot(F.col("qv"), F.col("embedding"), EMBEDDING_DIM)
        / (F.col("qnorm") * F.col("vnorm")),
        6,
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    # fan_out: the streamed query side of the pairwise loop must not
    # inherit the 1-partition single-file scan (r15, joins.py::fan_out).
    neighbors = (
        fan_out(q).join(e, F.col("query_id") != F.col("vec_id"))
        .select("query_id", "query_label", "vec_id", "label", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
    )
    vote_w = W.partitionBy("query_id").orderBy(F.desc("n_votes"), "label")
    return (
        neighbors.groupBy("query_id", "query_label", "label")
        .agg(F.count("*").alias("n_votes"))
        .withColumn("vr", F.row_number().over(vote_w))
        .filter(F.col("vr") == 1)
        .select("query_id", "query_label", F.col("label").alias("pred_label"), "n_votes")
    )


def knn_ann(
    spark: SparkSession,
    sf_dir: str,
    k_cells: int | None = None,
    n_probe: int | None = None,
    seed: int = 42,
    centroids: DataFrame | None = None,
    index=None,
    rerank_mult: int | None = None,
) -> DataFrame:
    """q_knn's ANN twin (VERDICT r12 item 3): the SAME task — majority
    label among the KNN_K nearest neighbors for every KNN_QUERY_STRIDE-th
    vector, same output schema and vote tie-breaks — answered by the IVF
    cell-pruned search instead of the brute queries×corpus join. This is
    the 100 TB serving form of q_knn: candidate scoring touches
    ~n_probe/k_cells of the corpus via the cell equi-join, not all of it;
    recall@KNN_K vs the brute truth is measured by ann_recall_frame with
    stride=KNN_QUERY_STRIDE, k=KNN_K (the tools/ann_twin_bench.py record
    in BENCH_NOTES carries the wall-clock and recall at each tier).

    ``centroids=``: a pre-trained (label, centroid) frame — e.g. a
    persisted IVFIndexView's pinned quantizer — the serving shape where
    training is amortized across queries; ``None`` trains kmeans_fit
    here (the cold-start shape, quantizer cost included).

    ``k_cells=None`` auto-scales with the corpus exactly like the
    blocked-dedup tier (cells targeted at EMBED_DEDUP_CELL_TARGET rows,
    so candidate volume stays ~n·n_probe·512, linear in n); a FIXED cell
    count regrows toward all-pairs as the corpus grows (measured: fixed
    k=10 at 2000 vectors scanned 40% of the corpus per query for 0.72
    recall). ``n_probe=None`` follows the same measured ceil(0.6·√k)
    policy bounded at 6 (dedup.auto_n_probe). With ``centroids=`` the
    auto-k comes from the SUPPLIED quantizer's own cell count (r13
    ADVICE: sizing the probe budget against the corpus-derived k when
    the quantizer has a different one silently mis-probes — the k that
    matters for recall is the one the cells were actually built with);
    the corpus-sized auto-k runs only in the cold-start path and takes n
    from the embeddings' Parquet footers (catalog.table_stats) — no count
    job; a table whose footers cannot be read has no size to plan by and
    fails here instead of guessing.

    ``index=``: a persisted ``IVFIndexView`` or ``IVFPQIndexView``
    (VERDICT r13 item 2) — the fully-amortized serving shape where both
    the quantizer AND the cell assignments are prebuilt: the twin
    answers straight off ``index.query()`` (partition-pruned segment
    scans, the view's own pinned n_probe), so nothing about the corpus
    is retrained or reassigned per call. For a PQ index the exact
    re-rank fetches full vectors via the callable semi-join form —
    only ADC survivors' vectors are read, never the whole corpus.
    Mutually exclusive with ``centroids=``/``k_cells``/``n_probe`` —
    those knobs describe a quantizer this lane already gets from the
    index spec, so accepting them would silently ignore them.
    ``rerank_mult=`` (PQ index only) widens the ADC candidate cut fed
    to the exact re-rank: the recall/latency dial when code resolution
    is coarse relative to the vote margin — at a budget covering every
    probed candidate the lane is exact over the probe set (pytest-pinned
    against brute q_knn at full probes).

    Corpus-coverage contract of the ``index=`` lane — IVF and PQ alike
    (r14 ADVICE): the index is trusted to index THIS ``sf_dir``'s
    embeddings. Neighbor ids returned by a stale or foreign index that
    are absent from ``sf_dir`` drop out of the label inner join below —
    shifting votes, or dropping a query entirely when all its neighbors
    are foreign — rather than failing loudly (the analogous sink-side
    gap REFUSES: streaming/sinks.py's semantic dedup). Per-query
    coverage assertion would cost a second aggregate over the result on
    every serve, so the check stays on the caller; tools/ann_twin_bench
    builds its indexes from the tier it scores, and the soak tests pin
    index↔corpus pairing."""
    from machinelearningalgomapreduce_spark.operators.dedup import (
        EMBED_DEDUP_CELL_TARGET,
        auto_n_probe,
    )
    from machinelearningalgomapreduce_spark.operators.similarity import (
        ivf_ann,
        learned_ivf_ann,
    )

    t = load_tables(spark, sf_dir)
    if index is not None:
        if centroids is not None or k_cells is not None or n_probe is not None:
            raise ValueError(
                "knn_ann: index= is mutually exclusive with "
                "centroids=/k_cells=/n_probe= — the index spec pins the "
                "quantizer and probe budget"
            )
        queries = t.embeddings.filter(
            F.col("vec_id") % KNN_QUERY_STRIDE == 0
        ).select(F.col("vec_id").alias("query_id"), "embedding")
        if hasattr(index, "codebooks"):  # IVFPQIndexView: two-stage search
            corpus = t.embeddings.select("vec_id", "embedding")
            pq_kwargs = {} if rerank_mult is None else {"rerank_mult": rerank_mult}
            nn = index.query(
                spark,
                queries,
                k=KNN_K,
                exclude_self=True,
                full_vectors=lambda cand_ids: corpus.join(
                    cand_ids, "vec_id", "left_semi"
                ),
                **pq_kwargs,
            )
        else:
            if rerank_mult is not None:
                raise ValueError(
                    "knn_ann: rerank_mult= applies only to a PQ index — "
                    "the full-vector lane has no candidate cut to widen"
                )
            nn = index.query(spark, queries, k=KNN_K, exclude_self=True)
    else:
        if rerank_mult is not None:
            raise ValueError(
                "knn_ann: rerank_mult= applies only to the index= lane"
            )
        if k_cells is None:
            if centroids is not None:
                # the probe budget must be sized against the quantizer
                # actually in play — a k-row count, not a corpus scan
                k_cells = centroids.count()
            else:
                n = int(table_stats(spark, sf_dir)["embeddings"].rows)
                k_cells = max(10, -(-n // EMBED_DEDUP_CELL_TARGET))
        np_ = auto_n_probe(k_cells) if n_probe is None else n_probe
        if centroids is None:
            nn = learned_ivf_ann(
                spark, sf_dir, k=k_cells, n_probe=np_, seed=seed,
                stride=KNN_QUERY_STRIDE, topk=KNN_K,
            )
        else:
            nn = ivf_ann(
                spark, sf_dir, centroids, np_,
                stride=KNN_QUERY_STRIDE, topk=KNN_K,
            )
    labels = t.embeddings.select("vec_id", "label")
    neighbors = nn.join(
        labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    ).join(
        labels.select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
        ),
        "query_id",
    )
    # identical vote plan to q_knn: count per label, min-label tie-break
    vote_w = W.partitionBy("query_id").orderBy(F.desc("n_votes"), "label")
    return (
        neighbors.groupBy("query_id", "query_label", "label")
        .agg(F.count("*").alias("n_votes"))
        .withColumn("vr", F.row_number().over(vote_w))
        .filter(F.col("vr") == 1)
        .select(
            "query_id", "query_label",
            F.col("label").alias("pred_label"), "n_votes",
        )
    )


def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes model over documents (class = source):
    log-priors and Laplace-smoothed per-token log-likelihoods — the
    reference's two counting jobs fused into one aggregation DAG."""
    t = load_tables(spark, sf_dir)
    tok = t.documents.select("source", F.explode(F.split("text", " ")).alias("token"))
    class_tokens = tok.groupBy("source").agg(F.count("*").alias("class_total"))
    token_counts = tok.groupBy("source", "token").agg(F.count("*").alias("n_tok"))
    vocab = tok.agg(F.countDistinct("token").alias("v"))
    n_docs = t.documents.agg(F.count("*").alias("n_docs"))
    priors = (
        t.documents.groupBy("source")
        .agg(F.count("*").alias("n_class_docs"))
        .crossJoin(F.broadcast(n_docs))
        .select("source", F.round(F.log(F.col("n_class_docs") / F.col("n_docs")), 6).alias("log_prior"))
    )
    return (
        token_counts.join(class_tokens, "source")
        .crossJoin(F.broadcast(vocab))
        .join(F.broadcast(priors), "source")
        .select(
            "source",
            "token",
            "n_tok",
            "log_prior",
            F.round(
                F.log((F.col("n_tok") + 1) / (F.col("class_total") + F.col("v")).cast("double")), 6
            ).alias("log_likelihood"),
        )
    )


def q_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form simple linear regression per l_returnflag:
    l_extendedprice ~ l_quantity. Slope/intercept/r² from the five sufficient
    statistics (Σx, Σy, Σxy, Σx², Σy², n) — the exact partial sums the
    reference's mapper would emit; identical formula in the oracle so no
    engine-internal regr_* implementation differences leak in."""
    t = load_tables(spark, sf_dir)
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    stats = t.lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "syy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return stats.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r * r, 6).alias("r2"),
    )


def q_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One logistic-regression gradient step from β = 0 on the embeddings
    (binary target: label ≥ 5). At β=0 the prediction is 0.5 everywhere, so
    grad_d = Σ (0.5 − y)·x_d — one per-dimension aggregate, the reference's
    map(gradient)+reduce(sum) iteration body."""
    t = load_tables(spark, sf_dir)
    y = (F.col("label") >= 5).cast("double")
    per_dim = t.embeddings.select(
        y.alias("y"), F.posexplode("embedding").alias("d0", "x")
    ).select(
        (F.col("d0") + 1).cast("bigint").alias("d"),  # 1-based to match the oracle
        ((F.lit(0.5) - F.col("y")) * F.col("x").cast("double")).alias("g"),
    )
    n = t.embeddings.agg(F.count("*").alias("n"))
    return (
        per_dim.groupBy("d")
        .agg(F.sum("g").alias("grad_sum"))
        .crossJoin(F.broadcast(n))
        .select(
            "d",
            F.round(F.col("grad_sum") / F.col("n"), 6).alias("grad"),
            F.round(-0.1 * F.col("grad_sum") / F.col("n"), 6).alias("beta_new"),
        )
    )


def q_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COO sparse matrix multiply C = A·B — the classic two-job MapReduce
    algorithm as one join + aggregate. A: lineitem quantities bucketed to
    50×20; B: part prices bucketed to 20×10; join on the shared k index,
    group by output cell. Catalyst gives map-side partial sums; the single
    shuffle is on (i, j)."""
    t = load_tables(spark, sf_dir)
    a = (
        t.lineitem.select(
            (F.col("l_orderkey") % 50).alias("i"),
            (F.col("l_partkey") % 20).alias("k"),
            F.col("l_quantity").alias("va"),
        )
        .groupBy("i", "k")
        .agg(F.sum("va").alias("va"))  # integral doubles: exact
    )
    b = (
        t.part.select(
            (F.col("p_partkey") % 20).alias("k"),
            (F.col("p_size") % 10).alias("j"),
            F.col("p_retailprice").alias("vb"),
        )
        .groupBy("k", "j")
        # exact cents (r15, functions/money.py): the B cells sum retail
        # prices (2dp grid) as BIGINT cents; C cells then sum
        # va · vb_cents — all-integer, order-free; /100 at the end is the
        # only float op. Bound: Σ|va·vb_c| ≤ ~5e15 at the 10x tier.
        .agg(F.sum(money.units("vb")).alias("vb_c"))
    )
    return (
        a.join(b, "k")
        .groupBy("i", "j")
        .agg(money.money_sum_2dp(F.col("va").cast("bigint") * F.col("vb_c"), wide=True)
             .alias("c_val"))
    )


TREE_SPLIT_THRESHOLDS = (-0.4, -0.2, 0.0, 0.2, 0.4)


def q_tree_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree split search (PLANET-style: the canonical
    MapReduce-ML tree-induction job): score every (dimension, threshold)
    candidate split of the embeddings for the binary target label ≥ 5 by
    weighted Gini impurity, in ONE aggregation pass.

    Map phase emits (dim, threshold, side, y) per value; the reduce is
    four counts per candidate from which the Gini is closed-form — exact
    integers until the final division (rounded to 6). Emitting ALL scored
    candidates (64 dims × 5 thresholds) keeps the output argmin-free and
    fully deterministic; the best split is the min (gini, d, thr) row.

    Scale: the only shuffle carries candidate keys × 4 counts — O(dims ×
    thresholds), independent of corpus size; Catalyst supplies the
    map-side partial aggregation the PLANET paper hand-builds."""
    t = load_tables(spark, sf_dir)
    y = (F.col("label") >= 5).cast("int")
    per_dim = t.embeddings.select(
        y.alias("y"), F.posexplode("embedding").alias("d0", "x")
    ).select((F.col("d0") + 1).cast("bigint").alias("d"), "x", "y")
    thr = F.explode(F.array(*[F.lit(v) for v in TREE_SPLIT_THRESHOLDS])).alias("thr")
    scored = per_dim.select("d", "x", "y", thr)
    left = (F.col("x").cast("double") <= F.col("thr")).cast("int")
    counts = scored.groupBy("d", "thr").agg(
        F.sum(left).alias("n_l"),
        F.sum(left * F.col("y")).alias("n_l1"),
        F.sum(1 - left).alias("n_r"),
        F.sum((1 - left) * F.col("y")).alias("n_r1"),
    )
    nl, nl1, nr, nr1 = (F.col(c).cast("double") for c in ("n_l", "n_l1", "n_r", "n_r1"))
    gini_l = 1 - (nl1 / nl) * (nl1 / nl) - ((nl - nl1) / nl) * ((nl - nl1) / nl)
    gini_r = 1 - (nr1 / nr) * (nr1 / nr) - ((nr - nr1) / nr) * ((nr - nr1) / nr)
    # An empty side contributes 0 weight — guarded explicitly (0/0 is NaN
    # under IEEE and coalesce does not catch NaN), same CASE in the oracle.
    weighted = (
        F.when(nl > 0, nl * gini_l).otherwise(0.0)
        + F.when(nr > 0, nr * gini_r).otherwise(0.0)
    ) / (nl + nr)
    return counts.select(
        "d",
        "thr",
        "n_l",
        "n_r",
        F.round(weighted, 6).alias("gini"),
    )


CANOPY_STRIDE = 25
CANOPY_T1 = 2.0


def q_canopy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canopy clustering pre-pass: seeded centers (every 25th vector),
    every point joins all canopies within the loose threshold T1 (squared
    L2). The cheap overlapping partitioning that prefilters expensive
    clustering — centers broadcast, no fact shuffle."""
    t = load_tables(spark, sf_dir)
    centers = t.embeddings.filter(F.col("vec_id") % CANOPY_STRIDE == 0).select(
        F.col("vec_id").alias("canopy_id"), F.col("embedding").alias("cv")
    )
    dist2 = F.round(sq_dist(F.col("embedding"), F.col("cv"), EMBEDDING_DIM), 6)
    # fan_out + pushdown barrier (r15 — the q_dedup_embedding pair of fixes):
    # the point side must not inherit the 1-partition single-file scan, and
    # the T1 filter must stay OUT of the nested-loop join condition (where
    # the 64-dim distance fold would evaluate interpreted per pair); the
    # when()-wrapped nondeterministic guard is identically true, so the
    # admitted (vec_id, canopy_id, dist2) set is unchanged.
    return (
        fan_out(t.embeddings).crossJoin(F.broadcast(centers))
        .select("vec_id", "canopy_id", dist2.alias("dist2"))
        .filter(
            F.when(F.spark_partition_id() >= 0, F.col("dist2")).otherwise(F.lit(None))
            <= CANOPY_T1
        )
    )


def kmeans_iterate(spark: SparkSession, sf_dir: str, n_iter: int = 5) -> DataFrame:
    """Multi-iteration pure-DataFrame k-means driver loop (library API).

    Per iteration: broadcast centroids → assign → recompute. The
    embeddings are materialized once (loop-invariant); centroids are the
    only state crossing iterations and stay O(k·d). Materializing them
    every second iteration truncates the growing plan lineage — the Spark replacement
    for the reference's job-per-iteration HDFS round-trip (SURVEY.md §3.2).
    """
    t = load_tables(spark, sf_dir)
    data = materialize_once(t.embeddings.select("vec_id", "embedding"))
    cents = label_centroids(t.embeddings)
    for i in range(n_iter):
        assigned = assign_nearest(
            data.withColumn("label", F.lit(0)), cents, EMBEDDING_DIM
        ).select("vec_id", "cluster")
        cents = (
            assigned.join(data, "vec_id")
            .select("cluster", F.posexplode("embedding").alias("d", "x"))
            .groupBy("cluster", "d")
            .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("d", "c"))).alias("dc"))
            .select(
                F.col("cluster").alias("label"),
                F.transform("dc", lambda s: s["c"]).alias("centroid"),
            )
        )
        if (i + 1) % 2 == 0:
            cents = materialize_once(cents)
    return cents


def kmeans_pp_init(spark: SparkSession, sf_dir: str, k: int = 10) -> list[int]:
    """Deterministic k-means++-style seeding (farthest-first traversal,
    library API): start from the minimum vec_id, then k−1 times pick the
    point FARTHEST from its nearest chosen center (rounded distance,
    min-id tie-break). The deterministic sibling of kmeans++'s D² sampling
    — same coverage guarantee flavor (2-approximation for k-center),
    reproducible across runs/partitionings, so the downstream
    kmeans_iterate loop is fully deterministic end-to-end.

    Returns the chosen seed vec_ids in selection order.

    Scale shape: per round ONE broadcast-literal distance update and one
    TakeOrdered(1) argmax over (mind desc, vec_id) — the running min-dist
    column is the only state, updated incrementally (never recomputed
    against all chosen centers). Driver holds O(k·d) floats. The growing
    column-update lineage is truncated by materializing it every 4 rounds.
    """
    t = load_tables(spark, sf_dir)
    data = t.embeddings.select("vec_id", "embedding")
    first = data.orderBy("vec_id").limit(1).collect()[0]
    chosen = [first.vec_id]
    center_vec = [float(x) for x in first.embedding]
    state = data.withColumn("mind", F.lit(float("inf")))
    for i in range(1, k):
        lit_center = F.array(*[F.lit(x) for x in center_vec])
        d2 = F.round(sq_dist(F.col("embedding"), lit_center, EMBEDDING_DIM), 6)
        state = state.withColumn("mind", F.least(F.col("mind"), d2))
        if i % 4 == 0:
            state = materialize_once(state)
        nxt = state.orderBy(F.desc("mind"), "vec_id").limit(1).collect()[0]
        chosen.append(nxt.vec_id)
        center_vec = [float(x) for x in nxt.embedding]
    return chosen


def kmeans_parallel_init(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    rounds: int | None = None,
    oversample: int | None = None,
) -> list[int]:
    """Deterministic k-means‖ seeding (Bahmani et al. oversampling — the
    init MLlib itself uses): kmeans_pp_init pays k−1 FULL passes (one
    TakeOrdered(1) per seed), which at 100 TB is k sequential scans; this
    variant runs only O(log k) rounds, each OVERSAMPLING the top-ℓ
    farthest points at once (deterministic stand-in for D² sampling:
    TakeOrdered(ℓ) on (mind desc, vec_id)), then reduces the ~ℓ·log k
    candidates to k on the DRIVER by weighted farthest-first, where the
    weight is each candidate's attraction count (points nearest to it).

    Per round: ONE broadcast join of the ℓ new candidates + a min-dist
    aggregate (the only full-data pass), lineage truncated per round; the
    candidate set and weights are O(k log k) driver-side floats. Rounds
    default to ⌈log2 k⌉, ℓ to 2k — the paper's recommendation.

    Deterministic end-to-end (rounded distances, min-id tie-breaks), so
    it is pytest-comparable against kmeans_pp_init's k-center objective.
    Returns the chosen seed vec_ids in selection order.
    """
    import math

    t = load_tables(spark, sf_dir)
    data = t.embeddings.select("vec_id", "embedding")
    first = data.orderBy("vec_id").limit(1).collect()[0]
    cand: dict[int, list[float]] = {first.vec_id: [float(x) for x in first.embedding]}
    lit_first = F.array(*[F.lit(x) for x in cand[first.vec_id]])
    state = data.withColumn(
        "mind", F.round(sq_dist(F.col("embedding"), lit_first, EMBEDDING_DIM), 6)
    )
    n_rounds = rounds if rounds is not None else max(1, math.ceil(math.log2(k)))
    ell = oversample if oversample is not None else 2 * k
    for _ in range(n_rounds):
        new_rows = [
            r
            for r in state.orderBy(F.desc("mind"), "vec_id").limit(ell).collect()
            if r.vec_id not in cand and r.mind > 0.0
        ]
        if not new_rows:
            break
        for r in new_rows:
            cand[r.vec_id] = [float(x) for x in r.embedding]
        # One broadcast join + min aggregate folds ALL ℓ new candidates
        # into the running min-dist column in a single pass.
        new_df = spark.createDataFrame(
            [(i, v) for i, v in ((r.vec_id, cand[r.vec_id]) for r in new_rows)],
            "cid bigint, cvec array<double>",
        )
        mins = (
            state.select("vec_id", "embedding")
            .crossJoin(F.broadcast(new_df))
            .select(
                "vec_id",
                F.round(sq_dist(F.col("embedding"), F.col("cvec"), EMBEDDING_DIM), 6).alias("d2"),
            )
            .groupBy("vec_id")
            .agg(F.min("d2").alias("new_mind"))
        )
        state = materialize_once(
            state.join(mins, "vec_id")
            .withColumn("mind", F.least(F.col("mind"), F.col("new_mind")))
            .drop("new_mind")
        )
    # Attraction weights: points per nearest candidate (one assign pass).
    cand_df = spark.createDataFrame(
        sorted(cand.items()), "label bigint, centroid array<double>"
    )
    weights = {
        r.cluster: r.cnt
        for r in assign_nearest(t.embeddings, cand_df, EMBEDDING_DIM)
        .groupBy("cluster")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    # Driver-side weighted farthest-first down to k over the O(k log k)
    # candidate set: start at the heaviest candidate (min-id tie-break),
    # then repeatedly take argmax weight·D²(nearest chosen) — the
    # deterministic sibling of the paper's weighted k-means++ recluster.
    ids = sorted(cand)
    start = min(ids, key=lambda i: (-weights.get(i, 0), i))
    chosen = [start]
    mind = {
        i: sum((a - b) ** 2 for a, b in zip(cand[i], cand[start])) for i in ids
    }
    while len(chosen) < min(k, len(ids)):
        nxt = min(
            (i for i in ids if i not in chosen),
            key=lambda i: (-weights.get(i, 0) * mind[i], i),
        )
        chosen.append(nxt)
        for i in ids:
            d = sum((a - b) ** 2 for a, b in zip(cand[i], cand[nxt]))
            mind[i] = min(mind[i], d)
    return chosen


# ------------------------------------------------------- MLlib-backed fits
# Library API only (pytest-verified): sketch/optimizer internals are not
# cross-engine hashable, so these stay out of the driver contract.

def kmeans_fit(spark: SparkSession, sf_dir: str, k: int = 10, seed: int = 42):
    """Full k-means fit via MLlib on the embeddings. Returns (model, cost)."""
    return kmeans_fit_frame(load_tables(spark, sf_dir).embeddings, k=k, seed=seed)


def kmeans_fit_frame(embeddings: DataFrame, k: int = 10, seed: int = 42):
    """Frame-parameterized k-means fit (the table-bound form above binds
    sf_dir): callers training a quantizer on a RESTRICTED corpus — e.g.
    the pipeline's semantic-dedup stage over curation survivors — pass
    their (vec_id, embedding) frame directly. Returns (model, cost)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    data = embeddings.select(
        "vec_id", array_to_vector(as_double(F.col("embedding"))).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=20).fit(data)
    return model, model.summary.trainingCost


def naive_bayes_fit(spark: SparkSession, sf_dir: str):
    """MLlib NaiveBayes variant over hashed token counts (class = lang).
    The pure-DF q_naive_bayes is the oracle-checked form."""
    from pyspark.ml.classification import NaiveBayes
    from pyspark.ml.feature import HashingTF, StringIndexer

    t = load_tables(spark, sf_dir)
    toks = t.documents.select("lang", F.split("text", " ").alias("tokens"))
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=1 << 8).transform(toks)
    indexed = StringIndexer(inputCol="lang", outputCol="label").fit(tf).transform(tf)
    return NaiveBayes(smoothing=1.0).fit(indexed)


def linreg_fit(spark: SparkSession, sf_dir: str, max_iter: int = 20):
    """MLlib LinearRegression on the embeddings (target: first dimension
    from the rest) — the general multi-feature path; q_linreg's closed form
    is the oracle-checked 1-feature case."""
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.regression import LinearRegression

    t = load_tables(spark, sf_dir)
    data = t.embeddings.select(
        array_to_vector(F.slice(as_double(F.col("embedding")), 2, EMBEDDING_DIM - 1)).alias(
            "features"
        ),
        F.col("embedding")[0].cast("double").alias("label"),
    )
    return LinearRegression(maxIter=max_iter, regParam=0.01).fit(data)


def als_fit(spark: SparkSession, sf_dir: str, rank: int = 8, seed: int = 42):
    """MLlib ALS collaborative filtering on the (customer, part, quantity)
    purchase matrix (library API, pytest-checked) — the canonical
    distributed recommender: factor matrices are O((users+items) × rank),
    ratings never leave the cluster."""
    from pyspark.ml.recommendation import ALS

    t = load_tables(spark, sf_dir)
    ratings = (
        t.orders.join(t.lineitem, t.orders.o_orderkey == t.lineitem.l_orderkey)
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.sum("l_quantity").cast("float").alias("rating"))
    )
    model = ALS(
        rank=rank, maxIter=5, seed=seed, userCol="user", itemCol="item",
        ratingCol="rating", coldStartStrategy="drop",
    ).fit(ratings)
    return model


def random_forest_fit(spark: SparkSession, sf_dir: str, n_trees: int = 10, seed: int = 42):
    """MLlib RandomForest classifier on the embeddings (target: label ≥ 5)
    — the ensemble big sibling of q_tree_split's single-split search
    (library API, pytest-checked)."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.functions import array_to_vector

    t = load_tables(spark, sf_dir)
    data = t.embeddings.select(
        array_to_vector(as_double(F.col("embedding"))).alias("features"),
        (F.col("label") >= 5).cast("double").alias("label"),
    )
    model = RandomForestClassifier(
        numTrees=n_trees, maxDepth=4, seed=seed
    ).fit(data)
    return model, model.transform(data)


def lda_fit(spark: SparkSession, sf_dir: str, k: int = 5, seed: int = 42):
    """MLlib online-variational LDA over the documents (library API,
    pytest-checked): CountVectorizer term counts → k topics; returns
    (model, topics) where topics lists each topic's top terms. The
    flagship Mahout-era MapReduce algorithm — Spark's online VB runs one
    mini-batch aggregate per iteration, model state O(vocab × k)."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import CountVectorizer

    t = load_tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", F.split("text", " ").alias("tokens")
    )
    cv = CountVectorizer(
        inputCol="tokens", outputCol="features", vocabSize=2048, minDF=2.0
    ).fit(toks)
    data = cv.transform(toks)
    model = LDA(k=k, seed=seed, maxIter=10).fit(data)
    topics = model.describeTopics(5)
    return model, topics


def svd_fit(spark: SparkSession, sf_dir: str, k: int = 8):
    """Truncated SVD of the embedding matrix via RowMatrix.computeSVD
    (library API, pytest-checked): returns (s, V) with the k leading
    singular values (non-increasing) and right singular vectors. The
    one deliberate RDD touchpoint in the repo — computeSVD only exists
    on mllib's RowMatrix; the 100 TB shape is the same Gram-aggregate +
    driver-side eigensolve as PCA."""
    from pyspark.mllib.linalg import Vectors as OldVectors
    from pyspark.mllib.linalg.distributed import RowMatrix

    t = load_tables(spark, sf_dir)
    rows = t.embeddings.select(as_double(F.col("embedding")).alias("e")).rdd.map(
        lambda r: OldVectors.dense(r.e)
    )
    svd = RowMatrix(rows).computeSVD(k, computeU=False)
    return svd.s, svd.V


def decision_tree_fit(spark: SparkSession, sf_dir: str, max_depth: int = 4, seed: int = 42):
    """MLlib single decision tree on the embeddings (target: label ≥ 5) —
    the full recursive version of q_tree_split's one-level Gini scan
    (library API, pytest-checked). The 100 TB shape is PLANET's: one
    histogram aggregate per (node, feature) per level, which is exactly
    what MLlib's tree learner executes."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.functions import array_to_vector

    t = load_tables(spark, sf_dir)
    data = t.embeddings.select(
        array_to_vector(as_double(F.col("embedding"))).alias("features"),
        (F.col("label") >= 5).cast("double").alias("label"),
    )
    model = DecisionTreeClassifier(maxDepth=max_depth, seed=seed).fit(data)
    return model, model.transform(data)


def prefixspan_fit(spark: SparkSession, sf_dir: str, min_support: float = 0.05):
    """MLlib PrefixSpan over per-user event-type sequences (library API,
    pytest-checked): sessions become ordered single-item itemset
    sequences; returns frequent sequential patterns with support counts —
    the sequence-mining sibling of q_session_paths / fpgrowth_fit.
    Sequence assembly is one per-user sort-aggregate; mining state is
    bounded by the pattern lattice, not the event count."""
    from pyspark.ml.fpm import PrefixSpan

    t = load_tables(spark, sf_dir)
    seqs = (
        t.events.groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: F.array(s.getField("event_type")),
            ).alias("sequence")
        )
        .select("sequence")
    )
    ps = PrefixSpan(minSupport=min_support, maxPatternLength=4)
    return ps.findFrequentSequentialPatterns(seqs)


def gbt_fit(spark: SparkSession, sf_dir: str, n_iter: int = 10, seed: int = 42):
    """MLlib gradient-boosted trees on the embeddings (target: label ≥ 5)
    — the sequential-ensemble sibling of random_forest_fit (library API,
    pytest-checked). Each boosting round is one PLANET-style distributed
    split search (cf. q_tree_split); model state stays O(trees × nodes)."""
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.functions import array_to_vector

    t = load_tables(spark, sf_dir)
    data = t.embeddings.select(
        array_to_vector(as_double(F.col("embedding"))).alias("features"),
        (F.col("label") >= 5).cast("double").alias("label"),
    )
    model = GBTClassifier(maxIter=n_iter, maxDepth=3, seed=seed).fit(data)
    return model, model.transform(data)


def bisecting_kmeans_fit(spark: SparkSession, sf_dir: str, k: int = 10, seed: int = 42):
    """MLlib bisecting k-means — the divisive hierarchical-clustering
    path (library API, pytest-checked): O(log k) recursive splits, each a
    standard assign/recompute round, so it inherits the broadcast-model
    shape of kmeans_iterate."""
    from pyspark.ml.clustering import BisectingKMeans
    from pyspark.ml.functions import array_to_vector

    t = load_tables(spark, sf_dir)
    data = t.embeddings.select(
        "vec_id", array_to_vector(as_double(F.col("embedding"))).alias("features")
    )
    model = BisectingKMeans(k=k, seed=seed).fit(data)
    return model, model.transform(data)


def gmm_fit(spark: SparkSession, sf_dir: str, k: int = 5, seed: int = 42):
    """MLlib Gaussian mixture — soft-assignment clustering via distributed
    EM (library API, pytest-checked): each E step is a broadcast-model
    scoring pass, each M step a weighted-moment aggregate — the same
    map/reduce shape as kmeans but with responsibilities."""
    from pyspark.ml.clustering import GaussianMixture
    from pyspark.ml.functions import array_to_vector

    t = load_tables(spark, sf_dir)
    data = t.embeddings.select(
        "vec_id", array_to_vector(as_double(F.col("embedding"))).alias("features")
    )
    model = GaussianMixture(k=k, seed=seed, maxIter=20).fit(data)
    return model, model.transform(data)


def pca_fit(spark: SparkSession, sf_dir: str, k: int = 8):
    """MLlib PCA over the embeddings (library API, pytest-checked):
    returns (model, transformed) with k principal components; explained
    variance must be non-increasing. The 100 TB shape is a single
    covariance/Gram aggregation + driver-side eigendecomposition of the
    d×d matrix — Spark's PCA does exactly that (d = 64 here)."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    t = load_tables(spark, sf_dir)
    data = t.embeddings.select(
        "vec_id", array_to_vector(as_double(F.col("embedding"))).alias("features")
    )
    model = PCA(k=k, inputCol="features", outputCol="pca").fit(data)
    return model, model.transform(data)


def word2vec_fit(spark: SparkSession, sf_dir: str, dim: int = 16, seed: int = 42):
    """MLlib Word2Vec over the tokenized documents (library API,
    pytest-checked): token embeddings + synonym lookup. Model state is
    O(vocab × dim) on the driver — the corpus is never collected."""
    from pyspark.ml.feature import Word2Vec

    t = load_tables(spark, sf_dir)
    toks = t.documents.select(F.split("text", " ").alias("tokens"))
    model = Word2Vec(
        vectorSize=dim, minCount=2, seed=seed, inputCol="tokens", outputCol="w2v",
        maxIter=2,
    ).fit(toks)
    return model


def logreg_fit(spark: SparkSession, sf_dir: str, max_iter: int = 10):
    """Binary logistic regression fit via MLlib (target: label ≥ 5)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    t = load_tables(spark, sf_dir)
    data = t.embeddings.select(
        array_to_vector(as_double(F.col("embedding"))).alias("features"),
        (F.col("label") >= 5).cast("double").alias("label"),
    )
    return LogisticRegression(maxIter=max_iter, regParam=0.01).fit(data)


SVM_W0 = 0.5  # uniform initial weight per dimension (margin-splitting; see note)
SVM_LR = 0.1
SVM_REG = 0.01


def q_svm_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One linear-SVM subgradient step (hinge loss + L2) from the uniform
    model w_d = 0.5: rows with margin y·(w·x) < 1 contribute −y·x to the
    gradient; grad_d = λ·w_d − (1/n)·Σ_violators y·x_d. The per-iteration
    map(subgradient)+reduce(sum) body of Pegasos-style SVM training.

    w0 = 0.5 is chosen so the margin test actually SPLITS the fixture
    (embedding coordinate sums span ±3.4): both branches of the hinge are
    exercised. The uniform model makes w·x a sequential array fold —
    bit-identical to the oracle's list_sum (functions/vectors.py) — and
    the margin is rounded to 6 before the violator decision so the split
    never depends on summation order (SURVEY §5.2.3).

    Scale shape: one scan with a per-row fold, one per-dimension aggregate
    over violators (explode → 64·n rows with map-side partials), two 1-row
    broadcast counts. Model state is O(d) — never collected."""
    t = load_tables(spark, sf_dir)
    y = F.when(F.col("label") >= 5, F.lit(1.0)).otherwise(F.lit(-1.0))
    wx = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda acc, x: acc + SVM_W0 * x.cast("double")
    )
    base = t.embeddings.select("embedding", y.alias("y"), F.round(y * wx, 6).alias("margin"))
    viol = base.filter(F.col("margin") < 1.0)
    n_total = t.embeddings.agg(F.count("*").alias("n_total"))
    n_viol = viol.agg(F.count("*").alias("n_violators"))
    per_dim = viol.select("y", F.posexplode("embedding").alias("d0", "x")).select(
        (F.col("d0") + 1).cast("bigint").alias("d"),
        (F.col("y") * F.col("x").cast("double")).alias("gx"),
    )
    grad = F.round(F.lit(SVM_REG * SVM_W0) - F.col("hinge_sum") / F.col("n_total"), 6)
    return (
        per_dim.groupBy("d")
        .agg(F.sum("gx").alias("hinge_sum"))
        .crossJoin(F.broadcast(n_total))
        .crossJoin(F.broadcast(n_viol))
        .select(
            "d",
            "n_violators",
            grad.alias("grad"),
            F.round(F.lit(SVM_W0) - SVM_LR * grad, 6).alias("w_new"),
        )
    )


def isotonic_fit(spark: SparkSession, sf_dir: str):
    """MLlib IsotonicRegression (distributed pool-adjacent-violators) as a
    score-calibration map (library API, pytest-checked): the same
    (score, label) pairs classifier.py's evaluation family scores are fit
    to a monotone non-decreasing calibration function — the standard
    isotonic calibration step between a ranker and a probability consumer.
    Returns (model, calibrated) where calibrated carries (score, label,
    prediction); predictions are asserted monotone in score and bounded
    by the label range."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression

    t = load_tables(spark, sf_dir)
    scored = t.embeddings.select(
        (F.col("embedding")[0].cast("double") + F.col("label").cast("double") * 0.05)
        .alias("score"),
        (F.col("label") % 2).cast("double").alias("y"),
    )
    data = VectorAssembler(inputCols=["score"], outputCol="features").transform(scored)
    model = IsotonicRegression(featuresCol="features", labelCol="y").fit(data)
    calibrated = model.transform(data).select("score", "y", "prediction")
    return model, calibrated


QUERIES = {
    "q_kmeans_assign": q_kmeans_assign,
    "q_kmeans_recompute": q_kmeans_recompute,
    "q_knn": q_knn,
    "q_naive_bayes": q_naive_bayes,
    "q_linreg": q_linreg,
    "q_logreg_step": q_logreg_step,
    "q_matmul": q_matmul,
    "q_canopy": q_canopy,
    "q_tree_split": q_tree_split,
    "q_svm_step": q_svm_step,
}

_DIMS = f"range(1, {EMBEDDING_DIM + 1})"

# Shared oracle CTE: label-seeded centroids as ordered lists, then nearest-
# centroid assignment with the same rounded-distance + id tie-break.
_ASSIGN_CTES = f"""
        cent_dims AS (
            SELECT label, d, round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS c
            FROM embeddings, (SELECT unnest({_DIMS}) AS d)
            GROUP BY label, d
        ), cent AS (
            SELECT label AS cluster, list(c ORDER BY d) AS centroid
            FROM cent_dims GROUP BY label
        ), scored AS (
            SELECT e.vec_id, e.label, c.cluster,
                   round(list_sum(list_transform({_DIMS},
                       i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
                          * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))), 6) AS dist2
            FROM embeddings e CROSS JOIN cent c
        ), assigned AS (
            SELECT vec_id, label, cluster, dist2
            FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                               ORDER BY dist2, cluster) AS rn
                  FROM scored)
            WHERE rn = 1
        )"""

_COS = """round(
    list_sum(list_transform({dims}, i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform({dims}, i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
     * sqrt(list_sum(list_transform({dims}, i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))),
    6)""".format(dims=_DIMS)

_THR_SQL = ", ".join(str(v) for v in TREE_SPLIT_THRESHOLDS)

ORACLES = {
    "q_tree_split": f"""
        WITH per AS (
            SELECT d.d, CAST(e.embedding[d.d] AS DOUBLE) AS x,
                   CAST(e.label >= 5 AS INTEGER) AS y
            FROM embeddings e, (SELECT unnest({_DIMS}) AS d) d
        ), counts AS (
            SELECT per.d, t.thr,
                   CAST(sum(CASE WHEN x <= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_l,
                   CAST(sum(CASE WHEN x <= thr THEN y ELSE 0 END) AS BIGINT) AS n_l1,
                   CAST(sum(CASE WHEN x > thr THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
                   CAST(sum(CASE WHEN x > thr THEN y ELSE 0 END) AS BIGINT) AS n_r1
            FROM per, (SELECT CAST(unnest([{_THR_SQL}]) AS DOUBLE) AS thr) t
            GROUP BY per.d, t.thr
        )
        SELECT d, thr, n_l, n_r,
               round((
                 CASE WHEN n_l > 0 THEN n_l * (
                      1 - (CAST(n_l1 AS DOUBLE) / n_l) * (CAST(n_l1 AS DOUBLE) / n_l)
                        - (CAST(n_l - n_l1 AS DOUBLE) / n_l) * (CAST(n_l - n_l1 AS DOUBLE) / n_l))
                      ELSE 0.0 END
                 + CASE WHEN n_r > 0 THEN n_r * (
                      1 - (CAST(n_r1 AS DOUBLE) / n_r) * (CAST(n_r1 AS DOUBLE) / n_r)
                        - (CAST(n_r - n_r1 AS DOUBLE) / n_r) * (CAST(n_r - n_r1 AS DOUBLE) / n_r))
                      ELSE 0.0 END
               ) / (n_l + n_r), 6) AS gini
        FROM counts
    """,
    "q_kmeans_assign": f"""
        WITH {_ASSIGN_CTES}
        SELECT vec_id, label, cluster, dist2 FROM assigned
    """,
    "q_kmeans_recompute": f"""
        WITH {_ASSIGN_CTES}
        SELECT a.cluster, d.d,
               round(avg(CAST(e.embedding[d.d] AS DOUBLE)), 6) AS c,
               count(*) AS n
        FROM assigned a
        JOIN embeddings e ON e.vec_id = a.vec_id
        CROSS JOIN (SELECT unnest({_DIMS}) AS d) d
        GROUP BY a.cluster, d.d
    """,
    "q_knn": f"""
        WITH q AS (
            SELECT vec_id AS query_id, label AS query_label, embedding AS qv
            FROM embeddings WHERE vec_id % {KNN_QUERY_STRIDE} = 0
        ), scored AS (
            SELECT q.query_id, q.query_label, e.vec_id, e.label,
                   {_COS} AS cos_sim
            FROM q JOIN embeddings e ON q.query_id <> e.vec_id
        ), topk AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY cos_sim DESC, vec_id) AS rn
                FROM scored)
            WHERE rn <= {KNN_K}
        ), votes AS (
            SELECT query_id, query_label, label, count(*) AS n_votes
            FROM topk GROUP BY query_id, query_label, label
        )
        SELECT query_id, query_label, label AS pred_label, n_votes
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY n_votes DESC, label) AS vr
              FROM votes)
        WHERE vr = 1
    """,
    "q_naive_bayes": """
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
        ), class_tokens AS (
            SELECT source, count(*) AS class_total FROM tok GROUP BY source
        ), token_counts AS (
            SELECT source, token, count(*) AS n_tok FROM tok GROUP BY source, token
        ), priors AS (
            SELECT source,
                   round(ln(CAST(count(*) AS DOUBLE)
                            / (SELECT count(*) FROM documents)), 6) AS log_prior
            FROM documents GROUP BY source
        )
        SELECT tc.source, tc.token, tc.n_tok, p.log_prior,
               round(ln((tc.n_tok + 1)
                        / CAST(ct.class_total + (SELECT count(DISTINCT token) FROM tok)
                               AS DOUBLE)), 6) AS log_likelihood
        FROM token_counts tc
        JOIN class_tokens ct USING (source)
        JOIN priors p ON p.source = tc.source
    """,
    "q_linreg": """
        WITH stats AS (
            SELECT l_returnflag,
                   count(*) AS n,
                   sum(l_quantity) AS sx,
                   sum(l_extendedprice) AS sy,
                   sum(l_quantity * l_extendedprice) AS sxy,
                   sum(l_quantity * l_quantity) AS sxx,
                   sum(l_extendedprice * l_extendedprice) AS syy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
               round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept,
               round(((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
                     * ((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))),
                     6) AS r2
        FROM stats
    """,
    "q_logreg_step": f"""
        WITH per_dim AS (
            SELECT d.d,
                   sum((0.5 - CAST(label >= 5 AS DOUBLE)) * CAST(embedding[d.d] AS DOUBLE))
                       AS grad_sum
            FROM embeddings, (SELECT unnest({_DIMS}) AS d) d
            GROUP BY d.d
        )
        SELECT d,
               round(grad_sum / (SELECT count(*) FROM embeddings), 6) AS grad,
               round(-0.1 * grad_sum / (SELECT count(*) FROM embeddings), 6) AS beta_new
        FROM per_dim
    """,
    "q_svm_step": f"""
        WITH base AS (
            SELECT CASE WHEN label >= 5 THEN 1.0 ELSE -1.0 END AS y,
                   embedding,
                   round((CASE WHEN label >= 5 THEN 1.0 ELSE -1.0 END)
                         * list_sum(list_transform(embedding,
                                                   x -> {SVM_W0} * CAST(x AS DOUBLE))), 6)
                       AS margin
            FROM embeddings
        ), viol AS (
            SELECT * FROM base WHERE margin < 1.0
        ), n AS (
            SELECT count(*) AS n_total FROM embeddings
        ), nv AS (
            SELECT count(*) AS n_violators FROM viol
        ), per_dim AS (
            SELECT d.d, sum(y * CAST(embedding[d.d] AS DOUBLE)) AS hinge_sum
            FROM viol, (SELECT unnest({_DIMS}) AS d) d
            GROUP BY d.d
        )
        SELECT d, nv.n_violators,
               round({SVM_REG} * {SVM_W0} - hinge_sum / n.n_total, 6) AS grad,
               round({SVM_W0} - {SVM_LR}
                     * round({SVM_REG} * {SVM_W0} - hinge_sum / n.n_total, 6), 6) AS w_new
        FROM per_dim, n, nv
    """,
    "q_canopy": f"""
        WITH centers AS (
            SELECT vec_id AS canopy_id, embedding AS cv
            FROM embeddings WHERE vec_id % {CANOPY_STRIDE} = 0
        )
        SELECT e.vec_id, c.canopy_id,
               round(list_sum(list_transform({_DIMS},
                   i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                      * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)))), 6)
                   AS dist2
        FROM embeddings e CROSS JOIN centers c
        WHERE round(list_sum(list_transform({_DIMS},
                   i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                      * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)))), 6)
              <= {CANOPY_T1}
    """,
    "q_matmul": f"""
        WITH a AS (
            SELECT l_orderkey % 50 AS i, l_partkey % 20 AS k,
                   CAST(sum(l_quantity) AS BIGINT) AS va
            FROM lineitem GROUP BY 1, 2
        ), b AS (
            SELECT p_partkey % 20 AS k, p_size % 10 AS j,
                   sum({money.sql_units("p_retailprice")}) AS vb_c
            FROM part GROUP BY 1, 2
        )
        SELECT a.i, b.j,
               {money.sql_money_sum_2dp("(a.va * b.vb_c)")} AS c_val
        FROM a JOIN b USING (k)
        GROUP BY a.i, b.j
    """,
}
