"""Classic ML-algorithm kernels round 2 (SURVEY.md §2C, round-5 additions).

The reference repo class ("ML algorithms on Hadoop MapReduce") is a zoo of
one-job-per-algorithm kernels: perceptron/boosting updates, closed-form
regressions, link-analysis iterations (HITS, power iteration), density
clustering (DBSCAN), item-item collaborative filtering, rank statistics and
EM steps. This module re-expresses each as ONE declarative Catalyst plan —
partial aggregation replaces Combiners, broadcast joins replace
DistributedCache model shipping — and every query is SQL-expressible so the
DuckDB oracle hash-checks it bit-for-bit.

Determinism policy (SURVEY.md §5.2.3): anything summed in shuffle order is
either an exact integer/decimal aggregate or a per-term `round(x, 6)` cast
to DECIMAL before the sum; double expressions are written with identical
shape in both engines so IEEE evaluation matches bit-for-bit.

Scale notes (100 TB posture):
- Model state is O(d), O(k) or O(#thresholds) everywhere — always the
  broadcast/1-row side; the fact table is never collected.
- DBSCAN neighbour counting is grid-cell blocked (cell = eps): candidates
  are generated per 3×3 cell neighbourhood, never all-pairs — the standard
  distributed spatial-join. The oracle brute-forces the same predicate at
  fixture scale.
- Item-item CF and the link-analysis steps shuffle key-aggregated edge
  tuples only (part ids + counts), never raw lineitem rows downstream of
  the first distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from machinelearningalgomapreduce_spark.functions.storage import materialize_once
from machinelearningalgomapreduce_spark.operators.graph import (
    _REPEAT_EDGE_CTES,
    _repeat_copurchase_edges,
)
from machinelearningalgomapreduce_spark.sources.catalog import load_tables
from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM

_DIMS = f"range(1, {EMBEDDING_DIM + 1})"

PERC_W0 = 0.5  # uniform initial weight (same margin-splitting choice as SVM_W0)
PERC_LR = 0.1
ADA_THR = 0.0  # decision-stump threshold on embedding dim 1
RIDGE_LAMBDA = 10.0
DBSCAN_EPS = 0.03
DBSCAN_MINPTS = 8
CF_MIN_CO = 2  # co-occurrence support floor (same role as REPEAT_MIN_ORDERS)
CF_TOPK = 3
BASELINE_DAMP = 5.0  # damped-mean regularizer (Koren's baseline predictor)
GBT_THRESHOLDS = (5000.0, 15000.0, 30000.0, 50000.0, 75000.0)
EM_MU1, EM_MU2, EM_SIGMA, EM_PI2 = 10.0, 40.0, 15.0, 0.5


# ---------------------------------------------------------------------------
# linear-model steps


def q_perceptron_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One batch perceptron update from the uniform model w_d = 0.5:
    rows with y·(w·x) ≤ 0 are misclassified and contribute +y·x to the
    update; w' = w + η·Σ_mis y·x. The map(classify)+reduce(sum) body of
    distributed perceptron training (parameter-mixing variant).

    w·x is a sequential array fold (bit-identical to the oracle's
    list_sum form) rounded to 6 before the misclassification test, and
    the per-dimension update terms are rounded to 6 and summed as DECIMAL
    so the result never depends on shuffle order.

    Scale shape: one scan with a per-row fold, one per-dimension exact
    aggregate over the misclassified rows (explode → 64·n rows with
    map-side partials), one 1-row broadcast count. Model state is O(d)."""
    t = load_tables(spark, sf_dir)
    y = F.when(F.col("label") >= 5, F.lit(1.0)).otherwise(F.lit(-1.0))
    wx = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda acc, x: acc + PERC_W0 * x.cast("double")
    )
    base = t.embeddings.select(
        "embedding", y.alias("y"), F.round(y * wx, 6).alias("margin")
    )
    mis = base.filter(F.col("margin") <= 0.0)
    n_mis = mis.agg(F.count("*").alias("n_mis"))
    term = F.round(F.col("y") * F.col("x").cast("double"), 6).cast("decimal(18,6)")
    per_dim = mis.select("y", F.posexplode("embedding").alias("d0", "x")).select(
        (F.col("d0") + 1).cast("bigint").alias("d"), term.alias("gx")
    )
    upd = F.col("upd_sum").cast("double")
    return (
        per_dim.groupBy("d")
        .agg(F.sum("gx").alias("upd_sum"))
        .crossJoin(F.broadcast(n_mis))
        .select(
            "d",
            "n_mis",
            F.round(F.lit(PERC_LR) * upd, 6).alias("delta"),
            F.round(F.lit(PERC_W0) + F.round(F.lit(PERC_LR) * upd, 6), 6).alias("w_new"),
        )
    )


def q_adaboost_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One AdaBoost round against the stump h(x) = sign(THR − x₁) with
    uniform initial weights: weighted error ε, learner weight
    α = ½·ln((1−ε)/ε), and the new normalized per-row weight for the
    correct and incorrect cohorts (uniform start ⇒ weights depend only on
    correctness, so the whole round is two aggregate rows).

    Everything derives from exact integer counts; α is rounded to 6
    before the exp() reweighting so both engines evaluate identical
    doubles.

    Scale shape: one scan, one 2-group aggregate — O(1) model state. The
    general (non-uniform-weight) round is the same plan with a weight
    column carried per row."""
    t = load_tables(spark, sf_dir)
    y = F.when(F.col("label") >= 5, F.lit(1.0)).otherwise(F.lit(-1.0))
    pred = F.when(
        F.col("embedding")[0].cast("double") <= ADA_THR, F.lit(1.0)
    ).otherwise(F.lit(-1.0))
    marked = t.embeddings.select((pred == y).alias("is_correct"))
    cohorts = marked.groupBy("is_correct").agg(F.count("*").alias("n_rows"))
    tot = cohorts.agg(
        F.sum("n_rows").alias("n"),
        F.sum(F.when(~F.col("is_correct"), F.col("n_rows")).otherwise(F.lit(0))).alias(
            "n_wrong"
        ),
    )
    eps = F.col("n_wrong") / F.col("n")
    # ONE alpha expression shape everywhere (reported column, reweight
    # factors, and the oracle): ½·ln((n−wrong)/wrong) on exact integer
    # counts. Mixing it with the algebraically-equal ½·ln((1−ε)/ε) form
    # risks the two rounding to different 6-decimal grids.
    alpha = F.round(
        0.5 * F.log((F.col("n") - F.col("n_wrong")).cast("double") / F.col("n_wrong")),
        6,
    )
    scored = cohorts.crossJoin(F.broadcast(tot)).select(
        "is_correct",
        "n_rows",
        F.round(eps, 6).alias("eps"),
        alpha.alias("alpha"),
        F.when(F.col("is_correct"), F.exp(-alpha)).otherwise(F.exp(alpha)).alias("_f"),
        F.col("n").alias("_n"),
        F.col("n_wrong").alias("_nw"),
    )
    # Z = Σ w_i·f_i with w_i = 1/n: both cohort factors derive from the same
    # exact counts, so Z is written in closed form instead of a second agg.
    f_c = F.exp(-F.round(0.5 * F.log((F.col("_n") - F.col("_nw")).cast("double") / F.col("_nw")), 6))
    f_w = F.exp(F.round(0.5 * F.log((F.col("_n") - F.col("_nw")).cast("double") / F.col("_nw")), 6))
    z = ((F.col("_n") - F.col("_nw")) * f_c + F.col("_nw") * f_w) / F.col("_n")
    return scored.select(
        "is_correct",
        "n_rows",
        "eps",
        "alpha",
        F.round(F.col("_f") / (F.col("_n") * z), 10).alias("w_new"),
    )


def q_ridge_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge regression (one feature + intercept, λ = 10) of
    extended price on quantity, per linestatus: slope = Sxy/(Sxx + λ),
    intercept = ȳ − slope·x̄ on centred moments. The classic "sufficient
    statistics in the mapper, closed form in the reducer" linear-model job
    — q_linreg's OLS twin with an L2 penalty.

    Quantities are integral and prices have 2 decimals, so every moment is
    accumulated as an EXACT integer/DECIMAL aggregate; only the final
    closed form runs in doubles (identical expression both engines).

    Scale shape: one scan, one 3-group aggregate of 5 exact moments —
    O(groups) model state, map-side partials do all the work."""
    t = load_tables(spark, sf_dir)
    qty = F.col("l_quantity").cast("bigint")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    m = t.lineitem.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(qty).alias("sx"),
        F.sum(price).alias("sy"),
        F.sum((qty * price).cast("decimal(28,2)")).alias("sxy"),
        F.sum(qty * qty).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (sxy / n - (sx / n) * (sy / n)) / (sxx / n - (sx / n) * (sx / n) + F.lit(RIDGE_LAMBDA) / n)
    return m.select(
        "l_linestatus",
        "n",
        F.round(slope, 6).alias("slope_ridge"),
        F.round(sy / n - F.round(slope, 6) * (sx / n), 6).alias("intercept"),
    )


def q_gbt_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression-stump scoring for one gradient-boosting round: for each
    candidate threshold on extended price, the left/right leaf means of
    the quantity target and the total within-leaf SSE — the variance
    counterpart of q_tree_split's Gini scan, and the per-round kernel of
    distributed GBT (residual fit degenerates to a mean fit on round 0).

    Sums are exact integers (quantity is integral); SSE = Σy² − (Σy)²/n
    runs in identical doubles both engines. The hashed output carries NO
    round(double) boundary (VERDICT r5 item 1): means and SSE are emitted
    as fixed-point BIGINTs via floor(x·10^k + 0.5) — pure IEEE ops on
    bit-identical doubles, immune to the engines' differing decimal-string
    round() implementations.

    Scale shape: one scan crossed with the broadcast threshold grid, one
    aggregate keyed on threshold — O(#thresholds) state, never a shuffle
    of raw rows beyond the grid fan-out (|grid| × map-side partials)."""
    t = load_tables(spark, sf_dir)
    grid = spark.createDataFrame([(x,) for x in GBT_THRESHOLDS], "thr double")
    y = F.col("l_quantity").cast("bigint")
    left = F.col("l_extendedprice") <= F.col("thr")
    agg = (
        t.lineitem.select(F.col("l_extendedprice"), y.alias("y"))
        .crossJoin(F.broadcast(grid))
        .groupBy("thr")
        .agg(
            F.sum(F.when(left, 1).otherwise(0)).alias("n_l"),
            F.sum(F.when(left, F.col("y")).otherwise(0)).alias("s_l"),
            F.sum(F.when(left, F.col("y") * F.col("y")).otherwise(0)).alias("q_l"),
            F.sum(F.when(~left, 1).otherwise(0)).alias("n_r"),
            F.sum(F.when(~left, F.col("y")).otherwise(0)).alias("s_r"),
            F.sum(F.when(~left, F.col("y") * F.col("y")).otherwise(0)).alias("q_r"),
        )
    )
    def sse(qc, sc, nc):
        nd = F.col(nc).cast("double")
        return F.when(
            F.col(nc) > 0,
            F.col(qc).cast("double") - (F.col(sc).cast("double") / nd) * F.col(sc).cast("double"),
        ).otherwise(F.lit(0.0))
    mean = lambda sc, nc: F.when(
        F.col(nc) > 0,
        F.floor(
            F.col(sc).cast("double") / F.col(nc).cast("double") * 1000000.0 + F.lit(0.5)
        ).cast("bigint"),
    )
    return agg.select(
        "thr",
        "n_l",
        "n_r",
        mean("s_l", "n_l").alias("mean_l_micro"),
        mean("s_r", "n_r").alias("mean_r_micro"),
        F.floor(
            (sse("q_l", "s_l", "n_l") + sse("q_r", "s_r", "n_r")) * 10000.0
            + F.lit(0.5)
        ).cast("bigint").alias("sse_e4"),
    )


# ---------------------------------------------------------------------------
# link analysis


def q_hits_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full HITS iteration (plus the closing authority half-step) over
    the customer→part purchase bipartite graph from uniform hubs:
    auth₁ = in-degree, hub₁(c) = Σ auth₁ over c's parts,
    auth₂(p) = Σ hub₁ over p's customers, L2-normalized. Kleinberg's
    hubs-and-authorities as two keyed aggregates per half-step.

    Every score is an exact integer until the final normalization (the
    squared norm is an exact BIGINT sum); the normalized score is emitted
    as a fixed-point micro-unit BIGINT via floor(x·10⁶ + 0.5) — identical
    IEEE expression shape in both engines, no round(double) in the hash
    (VERDICT r5 item 1).

    Scale shape: the edge list (distinct customer–part pairs) is the only
    shuffled relation; each half-step is one join + one aggregate keyed on
    a node id — O(m) per half-step, the canonical large-graph shape."""
    t = load_tables(spark, sf_dir)
    edges = (
        t.orders.join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    auth1 = edges.groupBy("l_partkey").agg(F.count("*").alias("a1"))
    hub1 = (
        edges.join(auth1, "l_partkey")
        .groupBy("o_custkey")
        .agg(F.sum("a1").alias("h1"))
    )
    auth2 = (
        edges.join(hub1, "o_custkey")
        .groupBy("l_partkey")
        .agg(F.sum("h1").alias("auth"))
    )
    norm2 = auth2.agg(F.sum(F.col("auth") * F.col("auth")).alias("s2"))
    return auth2.crossJoin(F.broadcast(norm2)).select(
        "l_partkey",
        "auth",
        F.floor(
            F.col("auth") / F.sqrt(F.col("s2").cast("double")) * 1000000.0 + F.lit(0.5)
        ).cast("bigint").alias("auth_norm_micro"),
    )


def q_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power-iteration steps toward the dominant eigenvector of the
    repeat-co-purchase adjacency matrix from v₀ = 1: v₁ = A·1 (= degree),
    v₂ = A·v₁, reported raw and L2-normalized — the per-round kernel of
    spectral ranking / power-iteration clustering (PIC).

    v₁, v₂ and the squared norm are exact BIGINT aggregates; the
    normalized score is a fixed-point micro-unit BIGINT via
    floor(x·10⁶ + 0.5) on identical IEEE expressions — no round(double)
    in the hashed output (VERDICT r5 item 1).

    Scale shape: the support-floored edge list is materialized once and
    each step is one join + one aggregate keyed on node — O(m) per step,
    model state O(nodes) and never collected."""
    edges = _repeat_copurchase_edges(spark, sf_dir)
    nbrs = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    v1 = nbrs.groupBy("node").agg(F.count("*").alias("v1"))
    v2 = (
        nbrs.join(v1.select(F.col("node").alias("nbr"), "v1"), "nbr")
        .groupBy("node")
        .agg(F.sum("v1").alias("v2"))
    )
    norm2 = v2.agg(F.sum(F.col("v2") * F.col("v2")).alias("s2"))
    return v2.crossJoin(F.broadcast(norm2)).select(
        "node",
        "v2",
        F.floor(
            F.col("v2") / F.sqrt(F.col("s2").cast("double")) * 1000000.0 + F.lit(0.5)
        ).cast("bigint").alias("v2_norm_micro"),
    )


# ---------------------------------------------------------------------------
# density clustering & recommenders


def q_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN core-point detection (eps = 0.03, minPts = 8) on the 2-D
    projection (dims 1–2) of the embeddings: a point is core when ≥ minPts
    points (self included) lie within eps. The expensive half of
    distributed DBSCAN — cluster expansion is then exactly the connected
    components fixpoint that ships in graph.py.

    Candidates are generated by GRID-CELL BLOCKING (cell side = eps, each
    point probes its 3×3 cell neighbourhood) — never an all-pairs join;
    the oracle brute-forces the identical distance predicate at fixture
    scale. The distance test runs on identical double expressions in both
    engines, so no boundary ambiguity.

    Scale shape: one narrow projection, one equi-join on cell keys with
    bounded 9× fan-out, one count keyed on point id. At 100 TB the cell
    histogram also drives skew salting for over-dense cells."""
    t = load_tables(spark, sf_dir)
    pts = t.embeddings.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    return (
        _eps_pairs(pts, DBSCAN_EPS)
        .groupBy(F.col("a_id").alias("vec_id"))
        .agg(F.count("*").alias("n_nbrs"))
        .filter(F.col("n_nbrs") >= DBSCAN_MINPTS)
    )


def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order baskets: cosine
    similarity on co-occurrence counts, sim(u,v) = co(u,v)/√(n_u·n_v),
    top-3 neighbours per item — the classic Amazon-style item-to-item
    recommender expressed as one basket self-join plus degree joins.

    All counts are exact integers; the cosine is a single double division
    (identical both engines) and the top-k window breaks ties on the
    neighbour id, so ranks are deterministic.

    Scale shape: baskets are distinct (order, part) pairs; the self-join
    fans out per order (bounded by basket size), the co-count aggregate is
    keyed on the item pair, and the support floor (≥ 2 shared orders)
    prunes the long noise tail before the window. At 100 TB the basket
    fan-out caps at max-basket², the standard market-basket bound."""
    from machinelearningalgomapreduce_spark.operators.graph import (
        copurchase_pair_counts,
    )

    t = load_tables(spark, sf_dir)
    baskets = t.lineitem.select("l_orderkey", "l_partkey").distinct()
    n_i = baskets.groupBy("l_partkey").agg(F.count("*").alias("n_orders"))
    # One shared basket self-join (graph.py) — the support floor and pair
    # semantics live in a single implementation.
    co = copurchase_pair_counts(spark, sf_dir, CF_MIN_CO).select(
        "u", "v", F.col("n_orders").alias("co")
    )
    both = co.select("u", "v", "co").unionAll(
        co.select(F.col("v").alias("u"), F.col("u").alias("v"), "co")
    )
    nu = n_i.select(F.col("l_partkey").alias("u"), F.col("n_orders").alias("n_u"))
    nv = n_i.select(F.col("l_partkey").alias("v"), F.col("n_orders").alias("n_v"))
    cos = F.col("co").cast("double") / F.sqrt(
        (F.col("n_u") * F.col("n_v")).cast("double")
    )
    scored = both.join(nu, "u").join(nv, "v").select("u", "v", "co", cos.alias("cos_raw"))
    win = W.partitionBy("u").orderBy(F.desc("cos_raw"), F.asc("v"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= CF_TOPK)
        .select(
            F.col("u").alias("item"),
            F.col("v").alias("neighbor"),
            "co",
            F.round(F.col("cos_raw"), 6).alias("cosine"),
            "rank",
        )
    )


def q_rating_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped-mean baseline predictor (the Netflix-Prize-era b_u/b_i
    model): global mean μ of the quantity "rating", per-item bias
    b_i = Σ(r−μ)/(λ+n_i), then per-user bias on the residual
    b_u = Σ(r−μ−b_i)/(λ+n_u) — the standard pre-factorization
    normalization pass of a distributed recommender.

    Determinism is FIXED-POINT: μ is rounded to 6 and everything after
    lives in exact micro-units (×10⁶ BIGINTs). The damped divisions are
    rounded half-up via the integer-exact floor((2N+D)/(2D)) identity, so
    no engine ever rounds a double that sits on a decimal boundary (the
    damped quotients here land on exact half-micro boundaries for dozens
    of items — naive round(x, 6) genuinely diverges between engines).

    Scale shape: two keyed aggregates (item, then user) plus one 1-row
    broadcast for μ — exactly two shuffles of id+scalar tuples."""
    t = load_tables(spark, sf_dir)
    damp = int(BASELINE_DAMP)
    ratings = t.lineitem.join(
        t.orders.select("o_orderkey", "o_custkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "o_custkey", "l_partkey", F.col("l_quantity").cast("bigint").alias("r")
    )
    mu6 = F.round(F.sum("r").cast("double") / F.count("*"), 6).cast("decimal(18,6)")
    glob = ratings.agg((mu6 * 1000000).cast("bigint").alias("mu_micro"))

    def half_up(num, den):
        # round-half-up of the exact rational num/den: floor((2·num+den)/(2·den)).
        # Operands stay ≤ 2^53, so the double division is correctly rounded and
        # floor() agrees bit-for-bit across engines even at exact halves.
        return F.floor(
            (2 * num + den).cast("double") / (2 * den).cast("double")
        ).cast("bigint")

    item = (
        ratings.groupBy("l_partkey")
        .agg(F.count("*").alias("n_i"), F.sum("r").alias("s_i"))
        .crossJoin(F.broadcast(glob))
        .select(
            "l_partkey",
            "mu_micro",
            half_up(
                F.col("s_i") * 1000000 - F.col("n_i") * F.col("mu_micro"),
                F.lit(damp) + F.col("n_i"),
            ).alias("bi_micro"),
        )
    )
    resid = ratings.join(item, "l_partkey").select(
        "o_custkey",
        (F.col("r") * 1000000 - F.col("mu_micro") - F.col("bi_micro")).alias("resid6"),
    )
    agg = resid.groupBy("o_custkey").agg(
        F.count("*").alias("n_u"), F.sum("resid6").alias("s_u")
    )
    return agg.select(
        "o_custkey",
        "n_u",
        (
            half_up(F.col("s_u"), F.lit(damp) + F.col("n_u")).cast("double") / 1000000.0
        ).alias("b_u"),
    )


# ---------------------------------------------------------------------------
# rank statistics & EM


def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price per
    return flag: tie-averaged ranks, then Pearson on the ranks. The
    nonparametric sibling of q_corr — rank assignment is the MapReduce
    "global sort + tie averaging" job, folded here into two window
    functions.

    Doubled average ranks 2·r̄ = 2·rank + (ties−1) stay EXACT BIGINTs, so
    every moment is an exact integer aggregate (the 2× scale cancels in
    ρ); the closing formula runs in identical doubles on means, never on
    raw Σx·Σy products (which would exceed 2⁵³).

    Scale shape: two range-partitioned sort windows (Spark's SortExec
    handles the global rank at scale), one exact moment aggregate per
    group — no raw-row shuffle after ranking."""
    t = load_tables(spark, sf_dir)
    base = t.lineitem.select("l_returnflag", "l_quantity", "l_extendedprice")
    def r2(col):
        wr = W.partitionBy("l_returnflag").orderBy(col)
        wt = W.partitionBy("l_returnflag", col)
        return (2 * F.rank().over(wr) + F.count("*").over(wt) - 1).cast("bigint")
    ranked = base.select(
        "l_returnflag", r2("l_quantity").alias("rx"), r2("l_extendedprice").alias("ry")
    )
    return _rank_moments_to_rho(ranked)


def _rank_moments_to_rho(ranked: DataFrame) -> DataFrame:
    """Shared closing formula for the Spearman forms: exact doubled-rank
    moments (products accumulate as DECIMAL(38,0) — Σr² grows ~n³/group
    and would wrap BIGINT near 2M rows/group, where DuckDB silently
    promotes to HUGEINT), then Pearson on means with a NULL guard for
    degenerate (constant-value) groups. Keeping this in ONE place is what
    lets the window and distributed forms stay bit-identical."""
    # Cast an OPERAND, not the product: a BIGINT·BIGINT multiply would
    # already wrap before any cast (rx·ry ~ 4n² > 2⁶³ at ~1.5e9 rows).
    rxd = F.col("rx").cast("decimal(19,0)")
    ryd = F.col("ry").cast("decimal(19,0)")
    m = ranked.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(rxd * F.col("ry")).alias("sxy"),
        F.sum(rxd * F.col("rx")).alias("sxx"),
        F.sum(ryd * F.col("ry")).alias("syy"),
    )
    n = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / n
    my = F.col("sy").cast("double") / n
    cov = F.col("sxy").cast("double") / n - mx * my
    vx = F.col("sxx").cast("double") / n - mx * mx
    vy = F.col("syy").cast("double") / n - my * my
    rho = F.when((vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6))
    return m.select("l_returnflag", "n", rho.alias("rho"))


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis one-way rank test of quantity across return flags:
    global tie-averaged ranks, H = 12/(N(N+1))·Σ R_j²/n_j − 3(N+1), plus
    the tie correction C = 1 − Σ(t³−t)/(N³−N) — the nonparametric ANOVA
    (q_anova's rank twin) with quantity's 50-value ties exercising the
    correction hard.

    Doubled ranks and rank sums are exact BIGINTs; the k per-group H terms
    (k = #return flags, tiny) are folded in CANONICAL flag order via a
    sort_array + sequential aggregate — the Spark F.aggregate ≡ DuckDB
    list_sum bit-parity that functions/vectors.py already verifies — so
    the double sum never depends on shuffle order. H itself leaves the
    query as a fixed-point micro-unit BIGINT (floor(x·10⁶ + 0.5)): no
    round(double) sits in the hashed output (VERDICT r5 item 1). The tie
    spectrum Σ(t³−t) is an exact integer aggregate.

    Scale shape: NO data-sized sort window — ranks derive from the
    bounded 50-value histogram (the q_ks_test envelope): one
    (flag, value) counting aggregate, a cumulative window over the tiny
    value domain giving r̄2(v) = 2·C_below(v) + t(v) + 1, then O(values)
    arithmetic. The oracle computes the same statistic through a genuine
    global rank window, so the two formulations cross-check each other."""
    t = load_tables(spark, sf_dir)
    fv = t.lineitem.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("n_fv")
    )
    vals = fv.groupBy("l_quantity").agg(F.sum("n_fv").alias("t"))
    # Cumulative window over ≤50 distinct values — bounded domain, not data.
    wv = W.orderBy("l_quantity").rowsBetween(W.unboundedPreceding, -1)
    r2v = vals.select(
        "l_quantity",
        "t",
        (2 * F.coalesce(F.sum("t").over(wv), F.lit(0)) + F.col("t") + 1).alias("r2"),
    )
    # Rank sums and the tie spectrum accumulate as DECIMAL(38,0): the
    # products grow ~n² and ~t³ and would wrap BIGINT around 2e9 rows /
    # 2e6-row tie groups, where DuckDB silently promotes to HUGEINT.
    groups = (
        fv.join(F.broadcast(r2v.select("l_quantity", "r2")), "l_quantity")
        .groupBy("l_returnflag")
        .agg(
            F.sum("n_fv").alias("n_j"),
            F.sum(F.col("n_fv").cast("decimal(19,0)") * F.col("r2")).alias("r2_j"),
        )
    )
    # H term per group on true ranks R_j = r2_j/2, folded in canonical
    # flag order (k rows — the collect_list is O(k) driver-free state).
    rj = F.col("r2_j").cast("double") / 2.0
    term = rj * rj / F.col("n_j")
    hsum = groups.agg(
        F.sum("n_j").alias("n"),
        F.count("*").alias("k"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col("l_returnflag").alias("g"), term.alias("t")))
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["t"],
        ).alias("h_sum"),
    )
    td = F.col("t").cast("decimal(19,0)")
    tie_sum = vals.agg(F.sum(td * F.col("t") * F.col("t") - td).alias("tie3"))
    nd = F.col("n").cast("double")
    h = 12.0 / (nd * (nd + 1.0)) * F.col("h_sum") - 3.0 * (nd + 1.0)
    c = 1.0 - F.col("tie3").cast("double") / (nd * nd * nd - nd)
    # c = 0 (every row one tie group) leaves H undefined — NULL, not ∞.
    return hsum.crossJoin(F.broadcast(tie_sum)).select(
        "n",
        (F.col("k") - 1).alias("df"),
        F.floor(h * 1000000.0 + F.lit(0.5)).cast("bigint").alias("h_micro"),
        F.when(
            c > 0, F.floor(h / c * 1000000.0 + F.lit(0.5)).cast("bigint")
        ).alias("h_corrected_micro"),
    )


def q_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM round for a two-component 1-D Gaussian mixture on quantity
    from the fixed init (μ₁=10, μ₂=40, shared σ=15, π₂=0.5): E-step
    responsibilities per DISTINCT value (50 of them — the value-compressed
    trick a 100 TB EM uses), M-step reweighted moments → new π, μ, σ² per
    component.

    Responsibilities are computed on exact integer values with identical
    double expressions, rounded to 6, and every M-step sum is a DECIMAL
    aggregate over (value, count) pairs — fully order-free.

    Scale shape: one 50-group value-histogram aggregate, then O(#values)
    arithmetic — the raw table is touched exactly once."""
    t = load_tables(spark, sf_dir)
    hist = t.lineitem.groupBy(
        F.col("l_quantity").cast("bigint").alias("v")
    ).agg(F.count("*").alias("c"))
    v = F.col("v").cast("double")
    two_s2 = 2.0 * EM_SIGMA * EM_SIGMA
    phi1 = F.exp(-(v - EM_MU1) * (v - EM_MU1) / two_s2)
    phi2 = F.exp(-(v - EM_MU2) * (v - EM_MU2) / two_s2)
    g2 = F.round((EM_PI2 * phi2) / ((1.0 - EM_PI2) * phi1 + EM_PI2 * phi2), 6)
    g1 = F.round(1.0 - (EM_PI2 * phi2) / ((1.0 - EM_PI2) * phi1 + EM_PI2 * phi2), 6)
    def dec(x):
        return x.cast("decimal(28,6)")
    resp = hist.select(
        "v",
        "c",
        dec(F.col("c") * g1).alias("n1"),
        dec(F.col("c") * g2).alias("n2"),
        dec(F.col("c") * g1 * v).alias("sv1"),
        dec(F.col("c") * g2 * v).alias("sv2"),
        dec(F.col("c") * g1 * v * v).alias("sq1"),
        dec(F.col("c") * g2 * v * v).alias("sq2"),
    )
    m = resp.agg(
        F.sum("c").alias("n"),
        F.sum("n1").alias("n1"),
        F.sum("n2").alias("n2"),
        F.sum("sv1").alias("sv1"),
        F.sum("sv2").alias("sv2"),
        F.sum("sq1").alias("sq1"),
        F.sum("sq2").alias("sq2"),
    )
    def comp_struct(comp: int):
        nk = F.col(f"n{comp}").cast("double")
        mu = F.col(f"sv{comp}").cast("double") / nk
        var = F.col(f"sq{comp}").cast("double") / nk - mu * mu
        return F.struct(
            F.lit(comp).alias("component"),
            F.round(nk / F.col("n").cast("double"), 6).alias("pi_new"),
            F.round(mu, 6).alias("mu_new"),
            F.round(var, 6).alias("var_new"),
        )

    # One row → two component rows via explode, so the histogram aggregate
    # (and its scan) appears ONCE in the plan instead of once per component.
    return m.select(
        F.explode(F.array(comp_struct(1), comp_struct(2))).alias("c")
    ).select("c.*")


def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between return flag and line status: per-cell
    PMI and contribution p(x,y)·ln(p(x,y)/(p(x)p(y))), plus the total MI
    repeated per row — the classic feature-selection / association measure
    computed from one contingency aggregate.

    All probabilities derive from exact integer counts (identical double
    divisions); the 6-term MI fold is rounded per-cell and summed as
    DECIMAL through a window so it is order-free.

    Scale shape: one contingency aggregate keyed on the (tiny) category
    pair + two broadcast marginal joins — a single shuffle of count
    tuples."""
    t = load_tables(spark, sf_dir)
    cells = t.lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_xy")
    )
    mx = t.lineitem.groupBy("l_returnflag").agg(F.count("*").alias("n_x"))
    my = t.lineitem.groupBy("l_linestatus").agg(F.count("*").alias("n_y"))
    tot = t.lineitem.agg(F.count("*").alias("n"))
    joined = (
        cells.join(F.broadcast(mx), "l_returnflag")
        .join(F.broadcast(my), "l_linestatus")
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("n").cast("double")
    pxy = F.col("n_xy").cast("double") / n
    px = F.col("n_x").cast("double") / n
    py = F.col("n_y").cast("double") / n
    pmi = F.log(pxy / (px * py))
    contrib = F.round(pxy * pmi, 10).cast("decimal(28,10)")
    w = W.partitionBy()
    return joined.select(
        "l_returnflag",
        "l_linestatus",
        "n_xy",
        F.round(pmi, 6).alias("pmi"),
        contrib.cast("double").alias("contribution"),
        F.sum(contrib).over(w).cast("double").alias("mi_total"),
    )


# ---------------------------------------------------------------------------
# library iteration loops (pytest-verified APIs — multi-round state is not
# SQL-oracle-checkable, same policy as kmeans_iterate / kcore_iterate)


def _eps_pairs(pts: DataFrame, eps: float) -> DataFrame:
    """All ordered point pairs within eps (self included) via grid-cell
    blocking — the q_dbscan_core candidate generator, factored out so the
    full-DBSCAN loop reuses it. Input: (vec_id, x, y)."""
    spark = pts.sparkSession
    cells = pts.select(
        "*",
        F.floor(F.col("x") / eps).alias("cx"),
        F.floor(F.col("y") / eps).alias("cy"),
    )
    offsets = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx long, dy long"
    )
    probes = cells.crossJoin(F.broadcast(offsets)).select(
        F.col("vec_id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        (F.col("cx") + F.col("dx")).alias("pcx"),
        (F.col("cy") + F.col("dy")).alias("pcy"),
    )
    dist2 = (F.col("ax") - F.col("x")) * (F.col("ax") - F.col("x")) + (
        F.col("ay") - F.col("y")
    ) * (F.col("ay") - F.col("y"))
    return (
        probes.join(
            cells.select("vec_id", "x", "y", "cx", "cy"),
            (F.col("pcx") == F.col("cx")) & (F.col("pcy") == F.col("cy")),
        )
        .filter(dist2 <= eps * eps)
        .select("a_id", F.col("vec_id").alias("b_id"))
    )


def dbscan_cluster(
    spark: SparkSession,
    sf_dir: str,
    eps: float = DBSCAN_EPS,
    min_pts: int = DBSCAN_MINPTS,
) -> DataFrame:
    """Full DBSCAN over the 2-D embedding projection (library API):
    core-point detection (q_dbscan_core's grid-blocked counting), cluster
    formation as CONNECTED COMPONENTS over the core–core eps-graph
    (the O(log²)-round star algorithm from graph.py — the 100 TB CC), and
    border assignment to the minimum adjacent core root. Returns
    (vec_id, cluster, kind ∈ {core, border, noise}); cluster is NULL for
    noise and the component-minimum core id otherwise (deterministic).

    Scale shape: candidate pairs only ever come from 3×3 grid cells; the
    CC loop shuffles (node, label) pairs; border assignment is one
    min-aggregate join. No stage is all-pairs."""
    from machinelearningalgomapreduce_spark.operators.graph import (
        connected_components_star,
    )

    t = load_tables(spark, sf_dir)
    pts = t.embeddings.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    pairs = materialize_once(_eps_pairs(pts, eps))
    counts = pairs.groupBy("a_id").agg(F.count("*").alias("n_nbrs"))
    cores = counts.filter(F.col("n_nbrs") >= min_pts).select(
        F.col("a_id").alias("vec_id")
    )
    core_edges = (
        pairs.filter(F.col("a_id") < F.col("b_id"))
        .join(cores.withColumnRenamed("vec_id", "a_id"), "a_id", "left_semi")
        .join(cores.withColumnRenamed("vec_id", "b_id"), "b_id", "left_semi")
        .select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
    )
    roots = connected_components_star(core_edges)  # (node, root)
    core_rows = cores.join(
        roots, cores.vec_id == roots.node, "left"
    ).select(
        "vec_id",
        # isolated cores (no core neighbour) root themselves
        F.coalesce(F.col("root"), F.col("vec_id")).alias("cluster"),
        F.lit("core").alias("kind"),
    )
    border = (
        pairs.join(cores.withColumnRenamed("vec_id", "a_id"), "a_id", "left_anti")
        .join(
            core_rows.select(
                F.col("vec_id").alias("b_id"), F.col("cluster").alias("b_cluster")
            ),
            "b_id",
        )
        .groupBy(F.col("a_id").alias("vec_id"))
        .agg(F.min("b_cluster").alias("cluster"))
        .select("vec_id", "cluster", F.lit("border").alias("kind"))
    )
    assigned = core_rows.unionByName(border)
    noise = pts.select("vec_id").join(
        assigned.select("vec_id"), "vec_id", "left_anti"
    ).select(
        "vec_id", F.lit(None).cast("long").alias("cluster"), F.lit("noise").alias("kind")
    )
    return assigned.unionByName(noise)


def fuzzy_kmeans_fit(
    spark: SparkSession, sf_dir: str, rounds: int = 5, m: float = 2.0
) -> dict:
    """Fuzzy c-means over the embeddings from the deterministic
    per-label seed centroids (library API): soft memberships
    u_cj ∝ (1/d²_cj)^(1/(m−1)) against broadcast centroids, centroid
    update Σu^m·x / Σu^m, objective J = ΣΣ u^m·d² recorded per round —
    fuzzy c-means guarantees J is non-increasing, which the test
    asserts. Returns {centroids, objective} with O(k·d) driver state.

    Scale shape: per round one data ⋈ broadcast(centroids) scoring pass
    and one (cluster, dim)-keyed weighted aggregate — identical plan
    family to q_kmeans_assign/q_kmeans_recompute, soft weights instead
    of argmin."""
    from machinelearningalgomapreduce_spark.operators.ml import label_centroids

    t = load_tables(spark, sf_dir)
    data = materialize_once(t.embeddings.select("vec_id", "embedding"))
    cents = {
        r.label: list(r.centroid)
        for r in label_centroids(t.embeddings).collect()
    }
    power = 1.0 / (m - 1.0)
    objective: list[float] = []
    for _ in range(rounds):
        cent_rows = [(c, v) for c, v in sorted(cents.items())]
        cdf = spark.createDataFrame(
            cent_rows, "cluster int, centroid array<double>"
        )
        d2 = F.aggregate(
            F.sequence(F.lit(0), F.lit(len(next(iter(cents.values()))) - 1)),
            F.lit(0.0),
            lambda acc, i: acc
            + (F.col("embedding")[i].cast("double") - F.col("centroid")[i])
            * (F.col("embedding")[i].cast("double") - F.col("centroid")[i]),
        )
        scored = (
            data.crossJoin(F.broadcast(cdf))
            .select("vec_id", "embedding", "cluster", F.greatest(d2, F.lit(1e-12)).alias("d2"))
        )
        wsum = W.partitionBy("vec_id")
        inv = F.pow(1.0 / F.col("d2"), F.lit(power))
        member = scored.withColumn("u", inv / F.sum(inv).over(wsum))
        um = F.pow(F.col("u"), F.lit(m))
        obj = member.agg(F.sum(um * F.col("d2"))).first()[0]
        objective.append(float(obj))
        per_dim = member.select(
            "cluster", um.alias("um"), F.posexplode("embedding").alias("d", "x")
        ).groupBy("cluster", "d").agg(
            (F.sum(F.col("um") * F.col("x").cast("double")) / F.sum("um")).alias("c")
        )
        new = {}
        for r in per_dim.collect():
            new.setdefault(r.cluster, {})[r.d] = r.c
        cents = {c: [dims[i] for i in range(len(dims))] for c, dims in new.items()}
    return {"centroids": cents, "objective": objective}


ADA_CANDIDATES = tuple(
    (d, thr) for d in (1, 2, 3, 4) for thr in (-0.1, 0.0, 0.1)
)


def adaboost_fit(spark: SparkSession, sf_dir: str, rounds: int = 3) -> list[dict]:
    """Multi-round AdaBoost over axis-aligned decision stumps (library
    API): per round, ONE aggregate scores every candidate stump's
    weighted error against the current row weights, the driver picks the
    argmin (deterministic tie-break on (dim, thr)), and rows are
    reweighted w ← w·exp(∓α)/Z, materialized to truncate lineage.
    Returns [{dim, thr, flip, alpha, eps}, ...] — O(rounds) model state;
    the weight column is the only per-row state, exactly the MapReduce
    formulation (weights in HDFS, stump search as one job per round).
    """
    t = load_tables(spark, sf_dir)
    y = F.when(F.col("label") >= 5, F.lit(1.0)).otherwise(F.lit(-1.0))
    base = t.embeddings.select(
        "vec_id", "embedding", y.alias("y"), F.lit(1.0).alias("w")
    )
    n = base.count()
    cur = materialize_once(base.withColumn("w", F.col("w") / n))
    grid = spark.createDataFrame(ADA_CANDIDATES, "dim int, thr double")
    model: list[dict] = []
    for _ in range(rounds):
        pred = F.when(
            F.element_at(F.col("embedding"), F.col("dim")).cast("double")
            <= F.col("thr"),
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))
        scores = (
            cur.crossJoin(F.broadcast(grid))
            .groupBy("dim", "thr")
            .agg(F.sum(F.when(pred != F.col("y"), F.col("w")).otherwise(0.0)).alias("eps"))
            .collect()
        )
        # flip a worse-than-chance stump instead of discarding it
        best = min(
            scores, key=lambda r: (min(r.eps, 1.0 - r.eps), r.dim, r.thr)
        )
        flip = best.eps > 0.5
        eps = min(best.eps, 1.0 - best.eps)
        if eps <= 0.0 or eps >= 0.5:
            break
        import math as _m

        alpha = 0.5 * _m.log((1.0 - eps) / eps)
        model.append(
            {"dim": best.dim, "thr": best.thr, "flip": flip, "alpha": alpha, "eps": eps}
        )
        sign = -1.0 if flip else 1.0
        pred_best = F.when(
            F.element_at(F.col("embedding"), F.lit(best.dim)).cast("double")
            <= best.thr,
            F.lit(sign),
        ).otherwise(F.lit(-sign))
        unnorm = cur.withColumn(
            "w",
            F.col("w")
            * F.when(pred_best != F.col("y"), F.exp(F.lit(alpha))).otherwise(
                F.exp(F.lit(-alpha))
            ),
        )
        z = unnorm.agg(F.sum("w")).collect()[0][0]
        cur = materialize_once(unnorm.withColumn("w", F.col("w") / F.lit(z)))
    return model


def adaboost_predict(df: DataFrame, model: list[dict]) -> DataFrame:
    """Ensemble vote Σ α·h(x) → sign, as one Catalyst expression."""
    score = F.lit(0.0)
    for m in model:
        sign = -1.0 if m["flip"] else 1.0
        h = F.when(
            F.element_at(F.col("embedding"), F.lit(m["dim"])).cast("double")
            <= m["thr"],
            F.lit(sign),
        ).otherwise(F.lit(-sign))
        score = score + F.lit(m["alpha"]) * h
    return df.withColumn(
        "pred", F.when(score >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    )


def hits_iterate(edges: DataFrame, rounds: int = 5) -> tuple[DataFrame, DataFrame]:
    """Full HITS loop over a bipartite edge list (hub_id, auth_id) with
    L2 normalization per half-step (library API). Returns (auth, hub)
    frames with `score` columns. Per half-step: one join + one keyed
    aggregate + a 1-row norm broadcast — O(m), the q_hits_step kernel
    iterated with materialize_once lineage truncation."""
    hub = edges.select(F.col("hub_id")).distinct().withColumn("score", F.lit(1.0))
    auth = None
    for _ in range(rounds):
        auth_raw = (
            edges.join(hub, "hub_id")
            .groupBy("auth_id")
            .agg(F.sum("score").alias("raw"))
        )
        anorm = auth_raw.agg(F.sqrt(F.sum(F.col("raw") * F.col("raw"))).alias("nrm"))
        auth = materialize_once(
            auth_raw.crossJoin(F.broadcast(anorm))
            .select("auth_id", (F.col("raw") / F.col("nrm")).alias("score"))
        )
        hub_raw = (
            edges.join(auth, "auth_id")
            .groupBy("hub_id")
            .agg(F.sum("score").alias("raw"))
        )
        hnorm = hub_raw.agg(F.sqrt(F.sum(F.col("raw") * F.col("raw"))).alias("nrm"))
        hub = materialize_once(
            hub_raw.crossJoin(F.broadcast(hnorm))
            .select("hub_id", (F.col("raw") / F.col("nrm")).alias("score"))
        )
    return auth, hub


def power_iterate(edges: DataFrame, rounds: int = 8) -> tuple[DataFrame, list[float]]:
    """Power iteration toward the dominant eigenvector of the undirected
    adjacency matrix given as (u, v) edges (library API). Returns the
    L2-normalized vector (node, score) and the per-round Rayleigh-quotient
    eigenvalue estimates (their convergence is the stopping signal a
    driver loop watches). Per round: one join + keyed aggregate + two
    1-row reductions — O(m)."""
    nbrs = materialize_once(
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
            edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
        )
    )
    v = nbrs.select("node").distinct().withColumn("score", F.lit(1.0))
    eigen: list[float] = []
    for _ in range(rounds):
        av = (
            nbrs.join(
                v.select(F.col("node").alias("nbr"), F.col("score").alias("s")), "nbr"
            )
            .groupBy("node")
            .agg(F.sum("s").alias("raw"))
        )
        stats = (
            av.join(v, "node")
            .agg(
                F.sum(F.col("raw") * F.col("score")).alias("vav"),
                F.sum(F.col("raw") * F.col("raw")).alias("norm2"),
                F.sum(F.col("score") * F.col("score")).alias("vtv"),
            )
            .collect()[0]
        )
        eigen.append(float(stats.vav) / float(stats.vtv))  # Rayleigh vᵀAv/vᵀv
        nrm = float(stats.norm2) ** 0.5
        v = materialize_once(av.select("node", (F.col("raw") / F.lit(nrm)).alias("score")))
    return v, eigen


def standardize(df: DataFrame, cols: list[str]) -> DataFrame:
    """Z-score feature scaling (library API): one aggregate computes
    (mean, population std) per column, broadcasts back onto the scan,
    and replaces each column with (x − μ)/σ (σ = 0 → 0.0). The classic
    two-job preprocessing pass — statistics job + map job — as one
    Catalyst plan; never shuffles the data itself."""
    aggs = []
    for c in cols:
        aggs += [
            F.avg(F.col(c)).alias(f"_mu_{c}"),
            F.stddev_pop(F.col(c)).alias(f"_sd_{c}"),
        ]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        sd = F.col(f"_sd_{c}")
        out = out.withColumn(
            c,
            F.when(sd > 0, (F.col(c) - F.col(f"_mu_{c}")) / sd).otherwise(F.lit(0.0)),
        )
    return out.drop(*[f"_mu_{c}" for c in cols], *[f"_sd_{c}" for c in cols])


def minmax_scale(df: DataFrame, cols: list[str]) -> DataFrame:
    """Min-max feature scaling to [0, 1] (library API): same broadcast
    statistics-then-map shape as `standardize`; constant columns map
    to 0.0."""
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c)).alias(f"_lo_{c}"), F.max(F.col(c)).alias(f"_hi_{c}")]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        rng = F.col(f"_hi_{c}") - F.col(f"_lo_{c}")
        out = out.withColumn(
            c,
            F.when(rng > 0, (F.col(c) - F.col(f"_lo_{c}")) / rng).otherwise(F.lit(0.0)),
        )
    return out.drop(*[f"_lo_{c}" for c in cols], *[f"_hi_{c}" for c in cols])


def kfold_assign(df: DataFrame, id_col: str, k: int = 5, salt: str = "cv") -> DataFrame:
    """Deterministic k-fold assignment (library API): fold = md5(salt:id)
    mod k — the q_train_test_split discipline generalized to k folds.
    Content-hash folds are reproducible across engines, runs, partition
    layouts, and corpus growth (a row never changes fold when data is
    appended — unlike row_number or rand(seed) folds). Adds a `fold`
    column in [0, k)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return df.withColumn("fold", (h % k).cast("int"))


def cross_validate_accuracy(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> list[dict]:
    """k-fold cross-validated accuracy of the embedding stump family
    (the q_tree_split model selected on each training fold, evaluated on
    the held-out fold) — the standard model-selection harness a
    MapReduce ML repo runs as k chained jobs (library API).

    Per fold: one aggregate over the train split scores every
    (dim, thr) stump candidate, the driver picks the argmin-error
    candidate (deterministic tie-break), and one aggregate over the test
    split measures held-out accuracy. Model state O(candidates)."""
    t = load_tables(spark, sf_dir)
    y = F.when(F.col("label") >= 5, F.lit(1.0)).otherwise(F.lit(-1.0))
    base = materialize_once(
        kfold_assign(
            t.embeddings.select("vec_id", "embedding", y.alias("y")), "vec_id", k
        )
    )
    grid = spark.createDataFrame(ADA_CANDIDATES, "dim int, thr double")
    pred = F.when(
        F.element_at(F.col("embedding"), F.col("dim")).cast("double") <= F.col("thr"),
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    results = []
    for fold in range(k):
        train = base.filter(F.col("fold") != fold)
        test = base.filter(F.col("fold") == fold)
        scores = (
            train.crossJoin(F.broadcast(grid))
            .groupBy("dim", "thr")
            .agg(F.avg((pred != F.col("y")).cast("double")).alias("err"))
            .collect()
        )
        best = min(scores, key=lambda r: (min(r.err, 1.0 - r.err), r.dim, r.thr))
        flip = best.err > 0.5
        sign = -1.0 if flip else 1.0
        pred_best = F.when(
            F.element_at(F.col("embedding"), F.lit(best.dim)).cast("double")
            <= best.thr,
            F.lit(sign),
        ).otherwise(F.lit(-sign))
        acc = test.agg(
            F.avg((pred_best == F.col("y")).cast("double")).alias("acc"),
            F.count("*").alias("n_test"),
        ).first()
        results.append(
            {
                "fold": fold,
                "dim": best.dim,
                "thr": best.thr,
                "flip": flip,
                "train_err": min(best.err, 1.0 - best.err),
                # avg over an empty fold is NULL — report None, don't crash
                # (k larger than the corpus can leave md5 buckets empty).
                "test_acc": None if acc.acc is None else float(acc.acc),
                "n_test": acc.n_test,
            }
        )
    return results


def naive_bayes_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The predict half of q_naive_bayes (library API): classify every
    document by argmax over classes of
    log-prior + Σ_tokens log-likelihood, with unseen (class, token) pairs
    falling back to the Laplace floor ln(1/(class_total + V)). Returns
    (doc_id, actual_source, pred_source, log_post).

    Scale shape: the model (classes × vocab likelihoods + O(1) floors)
    joins token occurrences keyed on (token) after a broadcast of class
    state; scoring is one (doc, class) aggregate + one argmax min_by —
    the corpus shuffles only (doc_id, token) pairs. Ties break on class
    name for determinism."""
    from machinelearningalgomapreduce_spark.operators.ml import q_naive_bayes

    t = load_tables(spark, sf_dir)
    model = q_naive_bayes(spark, sf_dir)
    classes = model.select("source", "log_prior").distinct()
    # Laplace floor per class: ln(1 / (class_total + V)) reconstructed from
    # any of the class's rows: ll = ln((n+1)/(class_total+V)) at n = 0.
    tok_all = t.documents.select("source", F.explode(F.split("text", " ")).alias("token"))
    class_tokens = tok_all.groupBy("source").agg(F.count("*").alias("class_total"))
    vocab = tok_all.agg(F.countDistinct("token").alias("v"))
    # Floor rounded to 6 like every model log-likelihood it substitutes
    # for — mixing rounded and unrounded terms in one score sum would make
    # log_post irreproducible against a 6-decimal reference.
    floors = class_tokens.crossJoin(F.broadcast(vocab)).select(
        "source",
        F.round(
            F.log(1.0 / (F.col("class_total") + F.col("v")).cast("double")), 6
        ).alias("floor_ll"),
    )
    doc_tokens = t.documents.select(
        "doc_id",
        F.col("source").alias("actual_source"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    pairs = doc_tokens.crossJoin(F.broadcast(classes.select("source")))
    scored = (
        pairs.join(
            model.select("source", "token", "log_likelihood"), ["source", "token"], "left"
        )
        .join(F.broadcast(floors), "source")
        .select(
            "doc_id",
            "actual_source",
            "source",
            F.coalesce(F.col("log_likelihood"), F.col("floor_ll")).alias("ll"),
        )
    )
    posts = (
        scored.groupBy("doc_id", "actual_source", "source")
        .agg(F.sum("ll").alias("ll_sum"))
        .join(F.broadcast(classes), "source")
        .select(
            "doc_id",
            "actual_source",
            "source",
            (F.col("log_prior") + F.col("ll_sum")).alias("log_post"),
        )
    )
    best = F.max_by(
        F.struct(F.col("log_post"), F.col("source")),
        F.struct(F.col("log_post"), F.col("source")),
    )
    return posts.groupBy("doc_id", "actual_source").agg(
        best.getField("source").alias("pred_source"),
        best.getField("log_post").alias("log_post"),
    )


TFIDF_DF_CAP = 100  # posting-list cap: terms in more docs carry ~no signal


def similar_docs_tfidf(
    spark: SparkSession, sf_dir: str, top_k: int = 3
) -> DataFrame:
    """Sparse TF-IDF cosine document similarity through the inverted
    index (library API) — the classic MapReduce pairwise-similarity job
    (Elsayed et al.'s postings-product form): L2-normalize each doc's
    tf-idf vector, join the index with itself per term, sum weight
    products per (a, b) pair, keep top-k neighbours per doc.

    Scale shape: candidate fan-out is Σ_term df² — bounded by capping
    posting lists at df ≤ TFIDF_DF_CAP (stop-terms carry no signal; the
    cap is the standard df-cut). No doc × doc product anywhere; ties
    break on neighbour id."""
    t = load_tables(spark, sf_dir)
    tok = t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = t.documents.agg(F.count("*").alias("n_docs"))
    w = (
        tf.join(df.filter(F.col("df") <= TFIDF_DF_CAP), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    unit = w.join(norms, "doc_id").select(
        "token", "doc_id", (F.col("w") / F.col("nrm")).alias("u")
    )
    a, b = unit.alias("a"), unit.alias("b")
    sims = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.sum(F.col("a.u") * F.col("b.u")).alias("cos"))
    )
    sym = sims.select(
        F.col("da").alias("doc_id"), F.col("db").alias("nbr"), "cos"
    ).unionAll(sims.select(F.col("db").alias("doc_id"), F.col("da").alias("nbr"), "cos"))
    win = W.partitionBy("doc_id").orderBy(F.desc("cos"), F.asc("nbr"))
    return (
        sym.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "nbr", "cos", "rank")
    )


def boruvka_mst(edges: DataFrame, max_rounds: int = 25) -> DataFrame:
    """Distributed minimum spanning forest via Borůvka rounds (library
    API): every component picks its minimum outgoing edge (min_by on the
    totally-ordered weight tuple (w, u, v) — deterministic under weight
    ties), the picked edges join the forest, and components merge through
    the star connected-components loop. O(log n) rounds, each one
    edge-relabel join + one per-component min aggregate — the canonical
    MapReduce MST (Lattanzi et al.'s filtering family), never sorting the
    global edge list.

    Input: undirected (u, v, w); output: the forest edges (u, v, w) with
    |E| = nodes − components. Loop discipline: labels and forest
    materialized per round, O(1) convergence counts."""
    e = materialize_once(
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"), "w"
        )
    )
    labels = materialize_once(
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
    )
    forest = None
    converged = False
    for _ in range(max_rounds):
        lu = labels.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
        lv = labels.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
        cross = materialize_once(
            e.join(lu, "u")
            .join(lv, "v")
            .filter(F.col("cu") != F.col("cv"))
        )
        if cross.limit(1).count() == 0:
            converged = True
            break
        pick = F.struct("w", "u", "v").alias("cand")
        # Each side of the edge proposes it to its own component.
        proposals = cross.select(F.col("cu").alias("comp"), pick).unionAll(
            cross.select(F.col("cv").alias("comp"), pick)
        )
        chosen = materialize_once(
            proposals.groupBy("comp")
            .agg(F.min("cand").alias("m"))
            .select("m.u", "m.v", "m.w")
            .distinct()
        )
        forest = chosen if forest is None else forest.unionByName(chosen).distinct()
        forest = materialize_once(forest)
        # Merge: CC over the component-graph induced by the chosen edges.
        comp_edges = (
            chosen.join(lu, "u")
            .join(lv, "v")
            .select(F.col("cu").alias("u"), F.col("cv").alias("v"))
        )
        from machinelearningalgomapreduce_spark.operators.graph import (
            connected_components_star,
        )

        merged = connected_components_star(comp_edges)  # (node=old comp, root)
        labels = materialize_once(
            labels.join(
                merged.withColumnRenamed("node", "comp"), "comp", "left"
            )
            .select(
                "node", F.coalesce(F.col("root"), F.col("comp")).alias("comp")
            )
        )
    if not converged:
        # Rounds halve components, so this only fires on a caller-supplied
        # tiny max_rounds — fail loudly like connected_components_star
        # rather than return a forest missing edges.
        raise RuntimeError(f"Borůvka did not converge within {max_rounds} rounds")
    return forest if forest is not None else e.limit(0)


def single_linkage_clusters(
    spark: SparkSession, sf_dir: str, threshold: float, eps: float = 0.1
) -> DataFrame:
    """Single-linkage hierarchical clustering of the 2-D embedding
    projection, cut at `threshold` (library API): build the grid-blocked
    eps-graph with euclidean weights, take its Borůvka minimum spanning
    forest, DROP forest edges heavier than the cut, and read clusters off
    connected components — the standard MST formulation of single
    linkage (dendrogram levels = forest edge weights).

    Returns (vec_id, cluster) for every point (singletons cluster as
    themselves). Requires threshold ≤ eps: beyond the blocking radius the
    eps-graph has no edges to cut."""
    if threshold > eps:
        raise ValueError(f"threshold {threshold} exceeds blocking eps {eps}")
    from machinelearningalgomapreduce_spark.operators.graph import (
        connected_components_star,
    )

    t = load_tables(spark, sf_dir)
    pts = t.embeddings.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    pairs = _eps_pairs(pts, eps).filter(F.col("a_id") < F.col("b_id"))
    coords = pts.select(
        F.col("vec_id").alias("b_id"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    acoords = pts.select(
        F.col("vec_id").alias("a_id"), F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    w = F.sqrt(
        (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
        + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
    )
    weighted = (
        pairs.join(acoords, "a_id")
        .join(coords, "b_id")
        .select(F.col("a_id").alias("u"), F.col("b_id").alias("v"), w.alias("w"))
    )
    forest = boruvka_mst(weighted)
    kept = forest.filter(F.col("w") <= threshold).select("u", "v")
    roots = connected_components_star(kept)
    return pts.select("vec_id").join(
        roots, pts.vec_id == roots.node, "left"
    ).select(
        "vec_id", F.coalesce(F.col("root"), F.col("vec_id")).alias("cluster")
    )


def recommend_for_users(
    spark: SparkSession, sf_dir: str, top_n: int = 5
) -> DataFrame:
    """The serving half of item-item CF (library API): for each customer,
    score unseen items by Σ cosine over the customer's purchased items'
    neighbour lists (q_item_cf's top-k edges), drop already-purchased
    items, keep the top-n by (score desc, item asc). Returns
    (o_custkey, item, score, rank).

    Scale shape: the neighbour list is the SMALL side (items × k edges —
    broadcastable); user baskets join it keyed on the purchased item,
    scores aggregate per (user, candidate), and an anti-join removes
    owned items — never a user × item cross product. Scoring sums round
    each cosine to 6 and accumulate as DECIMAL, so ranking is
    shuffle-order-free."""
    t = load_tables(spark, sf_dir)
    owned = (
        t.lineitem.join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    nbrs = q_item_cf(spark, sf_dir).select(
        F.col("item").alias("l_partkey"),
        F.col("neighbor").alias("cand"),
        F.col("cosine").cast("decimal(18,6)").alias("w"),
    )
    scored = (
        owned.join(F.broadcast(nbrs), "l_partkey")
        .groupBy("o_custkey", "cand")
        .agg(F.sum("w").alias("score_sum"))
        .join(
            owned.select("o_custkey", F.col("l_partkey").alias("cand")),
            ["o_custkey", "cand"],
            "left_anti",
        )
    )
    win = W.partitionBy("o_custkey").orderBy(
        F.desc("score_sum"), F.asc("cand")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= top_n)
        .select(
            "o_custkey",
            F.col("cand").alias("item"),
            F.col("score_sum").cast("double").alias("score"),
            "rank",
        )
    )


def spearman_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_spearman's 100 TB twin (library API, bit-diffed in pytest): the
    same tie-averaged-rank correlation computed WITHOUT per-group sort
    windows. Ranks come from ``functions.ranking.distributed_rank``
    (range-repartition + local rank + broadcast offsets — fully
    parallel); the within-flag tie-averaged doubled rank of a value group
    is 2·(min_rn − flag_offset) + t − 1 on exact integers, so the output
    is bit-identical to the window form.

    Scale shape: two distributed-rank passes (each two parallel passes
    over the frame), two rank-map joins keyed on (flag, value), one
    moment aggregate — no window ever sees more than O(partitions) rows.
    """
    from machinelearningalgomapreduce_spark.functions.ranking import distributed_rank

    t = load_tables(spark, sf_dir)
    base = t.lineitem.select("l_returnflag", "l_quantity", "l_extendedprice")
    flag_counts = base.groupBy("l_returnflag").agg(F.count("*").alias("fc"))
    w_off = W.orderBy("l_returnflag").rowsBetween(W.unboundedPreceding, -1)
    offsets = flag_counts.select(
        "l_returnflag", F.coalesce(F.sum("fc").over(w_off), F.lit(0)).alias("off")
    )

    def rank_map(col: str, out: str) -> DataFrame:
        ranked = distributed_rank(
            base.select("l_returnflag", col), ["l_returnflag", col], rank_col="rn"
        )
        return (
            ranked.groupBy("l_returnflag", col)
            .agg(F.min("rn").alias("mn"), F.count("*").alias("t"))
            .join(F.broadcast(offsets), "l_returnflag")
            .select(
                "l_returnflag",
                col,
                (2 * (F.col("mn") - F.col("off")) + F.col("t") - 1)
                .cast("bigint")
                .alias(out),
            )
        )

    paired = base.join(
        rank_map("l_quantity", "rx"), ["l_returnflag", "l_quantity"]
    ).join(rank_map("l_extendedprice", "ry"), ["l_returnflag", "l_extendedprice"])
    return _rank_moments_to_rho(paired.select("l_returnflag", "rx", "ry"))


def em_fit(spark: SparkSession, sf_dir: str, rounds: int = 5) -> dict:
    """Full EM for the 2-component 1-D GMM on the quantity histogram
    (library API): parameters live in the driver (the MapReduce
    Configuration idiom), each round is ONE aggregate over the materialized
    50-row value histogram, and the per-round incomplete log-likelihood
    Σ c·ln(Σ_k π_k φ_k(v)) is recorded — EM guarantees it never
    decreases, which the test asserts. Returns {params, loglik}."""
    import math as _m

    t = load_tables(spark, sf_dir)
    hist = materialize_once(
        t.lineitem.groupBy(F.col("l_quantity").cast("bigint").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    p = {"mu1": EM_MU1, "mu2": EM_MU2, "s1": EM_SIGMA, "s2": EM_SIGMA, "pi2": EM_PI2}
    loglik: list[float] = []
    vd = F.col("v").cast("double")
    for _ in range(rounds):
        phi1 = F.exp(-(vd - p["mu1"]) * (vd - p["mu1"]) / (2 * p["s1"] ** 2)) / p["s1"]
        phi2 = F.exp(-(vd - p["mu2"]) * (vd - p["mu2"]) / (2 * p["s2"] ** 2)) / p["s2"]
        mix = (1 - p["pi2"]) * phi1 + p["pi2"] * phi2
        g2 = p["pi2"] * phi2 / mix
        m = hist.agg(
            F.sum(F.col("c") * F.log(mix)).alias("ll"),
            F.sum("c").alias("n"),
            F.sum(F.col("c") * g2).alias("n2"),
            F.sum(F.col("c") * g2 * vd).alias("sv2"),
            F.sum(F.col("c") * g2 * vd * vd).alias("sq2"),
            F.sum(F.col("c") * (1 - g2) * vd).alias("sv1"),
            F.sum(F.col("c") * (1 - g2) * vd * vd).alias("sq1"),
        ).collect()[0]
        loglik.append(float(m.ll) - 0.5 * _m.log(2 * _m.pi) * m.n)
        n1 = m.n - m.n2
        mu1, mu2 = m.sv1 / n1, m.sv2 / m.n2
        p = {
            "mu1": mu1,
            "mu2": mu2,
            "s1": max(_m.sqrt(max(m.sq1 / n1 - mu1 * mu1, 1e-6)), 1e-3),
            "s2": max(_m.sqrt(max(m.sq2 / m.n2 - mu2 * mu2, 1e-6)), 1e-3),
            "pi2": m.n2 / m.n,
        }
    return {"params": p, "loglik": loglik}


QUERIES = {
    "q_perceptron_step": q_perceptron_step,
    "q_adaboost_round": q_adaboost_round,
    "q_ridge_fit": q_ridge_fit,
    "q_gbt_stump": q_gbt_stump,
    "q_hits_step": q_hits_step,
    "q_power_iter": q_power_iter,
    "q_dbscan_core": q_dbscan_core,
    "q_item_cf": q_item_cf,
    "q_rating_baseline": q_rating_baseline,
    "q_spearman": q_spearman,
    "q_kruskal_wallis": q_kruskal_wallis,
    "q_em_step": q_em_step,
    "q_mutual_info": q_mutual_info,
}


ORACLES = {
    "q_perceptron_step": f"""
        WITH base AS (
            SELECT CASE WHEN label >= 5 THEN 1.0 ELSE -1.0 END AS y,
                   embedding,
                   round((CASE WHEN label >= 5 THEN 1.0 ELSE -1.0 END)
                         * list_sum(list_transform(embedding,
                                                   x -> {PERC_W0} * CAST(x AS DOUBLE))), 6)
                       AS margin
            FROM embeddings
        ), mis AS (
            SELECT * FROM base WHERE margin <= 0.0
        ), nm AS (
            SELECT count(*) AS n_mis FROM mis
        ), per_dim AS (
            SELECT d.d,
                   sum(CAST(round(y * CAST(embedding[d.d] AS DOUBLE), 6)
                            AS DECIMAL(18,6))) AS upd_sum
            FROM mis, (SELECT unnest({_DIMS}) AS d) d
            GROUP BY d.d
        )
        SELECT d, nm.n_mis,
               round({PERC_LR} * CAST(upd_sum AS DOUBLE), 6) AS delta,
               round({PERC_W0}
                     + round({PERC_LR} * CAST(upd_sum AS DOUBLE), 6), 6) AS w_new
        FROM per_dim, nm
    """,
    "q_adaboost_round": f"""
        WITH marked AS (
            SELECT (CASE WHEN CAST(embedding[1] AS DOUBLE) <= {ADA_THR}
                         THEN 1.0 ELSE -1.0 END)
                   = (CASE WHEN label >= 5 THEN 1.0 ELSE -1.0 END) AS is_correct
            FROM embeddings
        ), cohorts AS (
            SELECT is_correct, count(*) AS n_rows FROM marked GROUP BY is_correct
        ), tot AS (
            SELECT sum(n_rows) AS n,
                   sum(CASE WHEN NOT is_correct THEN n_rows ELSE 0 END) AS n_wrong
            FROM cohorts
        )
        SELECT is_correct, n_rows,
               round(CAST(n_wrong AS DOUBLE) / n, 6) AS eps,
               round(0.5 * ln(CAST(n - n_wrong AS DOUBLE) / n_wrong), 6) AS alpha,
               round((CASE WHEN is_correct
                           THEN exp(-round(0.5 * ln(CAST(n - n_wrong AS DOUBLE) / n_wrong), 6))
                           ELSE exp(round(0.5 * ln(CAST(n - n_wrong AS DOUBLE) / n_wrong), 6))
                      END)
                     / (n * (((n - n_wrong)
                              * exp(-round(0.5 * ln(CAST(n - n_wrong AS DOUBLE) / n_wrong), 6))
                              + n_wrong
                              * exp(round(0.5 * ln(CAST(n - n_wrong AS DOUBLE) / n_wrong), 6)))
                             / n)), 10) AS w_new
        FROM cohorts, tot
    """,
    "q_ridge_fit": f"""
        WITH m AS (
            SELECT l_linestatus,
                   count(*) AS n,
                   sum(CAST(l_quantity AS BIGINT)) AS sx,
                   sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
                   sum(CAST(CAST(l_quantity AS BIGINT)
                            * CAST(l_extendedprice AS DECIMAL(18,2))
                            AS DECIMAL(28,2))) AS sxy,
                   sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx
            FROM lineitem GROUP BY l_linestatus
        )
        SELECT l_linestatus, n,
               round((CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
                      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                     / (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                        - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                          * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                        + {RIDGE_LAMBDA} / CAST(n AS DOUBLE)), 6) AS slope_ridge,
               round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                     - round((CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
                              - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                                * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                             / (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                                - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                                  * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                                + {RIDGE_LAMBDA} / CAST(n AS DOUBLE)), 6)
                       * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS intercept
        FROM m
    """,
    "q_gbt_stump": f"""
        WITH grid AS (
            SELECT CAST(unnest([{", ".join(str(x) for x in GBT_THRESHOLDS)}]) AS DOUBLE) AS thr
        ), agg AS (
            SELECT thr,
                   sum(CASE WHEN l_extendedprice <= thr THEN 1 ELSE 0 END) AS n_l,
                   sum(CASE WHEN l_extendedprice <= thr
                            THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS s_l,
                   sum(CASE WHEN l_extendedprice <= thr
                            THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                            ELSE 0 END) AS q_l,
                   sum(CASE WHEN l_extendedprice > thr THEN 1 ELSE 0 END) AS n_r,
                   sum(CASE WHEN l_extendedprice > thr
                            THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS s_r,
                   sum(CASE WHEN l_extendedprice > thr
                            THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                            ELSE 0 END) AS q_r
            FROM lineitem CROSS JOIN grid
            GROUP BY thr
        )
        SELECT thr,
               CAST(n_l AS BIGINT) AS n_l,
               CAST(n_r AS BIGINT) AS n_r,
               CASE WHEN n_l > 0
                    THEN CAST(floor(CAST(s_l AS DOUBLE) / CAST(n_l AS DOUBLE)
                                    * 1000000.0 + 0.5) AS BIGINT)
               END AS mean_l_micro,
               CASE WHEN n_r > 0
                    THEN CAST(floor(CAST(s_r AS DOUBLE) / CAST(n_r AS DOUBLE)
                                    * 1000000.0 + 0.5) AS BIGINT)
               END AS mean_r_micro,
               CAST(floor(((CASE WHEN n_l > 0
                                 THEN CAST(q_l AS DOUBLE)
                                      - (CAST(s_l AS DOUBLE) / CAST(n_l AS DOUBLE))
                                        * CAST(s_l AS DOUBLE)
                                 ELSE 0.0 END)
                           + (CASE WHEN n_r > 0
                                   THEN CAST(q_r AS DOUBLE)
                                        - (CAST(s_r AS DOUBLE) / CAST(n_r AS DOUBLE))
                                          * CAST(s_r AS DOUBLE)
                                   ELSE 0.0 END)) * 10000.0 + 0.5) AS BIGINT) AS sse_e4
        FROM agg
    """,
    "q_hits_step": """
        WITH edges AS (
            SELECT DISTINCT o_custkey, l_partkey
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), auth1 AS (
            SELECT l_partkey, count(*) AS a1 FROM edges GROUP BY l_partkey
        ), hub1 AS (
            SELECT e.o_custkey, sum(a1) AS h1
            FROM edges e JOIN auth1 USING (l_partkey) GROUP BY e.o_custkey
        ), auth2 AS (
            SELECT e.l_partkey, sum(h1) AS auth
            FROM edges e JOIN hub1 USING (o_custkey) GROUP BY e.l_partkey
        ), nrm AS (
            SELECT sum(auth * auth) AS s2 FROM auth2
        )
        SELECT l_partkey, CAST(auth AS BIGINT) AS auth,
               CAST(floor(auth / sqrt(CAST(s2 AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT) AS auth_norm_micro
        FROM auth2, nrm
    """,
    "q_power_iter": f"""
        WITH {_REPEAT_EDGE_CTES}, v1 AS (
            SELECT node, count(*) AS v1 FROM nbrs GROUP BY node
        ), v2 AS (
            SELECT n.node, sum(w.v1) AS v2
            FROM nbrs n JOIN v1 w ON w.node = n.nbr
            GROUP BY n.node
        ), nrm AS (
            SELECT sum(v2 * v2) AS s2 FROM v2
        )
        SELECT node, CAST(v2 AS BIGINT) AS v2,
               CAST(floor(v2 / sqrt(CAST(s2 AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT) AS v2_norm_micro
        FROM v2, nrm
    """,
    "q_dbscan_core": f"""
        WITH p AS (
            SELECT vec_id,
                   CAST(embedding[1] AS DOUBLE) AS x,
                   CAST(embedding[2] AS DOUBLE) AS y
            FROM embeddings
        )
        SELECT a.vec_id, count(*) AS n_nbrs
        FROM p a JOIN p b
          ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             <= {DBSCAN_EPS * DBSCAN_EPS}
        GROUP BY a.vec_id
        HAVING count(*) >= {DBSCAN_MINPTS}
    """,
    "q_item_cf": f"""
        WITH baskets AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), n_i AS (
            SELECT l_partkey, count(*) AS n_orders FROM baskets GROUP BY l_partkey
        ), co AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS co
            FROM baskets a JOIN baskets b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= {CF_MIN_CO}
        ), sym AS (
            SELECT u, v, co FROM co
            UNION ALL
            SELECT v AS u, u AS v, co FROM co
        ), scored AS (
            SELECT sym.u, sym.v, sym.co,
                   CAST(sym.co AS DOUBLE)
                   / sqrt(CAST(nu.n_orders * nv.n_orders AS DOUBLE)) AS cos_raw
            FROM sym
            JOIN n_i nu ON nu.l_partkey = sym.u
            JOIN n_i nv ON nv.l_partkey = sym.v
        )
        SELECT u AS item, v AS neighbor, co,
               round(cos_raw, 6) AS cosine, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY u
                                           ORDER BY cos_raw DESC, v) AS rank
              FROM scored)
        WHERE rank <= {CF_TOPK}
    """,
    "q_rating_baseline": f"""
        WITH ratings AS (
            SELECT o.o_custkey, l.l_partkey, CAST(l.l_quantity AS BIGINT) AS r
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ), gmean AS (
            SELECT CAST(CAST(round(CAST(sum(r) AS DOUBLE) / count(*), 6)
                             AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS mu_micro
            FROM ratings
        ), item AS (
            SELECT l_partkey, g.mu_micro,
                   CAST(floor(CAST(2 * (sum(r) * 1000000 - count(*) * g.mu_micro)
                                   + ({BASELINE_DAMP:.0f} + count(*)) AS DOUBLE)
                              / CAST(2 * ({BASELINE_DAMP:.0f} + count(*)) AS DOUBLE))
                        AS BIGINT) AS bi_micro
            FROM ratings, gmean g
            GROUP BY l_partkey, g.mu_micro
        ), resid AS (
            SELECT r.o_custkey,
                   r.r * 1000000 - i.mu_micro - i.bi_micro AS resid6
            FROM ratings r JOIN item i USING (l_partkey)
        )
        SELECT o_custkey, count(*) AS n_u,
               CAST(floor(CAST(2 * sum(resid6) + ({BASELINE_DAMP:.0f} + count(*)) AS DOUBLE)
                          / CAST(2 * ({BASELINE_DAMP:.0f} + count(*)) AS DOUBLE))
                    AS BIGINT) / 1000000.0 AS b_u
        FROM resid GROUP BY o_custkey
    """,
    "q_spearman": """
        WITH ranked AS (
            SELECT l_returnflag,
                   CAST(2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                        + count(*) OVER (PARTITION BY l_returnflag, l_quantity)
                        - 1 AS BIGINT) AS rx,
                   CAST(2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                        + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
                        - 1 AS BIGINT) AS ry
            FROM lineitem
        ), m AS (
            SELECT l_returnflag, count(*) AS n,
                   sum(rx) AS sx, sum(ry) AS sy,
                   sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
            FROM ranked GROUP BY l_returnflag
        ), moments AS (
            SELECT l_returnflag, n,
                   CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cov,
                   CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS vx,
                   CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS vy
            FROM m
        )
        SELECT l_returnflag, n,
               CASE WHEN vx > 0 AND vy > 0
                    THEN round(cov / sqrt(vx * vy), 6) END AS rho
        FROM moments
    """,
    "q_kruskal_wallis": """
        WITH ranked AS (
            SELECT l_returnflag,
                   CAST(2 * rank() OVER (ORDER BY l_quantity)
                        + count(*) OVER (PARTITION BY l_quantity) - 1 AS BIGINT) AS r2
            FROM lineitem
        ), groups AS (
            SELECT l_returnflag, count(*) AS n_j, sum(r2) AS r2_j
            FROM ranked GROUP BY l_returnflag
        ), hsum AS (
            SELECT sum(n_j) AS n,
                   count(*) AS k,
                   list_sum(list((CAST(r2_j AS DOUBLE) / 2.0)
                                 * (CAST(r2_j AS DOUBLE) / 2.0) / n_j
                                 ORDER BY l_returnflag)) AS h_sum
            FROM groups
        ), tie_sum AS (
            SELECT sum(t * t * t - t) AS tie3
            FROM (SELECT count(*) AS t FROM lineitem GROUP BY l_quantity)
        )
        SELECT CAST(n AS BIGINT) AS n, k - 1 AS df,
               CAST(floor((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                           * h_sum
                           - 3.0 * (CAST(n AS DOUBLE) + 1.0)) * 1000000.0 + 0.5)
                    AS BIGINT) AS h_micro,
               CASE WHEN 1.0 - CAST(tie3 AS DOUBLE)
                             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                                - CAST(n AS DOUBLE)) > 0
                    THEN CAST(floor((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                                     * h_sum
                                     - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                                    / (1.0 - CAST(tie3 AS DOUBLE)
                                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                                          * CAST(n AS DOUBLE)
                                          - CAST(n AS DOUBLE)))
                                    * 1000000.0 + 0.5) AS BIGINT)
               END AS h_corrected_micro
        FROM hsum, tie_sum
    """,
    "q_em_step": f"""
        WITH hist AS (
            SELECT CAST(l_quantity AS BIGINT) AS v, count(*) AS c
            FROM lineitem GROUP BY 1
        ), resp AS (
            SELECT v, c,
                   round(1.0 - ({EM_PI2} * exp(-(CAST(v AS DOUBLE) - {EM_MU2})
                                               * (CAST(v AS DOUBLE) - {EM_MU2})
                                               / {2.0 * EM_SIGMA * EM_SIGMA}))
                         / ((1.0 - {EM_PI2})
                            * exp(-(CAST(v AS DOUBLE) - {EM_MU1})
                                  * (CAST(v AS DOUBLE) - {EM_MU1})
                                  / {2.0 * EM_SIGMA * EM_SIGMA})
                            + {EM_PI2} * exp(-(CAST(v AS DOUBLE) - {EM_MU2})
                                             * (CAST(v AS DOUBLE) - {EM_MU2})
                                             / {2.0 * EM_SIGMA * EM_SIGMA})), 6) AS g1,
                   round(({EM_PI2} * exp(-(CAST(v AS DOUBLE) - {EM_MU2})
                                         * (CAST(v AS DOUBLE) - {EM_MU2})
                                         / {2.0 * EM_SIGMA * EM_SIGMA}))
                         / ((1.0 - {EM_PI2})
                            * exp(-(CAST(v AS DOUBLE) - {EM_MU1})
                                  * (CAST(v AS DOUBLE) - {EM_MU1})
                                  / {2.0 * EM_SIGMA * EM_SIGMA})
                            + {EM_PI2} * exp(-(CAST(v AS DOUBLE) - {EM_MU2})
                                             * (CAST(v AS DOUBLE) - {EM_MU2})
                                             / {2.0 * EM_SIGMA * EM_SIGMA})), 6) AS g2
            FROM hist
        ), m AS (
            SELECT sum(c) AS n,
                   sum(CAST(c * g1 AS DECIMAL(28,6))) AS n1,
                   sum(CAST(c * g2 AS DECIMAL(28,6))) AS n2,
                   sum(CAST(c * g1 * CAST(v AS DOUBLE) AS DECIMAL(28,6))) AS sv1,
                   sum(CAST(c * g2 * CAST(v AS DOUBLE) AS DECIMAL(28,6))) AS sv2,
                   sum(CAST(c * g1 * CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
                            AS DECIMAL(28,6))) AS sq1,
                   sum(CAST(c * g2 * CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
                            AS DECIMAL(28,6))) AS sq2
            FROM resp
        )
        SELECT 1 AS component,
               round(CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pi_new,
               round(CAST(sv1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS mu_new,
               round(CAST(sq1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                     - (CAST(sv1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                       * (CAST(sv1 AS DOUBLE) / CAST(n1 AS DOUBLE)), 6) AS var_new
        FROM m
        UNION ALL
        SELECT 2 AS component,
               round(CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pi_new,
               round(CAST(sv2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS mu_new,
               round(CAST(sq2 AS DOUBLE) / CAST(n2 AS DOUBLE)
                     - (CAST(sv2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                       * (CAST(sv2 AS DOUBLE) / CAST(n2 AS DOUBLE)), 6) AS var_new
        FROM m
    """,
    "q_mutual_info": """
        WITH cells AS (
            SELECT l_returnflag, l_linestatus, count(*) AS n_xy
            FROM lineitem GROUP BY 1, 2
        ), mx AS (
            SELECT l_returnflag, count(*) AS n_x FROM lineitem GROUP BY 1
        ), my AS (
            SELECT l_linestatus, count(*) AS n_y FROM lineitem GROUP BY 1
        ), tot AS (
            SELECT count(*) AS n FROM lineitem
        ), joined AS (
            SELECT c.l_returnflag, c.l_linestatus, c.n_xy,
                   ln((CAST(c.n_xy AS DOUBLE) / CAST(t.n AS DOUBLE))
                      / ((CAST(x.n_x AS DOUBLE) / CAST(t.n AS DOUBLE))
                         * (CAST(y.n_y AS DOUBLE) / CAST(t.n AS DOUBLE)))) AS pmi_raw,
                   CAST(round((CAST(c.n_xy AS DOUBLE) / CAST(t.n AS DOUBLE))
                              * ln((CAST(c.n_xy AS DOUBLE) / CAST(t.n AS DOUBLE))
                                   / ((CAST(x.n_x AS DOUBLE) / CAST(t.n AS DOUBLE))
                                      * (CAST(y.n_y AS DOUBLE) / CAST(t.n AS DOUBLE)))), 10)
                        AS DECIMAL(28,10)) AS contrib
            FROM cells c
            JOIN mx x USING (l_returnflag)
            JOIN my y USING (l_linestatus)
            CROSS JOIN tot t
        )
        SELECT l_returnflag, l_linestatus, n_xy,
               round(pmi_raw, 6) AS pmi,
               CAST(contrib AS DOUBLE) AS contribution,
               CAST(sum(contrib) OVER () AS DOUBLE) AS mi_total
        FROM joined
    """,
}


def q_density_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOF-style density-ratio outlier score on the 2-D embedding
    projection: each point's eps-ball count over the mean count of its
    eps-neighbors (self included, the simplified-LOF convention) — low
    ratios mark points whose neighborhood is sparser than their
    neighbors', the density-outlier signal DBSCAN's binary core test
    can't grade. Companion of q_dbscan_core on the same grid blocks.

    The ratio is an EXACT INTEGER rational: cnt(p)·|N(p)| over
    Σ_{b∈N(p)} cnt(b), emitted via half_up micro; the outlier flag is
    the cross-multiplied integer inequality 2·cnt·|N| < Σcnt (ratio
    below ½). No float anywhere; the oracle brute-forces the identical
    distance predicate at fixture scale.

    Scale shape: the 3×3 grid-cell candidate join (bounded 9× fan-out)
    runs TWICE — once for counts, once to average neighbor counts keyed
    on the point — both aggregates keyed on point id; per-point state is
    O(1)."""
    from machinelearningalgomapreduce_spark.functions.fixedpoint import half_up

    t = load_tables(spark, sf_dir)
    pts = t.embeddings.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    pairs = _eps_pairs(pts, DBSCAN_EPS)
    cnt = pairs.groupBy(F.col("a_id").alias("vec_id")).agg(
        F.count("*").alias("cnt")
    )
    nbr_cnt = (
        pairs.join(cnt.select(F.col("vec_id").alias("b_id"), F.col("cnt").alias("cnt_b")), "b_id")
        .groupBy(F.col("a_id").alias("vec_id"))
        .agg(F.count("*").alias("n_nbrs"), F.sum("cnt_b").alias("sum_cnt"))
    )
    out = cnt.join(nbr_cnt, "vec_id").select(
        "vec_id",
        "cnt",
        "n_nbrs",
        half_up(F.col("cnt") * F.col("n_nbrs") * 1_000_000, F.col("sum_cnt")).alias(
            "ratio_micro"
        ),
        (2 * F.col("cnt") * F.col("n_nbrs") < F.col("sum_cnt")).cast("int").alias(
            "is_outlier"
        ),
    )
    return out


QUERIES["q_density_ratio"] = q_density_ratio

ORACLES["q_density_ratio"] = f"""
    WITH p AS (
        SELECT vec_id,
               CAST(embedding[1] AS DOUBLE) AS x,
               CAST(embedding[2] AS DOUBLE) AS y
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM p a JOIN p b
          ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             <= {DBSCAN_EPS * DBSCAN_EPS}
    ),
    cnt AS (
        SELECT a_id AS vec_id, count(*) AS cnt FROM pairs GROUP BY a_id
    ),
    nbr AS (
        SELECT pr.a_id AS vec_id, count(*) AS n_nbrs, sum(c.cnt) AS sum_cnt
        FROM pairs pr JOIN cnt c ON pr.b_id = c.vec_id
        GROUP BY pr.a_id
    )
    SELECT c.vec_id, CAST(c.cnt AS BIGINT) AS cnt,
           CAST(n.n_nbrs AS BIGINT) AS n_nbrs,
           CAST(floor((2 * (c.cnt * n.n_nbrs * 1000000) + n.sum_cnt)
                      / (2 * n.sum_cnt)) AS BIGINT) AS ratio_micro,
           CAST(CASE WHEN 2 * c.cnt * n.n_nbrs < n.sum_cnt THEN 1 ELSE 0 END
                AS INTEGER) AS is_outlier
    FROM cnt c JOIN nbr n ON c.vec_id = n.vec_id
"""


TARGET_ENC_M = 20  # pseudo-count weight of the global prior


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target-mean encoding of a categorical feature — the
    feature-engineering staple that replaces a high-cardinality category
    with its shrunken positive rate before a downstream fit (the same
    supervised signal q_woe_iv audits, packaged as a usable feature):
    enc(c) = (S_c + m·prior) / (n_c + m), prior = S/N, m = 20.

    Exactness: with integer counts the encoding is the exact rational
    (S_c·N + m·S) / (N·(n_c + m)) — one correctly-rounded double
    division on ≤2^53 integers, emitted as fixed-point micros. The
    global (S, N) pair is a 1-row broadcast (DistributedCache idiom).

    Scale shape: one map-side-combinable aggregate keyed by the bounded
    category domain + a 1-row total — the plan never shuffles raw rows,
    which is what makes the encoder safe to refit per training epoch at
    100 TB. High-cardinality categories (user ids) keep the same plan:
    the aggregate stays keyed, only the output domain grows.
    """
    t = load_tables(spark, sf_dir)
    s = t.events.select(
        "event_type", (F.col("value") >= 50.0).cast("bigint").alias("tgt")
    )
    per_cat = s.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("tgt").alias("n_pos")
    )
    tot = s.agg(
        F.count("*").alias("n_tot"), F.sum("tgt").alias("pos_tot")
    )
    m = F.lit(TARGET_ENC_M)
    enc_num = (F.col("n_pos") * F.col("n_tot") + m * F.col("pos_tot")).cast("double")
    enc_den = (F.col("n_tot") * (F.col("n") + m)).cast("double")
    prior = F.col("pos_tot").cast("double") / F.col("n_tot").cast("double")
    out = per_cat.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        "n_pos",
        F.floor(prior * 1000000.0 + F.lit(0.5)).cast("bigint").alias("prior_micro"),
        F.floor(enc_num / enc_den * 1000000.0 + F.lit(0.5)).cast("bigint").alias("enc_micro"),
    )
    from machinelearningalgomapreduce_spark.operators.relational import tiny_sorted

    return tiny_sorted(out, "event_type")


QUERIES["q_target_encode"] = q_target_encode

ORACLES["q_target_encode"] = f"""
    WITH s AS (
        SELECT event_type, CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS tgt
        FROM events
    ),
    per_cat AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(tgt) AS BIGINT) AS n_pos
        FROM s GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_tot,
               CAST(sum(tgt) AS BIGINT) AS pos_tot
        FROM s
    )
    SELECT event_type, n, n_pos,
           CAST(floor(CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) AS prior_micro,
           CAST(floor(CAST(n_pos * n_tot + {TARGET_ENC_M} * pos_tot AS DOUBLE)
                      / CAST(n_tot * (n + {TARGET_ENC_M}) AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) AS enc_micro
    FROM per_cat, tot
    ORDER BY event_type
"""
