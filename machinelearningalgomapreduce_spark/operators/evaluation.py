"""Model/experiment evaluation statistics (SURVEY.md §2C profiling tier).

The reference repo class stops at producing model output (assignments,
counts); a production pipeline also has to JUDGE that output — independence
tests on contingency tables, distribution-shift tests between cohorts,
experiment significance, clustering quality. Each operator here is the
declarative Spark form of a classic map(partial-statistics)+reduce(fold)
job, oracle-paired with DuckDB.

Float policy (SURVEY.md §5.2.3): every decision that could be affected by
double summation order is made on exact integers (KS distance via
cross-multiplied cumulative counts, chi-squared cell counts) or on values
rounded to 6 decimals in BOTH engines before use (centroid distances).

Scale notes (100 TB posture):
- chi2 / KS / A-B reduce the fact table with ONE hash aggregate whose key
  domain is small (types × bands, distinct metric values, variants); every
  later join touches only model-sized frames and is broadcast.
- silhouette/confusion inherit the assignment shape from operators/ml.py:
  data ⋈ broadcast(centroids), no fact-table shuffle beyond the O(scalars)
  argmin aggregate.
- outlier fences are an O(groups) broadcast model, exactly like
  q_anomaly_zscore: the fact table is scanned once and never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from machinelearningalgomapreduce_spark.operators.ml import (
    _ASSIGN_CTES,
    assign_nearest,
    label_centroids,
)
from machinelearningalgomapreduce_spark.functions.joins import fan_out
from machinelearningalgomapreduce_spark.sources.catalog import load_tables
from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM

HOUR_BAND_WIDTH = 6  # 4 six-hour bands per day
KS_TYPE_A, KS_TYPE_B = "click", "purchase"
AB_Z_CRIT = 1.959964  # two-sided 95%
IQR_FENCE = 1.5


def q_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test: is event_type independent of the
    six-hour time band? One contingency aggregate over the fact table,
    then all arithmetic on the O(types × bands) cell frame.

    Cell/marginal counts are exact integers; only the final statistic is a
    double (rounded 6). Expected counts use the exact integer products
    rt·ct before one double division, so per-cell terms are engine-equal.

    round(sum(term), 6) audit (r15, the half-boundary class): the summand
    is a continuous-valued rational ((n−e)²/e with a large composite
    denominator rt·ct·nn), so the true statistic is a.s. off every 6dp
    half-boundary; the sum runs over O(types × bands) ≈ 20 engine-equal
    terms — documented double sum, not the grid-money class
    (functions/money.py)."""
    t = load_tables(spark, sf_dir)
    cells = t.events.groupBy(
        "event_type", (F.hour("ts") / HOUR_BAND_WIDTH).cast("int").alias("band")
    ).agg(F.count("*").alias("n"))
    row_tot = cells.groupBy("event_type").agg(F.sum("n").alias("rt"))
    col_tot = cells.groupBy("band").agg(F.sum("n").alias("ct"))
    grand = cells.agg(F.sum("n").alias("nn"))
    expected = F.col("rt") * F.col("ct") / F.col("nn").cast("double")
    term = (F.col("n") - expected) * (F.col("n") - expected) / expected
    joined = (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "band")
        .crossJoin(F.broadcast(grand))
    )
    # Set sizes over the bounded cell domain, not countDistinct: a
    # multi-distinct aggregate plans an Expand whose column order follows
    # session history (same in q_cramers_v, q_friedman, q_g_test).
    n_types = F.size(F.collect_set("event_type")).cast("bigint")
    n_bands = F.size(F.collect_set("band")).cast("bigint")
    return joined.agg(
        F.count("*").alias("n_cells"),
        n_types.alias("n_types"),
        n_bands.alias("n_bands"),
        ((n_types - 1) * (n_bands - 1)).alias("dof"),
        F.round(F.sum(term), 6).alias("chi2"),
    )


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the `value`
    distributions of click vs purchase events (distribution-shift check
    between cohorts — the test a data pipeline runs before/after a change).

    D = max |ECDF_a - ECDF_b| evaluated at every distinct value. The max
    is taken over the EXACT integer |c_a·N_b - c_b·N_a| (cumulative counts
    cross-multiplied), so the argmax never touches floats; only the final
    ratio is a rounded double. Values group bit-exactly: they come straight
    from parquet, no arithmetic.

    Scale shape: one hash aggregate keyed by distinct metric value, one
    global cumulative window over the (far smaller) distinct-value frame,
    one 1-row rollup. At 100 TB bucket the metric first (KS on a quantized
    grid) to bound the window input."""
    t = load_tables(spark, sf_dir)
    both = t.events.filter(F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B))
    per_value = both.groupBy("value").agg(
        F.sum((F.col("event_type") == KS_TYPE_A).cast("bigint")).alias("na"),
        F.sum((F.col("event_type") == KS_TYPE_B).cast("bigint")).alias("nb"),
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, 0)
    cum = per_value.select(
        F.sum("na").over(w).alias("ca"), F.sum("nb").over(w).alias("cb")
    )
    totals = per_value.agg(F.sum("na").alias("n_a"), F.sum("nb").alias("n_b"))
    diff = F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max(diff).alias("d_num"),
        )
        .select(
            "n_a",
            "n_b",
            "d_num",
            F.round(
                F.try_divide(
                    F.col("d_num"), (F.col("n_a") * F.col("n_b")).cast("double")
                ),
                6,
            ).alias("ks_d"),
        )
    )


def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test between the click and purchase
    `value` distributions — the nonparametric sibling of q_ab_test's
    Welch t, the right test when the metric is skewed or ordinal.

    Exactness: U is never computed from floating ranks. Using the
    identity U_A = Σ_v na(v)·(cb_before(v) + nb(v)/2), we accumulate
    2·U_A = Σ na·(2·cb_before + nb) — an exact integer — plus the exact
    tie term Σ(t³−t). The tie-corrected variance is kept exact-rational:
    numerator na·nb·((N+1)N(N−1) − Σ(t³−t)) and denominator 12·N(N−1)
    as wide integers (DECIMAL(38) here, HUGEINT in the oracle — the
    numerator overflows int64 beyond ~30k samples), with ONE double
    division at the end — float-op-order identical across engines, which
    round(·,6) alone cannot guarantee on a ~1e9-magnitude variance. The
    variance itself is NOT an output column (engine round() algorithms
    differ by ulps at that magnitude; measured: Spark's BigDecimal
    HALF_UP vs DuckDB's multiply-round-divide land 5 ulps apart on this
    fixture) — z carries the decision and is O(1), where round-6 is
    engine-stable.

    Scale shape: the q_ks_test envelope — one hash aggregate keyed by
    distinct metric value, one cumulative window over the distinct-value
    frame (quantize the metric at 100 TB to bound it), one 1-row rollup.
    """
    t = load_tables(spark, sf_dir)
    both = t.events.filter(F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B))
    per_value = both.groupBy("value").agg(
        F.sum((F.col("event_type") == KS_TYPE_A).cast("bigint")).alias("na"),
        F.sum((F.col("event_type") == KS_TYPE_B).cast("bigint")).alias("nb"),
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, 0)
    cum = per_value.withColumn("cb", F.sum("nb").over(w))
    tie = F.col("na") + F.col("nb")
    stats = cum.agg(
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.sum(F.col("na") * (2 * (F.col("cb") - F.col("nb")) + F.col("nb"))).alias("u2"),
        F.sum(tie * tie * tie - tie).alias("tie3"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    u = F.col("u2") / 2.0
    mean_u = na * nb / 2.0
    d38 = "decimal(38,0)"
    nn_i = (F.col("n_a") + F.col("n_b")).cast(d38)
    var_num = F.col("n_a").cast(d38) * F.col("n_b").cast(d38) * (
        (nn_i + 1) * nn_i * (nn_i - 1) - F.col("tie3").cast(d38)
    )
    var_den = (nn_i * (nn_i - 1)) * 12
    var_u = var_num.cast("double") / var_den.cast("double")
    z = F.round(F.try_divide(u - mean_u, F.sqrt(var_u)), 6)
    return stats.select(
        "n_a",
        "n_b",
        F.round(u, 1).alias("u_stat"),
        F.round(mean_u, 1).alias("mean_u"),
        z.alias("z_score"),
        (F.abs(z) > AB_Z_CRIT).alias("significant"),
    )


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment read-out: Welch's t-test on the event `value` metric
    between two variants assigned deterministically by user-id parity.
    (A proportion test on "user made a purchase" saturates on this fixture
    — every user converts — so the continuous-metric form is the one that
    generalizes.)

    Exactness: the fixture metric carries ≤6 decimals, so Σx and Σx² are
    accumulated as exact DECIMALs (order-independent, engine-identical —
    the q_cov_matrix pattern); means/variances/t are derived doubles,
    rounded to 6 BEFORE the significance comparison so both engines flip
    the flag identically.

    Scale shape: ONE conditional hash aggregate over the fact table with
    map-side partials; everything after is 1-row arithmetic."""
    t = load_tables(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,6)")
    even = F.pmod(F.col("user_id"), F.lit(2)) == 0
    agg = t.events.agg(
        F.sum(even.cast("bigint")).alias("n0"),
        F.sum(F.when(even, dec)).alias("sx0"),
        F.sum(F.when(even, dec * dec)).alias("sxx0"),
        F.sum((~even).cast("bigint")).alias("n1"),
        F.sum(F.when(~even, dec)).alias("sx1"),
        F.sum(F.when(~even, dec * dec)).alias("sxx1"),
    )
    n0, n1 = F.col("n0").cast("double"), F.col("n1").cast("double")
    sx0, sxx0 = F.col("sx0").cast("double"), F.col("sxx0").cast("double")
    sx1, sxx1 = F.col("sx1").cast("double"), F.col("sxx1").cast("double")
    m0, m1 = sx0 / n0, sx1 / n1
    v0 = (sxx0 - sx0 * sx0 / n0) / (n0 - 1)
    v1 = (sxx1 - sx1 * sx1 / n1) / (n1 - 1)
    tstat = F.round((m1 - m0) / F.sqrt(v0 / n0 + v1 / n1), 6)
    return agg.select(
        "n0",
        "n1",
        F.round(m0, 6).alias("mean0"),
        F.round(m1, 6).alias("mean1"),
        F.round(v0, 6).alias("var0"),
        F.round(v1, 6).alias("var1"),
        tstat.alias("t_stat"),
        (F.abs(tstat) > AB_Z_CRIT).alias("significant"),
    )


def q_cluster_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-vs-label confusion matrix: seeded-centroid assignment
    (operators/ml.py::assign_nearest) crossed with the true label, plus
    each cluster's share of its row — the purity read-out of a clustering
    run. Inherits the broadcast-model assignment shape; the confusion
    aggregate's key domain is clusters × labels (O(k²))."""
    t = load_tables(spark, sf_dir)
    assigned = assign_nearest(t.embeddings, label_centroids(t.embeddings), EMBEDDING_DIM)
    cm = assigned.groupBy("cluster", "label").agg(F.count("*").alias("n_vecs"))
    w = W.partitionBy("cluster")
    return cm.select(
        "cluster",
        "label",
        "n_vecs",
        F.sum("n_vecs").over(w).alias("cluster_n"),
        F.round(F.col("n_vecs") / F.sum("n_vecs").over(w).cast("double"), 6).alias("frac"),
    )


def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-form silhouette per cluster: for every vector,
    a = distance to its own (nearest) centroid, b = distance to the
    second-nearest; s = (b − a) / max(a, b); report each cluster's mean.
    The standard "how separated are my clusters" read-out, computable
    without the O(n²) pairwise form — this IS the 100 TB variant.

    Distances are the same rounded-to-6 squared-L2 as the assignment, so
    the (a, b) pick is engine-deterministic (ties break on cluster id);
    per-vector s is rounded before the mean, the mean rounded after."""
    t = load_tables(spark, sf_dir)
    cents = label_centroids(t.embeddings).select(
        F.col("label").alias("cluster"), "centroid"
    )
    from machinelearningalgomapreduce_spark.functions.vectors import sq_dist

    dist2 = F.round(sq_dist(F.col("embedding"), F.col("centroid"), EMBEDDING_DIM), 6)
    scored = t.embeddings.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cluster", dist2.alias("dist2")
    )
    best2 = (
        scored.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("dist2", "cluster"))).alias("srt"))
        .select(
            "vec_id",
            F.col("srt")[0]["cluster"].alias("cluster"),
            F.sqrt(F.col("srt")[0]["dist2"]).alias("a"),
            F.sqrt(F.col("srt")[1]["dist2"]).alias("b"),
        )
    )
    s = F.when(F.greatest("a", "b") == 0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    return (
        best2.select("cluster", F.round(s, 6).alias("s"))
        .groupBy("cluster")
        .agg(F.count("*").alias("n_vecs"), F.round(F.avg("s"), 6).alias("mean_silhouette"))
    )


def q_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR-fence outlier detection per event_type (Tukey fences at
    1.5×IQR) — the robust complement to q_anomaly_zscore. Fences are an
    O(types) broadcast model; the fact table is scanned once, never
    shuffled. Fences are rounded to 6 in both engines before the
    comparison so the keep/flag decision is engine-identical."""
    t = load_tables(spark, sf_dir)
    fences = t.events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("q3"),
    )
    lo = F.round(F.col("q1") - IQR_FENCE * (F.col("q3") - F.col("q1")), 6)
    hi = F.round(F.col("q3") + IQR_FENCE * (F.col("q3") - F.col("q1")), 6)
    flagged = t.events.join(F.broadcast(fences), "event_type").select(
        "event_type",
        "value",
        ((F.col("value") < lo) | (F.col("value") > hi)).cast("bigint").alias("is_outlier"),
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("is_outlier").alias("n_outliers"),
        F.min(F.when(F.col("is_outlier") == 1, F.col("value"))).alias("min_outlier"),
        F.max(F.when(F.col("is_outlier") == 1, F.col("value"))).alias("max_outlier"),
    )


MAD_K = 3.0  # flag |x − median| > K · MAD


def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier detection per event_type — the
    breakdown-point-0.5 sibling of q_anomaly_zscore (mean/σ collapse
    under heavy contamination; the median absolute deviation does not).

    Exactness: median and MAD are interpolated percentiles rounded to 6
    (engine-identical, the q_outlier_iqr policy); deviations are rounded
    before the MAD percentile and before the K·MAD comparison, so the
    flag decision is engine-identical.

    Scale shape: two passes, each an O(types) percentile model broadcast
    onto a scan — the fact table is scanned twice, never shuffled. (At
    100 TB swap the exact percentile for percentile_approx: same plan,
    sketch-mergeable map side.)"""
    t = load_tables(spark, sf_dir)
    med = t.events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = t.events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        F.round(F.abs(F.col("value") - F.col("med")), 6).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad")
    )
    thresh = F.round(F.lit(MAD_K) * F.col("mad"), 6)
    flagged = dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "adev",
        (F.col("adev") > thresh).cast("bigint").alias("is_outlier"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("is_outlier").alias("n_outliers"),
            F.round(F.max("adev"), 6).alias("max_adev"),
        )
        .join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select("event_type", "n", "med", "mad", "n_outliers", "max_adev")
    )


WINSOR_LO, WINSOR_HI = 0.05, 0.95


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event_type: values clipped at the rounded
    p05/p95 quantiles, then averaged — the robust central-tendency metric
    a pipeline reports when heavy tails make the raw mean lie.

    Exactness: clip bounds are rounded to 6 (engine-identical quantiles,
    same policy as q_outlier_iqr); clipped values therefore carry ≤6
    decimals and are summed as exact DECIMALs, so both means are
    order-independent.

    Scale shape: O(types) quantile model broadcast onto one scan, one
    aggregate — the fact table never shuffles."""
    t = load_tables(spark, sf_dir)
    fences = t.events.groupBy("event_type").agg(
        F.round(F.expr(f"percentile(value, {WINSOR_LO})"), 6).alias("lo"),
        F.round(F.expr(f"percentile(value, {WINSOR_HI})"), 6).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    dec = lambda c: c.cast("decimal(18,6)")  # noqa: E731
    return (
        t.events.join(F.broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
            # Divide as doubles (exact decimal sum < 2^53 casts identically
            # in both engines; decimal-division scale rules do not).
            F.round(F.sum(dec(F.col("value"))).cast("double") / F.count("*"), 6).alias(
                "mean_raw"
            ),
            F.round(F.sum(dec(clipped)).cast("double") / F.count("*"), 6).alias(
                "mean_winsorized"
            ),
        )
    )


def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean event `value` differ across event types?
    F = (SSB/(k−1)) / (SSW/(N−k)) from per-group sufficient statistics
    (n, Σx, Σx²) — completing the parametric family next to q_ab_test
    (2 groups), q_mannwhitney (rank), q_chi2 (categorical), q_ks_test
    (distributional).

    Exactness: Σx and Σx² accumulate as DECIMAL(18,6) (the q_ab_test
    pattern — order-independent, engine-identical); SSB/SSW/F/eta² are
    derived doubles rounded to 6, well inside the error budget (the
    group-sum cancellation leaves ~1e-12 relative error vs the 5e-7
    rounding window).

    Scale shape: ONE hash aggregate keyed by event type with map-side
    partials, then O(k) arithmetic in a bounded final aggregate."""
    t = load_tables(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,6)")
    groups = t.events.groupBy("event_type").agg(
        F.count("*").alias("n_g"),
        F.sum(dec).alias("sx"),
        F.sum(dec * dec).alias("sxx"),
    )
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    n_g = F.col("n_g").cast("double")
    # Per-group SSB terms round to 6 and re-enter DECIMAL before the
    # cross-group sum, so every Σ over groups is exact (order-independent)
    # — only the final scalar expressions are floating point.
    sb_term = F.round(sx * sx / n_g, 6).cast("decimal(18,6)")
    stats = groups.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n_total"),
        F.sum("sx").alias("s_all"),
        F.sum("sxx").alias("q_all"),
        F.sum(sb_term).alias("sb_raw"),
    )
    n = F.col("n_total").cast("double")
    k = F.col("k").cast("double")
    sb_raw = F.col("sb_raw").cast("double")
    s_all, q_all = F.col("s_all").cast("double"), F.col("q_all").cast("double")
    ssb = sb_raw - s_all * s_all / n
    ssw = q_all - sb_raw
    fstat = F.try_divide(
        F.try_divide(ssb, k - 1), F.try_divide(ssw, n - k)
    )
    return stats.select(
        "k",
        "n_total",
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.round(fstat, 6).alias("f_stat"),
        F.round(F.try_divide(ssb, ssb + ssw), 6).alias("eta_sq"),
    )


def levene_test(
    df, group_col: str, value_col: str, center: str = "median"
):
    """Brown-Forsythe / Levene homogeneity-of-variance test (library API) —
    the robustness companion to q_anova: W = ((N−k)/(k−1)) ·
    Σ nᵢ(Z̄ᵢ−Z̄)² / ΣΣ(Zᵢⱼ−Z̄ᵢ)² over Zᵢⱼ = |xᵢⱼ − centerᵢ| with the
    per-group median (Brown-Forsythe, default) or mean (classic Levene).

    Scale shape: one grouped aggregate for the centers (exact `percentile`
    — a per-group sort at scale; swap approx_percentile when groups are
    huge), a broadcast O(groups) join to form Z, then ONE moments
    aggregate + O(groups) rollup. Differential-tested against a
    pure-Python implementation in tests.
    """
    from pyspark.sql import functions as F

    x = F.col(value_col).cast("double")
    if center == "median":
        centers = df.groupBy(group_col).agg(F.percentile(x, F.lit(0.5)).alias("c"))
    elif center == "mean":
        centers = df.groupBy(group_col).agg(F.avg(x).alias("c"))
    else:
        raise ValueError(f"unknown center {center!r}")
    z = df.join(F.broadcast(centers), group_col).select(
        F.col(group_col), F.abs(x - F.col("c")).alias("z")
    )
    per_group = z.groupBy(group_col).agg(
        F.count("*").alias("n_i"), F.sum("z").alias("sz"), F.sum(F.col("z") * F.col("z")).alias("szz")
    )
    # Within-group SS from the moments: Σz² − (Σz)²/n, summed over groups;
    # between-group SS: Σ nᵢ(Z̄ᵢ − Z̄)² with Z̄ from the pooled sums.
    roll = per_group.agg(
        F.sum("n_i").alias("n"),
        F.count("*").alias("k"),
        F.sum("sz").alias("sz_all"),
        F.sum(F.col("szz") - F.col("sz") * F.col("sz") / F.col("n_i")).alias("ss_within"),
        F.sum(F.col("sz") * F.col("sz") / F.col("n_i")).alias("sum_sq_over_n"),
    )
    zbar_term = F.col("sz_all") * F.col("sz_all") / F.col("n")
    ss_between = F.col("sum_sq_over_n") - zbar_term
    w = (
        (F.col("n") - F.col("k")).cast("double") / (F.col("k") - 1)
        * ss_between / F.col("ss_within")
    )
    return roll.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_obs"),
        F.round(ss_between, 6).alias("ss_between"),
        F.round("ss_within", 6).alias("ss_within"),
        F.round(w, 6).alias("w_stat"),
        (F.col("k") - 1).alias("df1"),
        (F.col("n") - F.col("k")).alias("df2"),
    )


def q_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) homogeneity-of-variance
    test of extended price across return flags — oracle-checked twin of
    the `levene_test` library API, in exact integers: values live as
    2×cents BIGINTs so the interpolated per-group median is an exact
    integer, deviations |2c − m2| are exact BIGINTs, and the sufficient
    statistics are BIGINT/DECIMAL sums (order-free). W derives from the
    sums via identical double expressions; the k-term rollups fold in
    sorted group order (the q_kruskal_wallis discipline). W is invariant
    to the 2×cents scaling.

    Scale shape: one per-group exact median (per-group sort at scale —
    swap approx_percentile for huge groups), a broadcast O(k) join, one
    moments aggregate, an O(k) ordered rollup."""
    t = load_tables(spark, sf_dir)
    c2 = (2 * F.floor(F.col("l_extendedprice") * 100)).cast("bigint")
    vals = t.lineitem.select(F.col("l_returnflag").alias("g"), c2.alias("c2"))
    centers = vals.groupBy("g").agg(
        F.percentile(F.col("c2"), F.lit(0.5)).cast("bigint").alias("m2")
    )
    per = vals.join(F.broadcast(centers), "g").select(
        "g", F.abs(F.col("c2") - F.col("m2")).alias("z")
    )
    grp = per.groupBy("g").agg(
        F.count("*").alias("n_i"),
        F.sum("z").alias("s_i"),
        F.sum(F.col("z").cast("decimal(19,0)") * F.col("z")).alias("ss_i"),
    )
    s_d = F.col("s_i").cast("double")
    ss_d = F.col("ss_i").cast("double")
    n_d = F.col("n_i").cast("double")
    w_term = (ss_d - s_d * s_d / n_d).alias("t")
    b_term = (s_d * s_d / n_d).alias("t")

    def ordered_sum(term):
        return F.aggregate(
            F.sort_array(F.collect_list(F.struct(F.col("g"), term))),
            F.lit(0.0),
            lambda acc, s: acc + s["t"],
        )

    roll = grp.agg(
        F.sum("n_i").alias("n"),
        F.count("*").alias("k"),
        F.sum("s_i").alias("sz_all"),
        ordered_sum(w_term).alias("ss_within"),
        ordered_sum(b_term).alias("sum_sq_over_n"),
    )
    nn = F.col("n").cast("double")
    sz = F.col("sz_all").cast("double")
    ss_between = F.col("sum_sq_over_n") - sz * sz / nn
    w = (
        (F.col("n") - F.col("k")).cast("double")
        / (F.col("k") - 1).cast("double")
        * ss_between
        / F.col("ss_within")
    )
    return roll.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_obs"),
        (F.col("k") - 1).cast("bigint").alias("df1"),
        (F.col("n") - F.col("k")).alias("df2"),
        F.round(w, 6).alias("w_stat"),
    )


def q_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs-style max-studentized-deviation outlier score per nation on
    customer account balances: G = max |c − mean| / sd over exact
    cent-integer sufficient statistics (BIGINT/DECIMAL sums → identical
    doubles), argmax customer with deterministic ties (score desc,
    custkey asc).

    Scale shape: one moments aggregate per nation (map-side partials) +
    one broadcast join back for the per-row scores + one min_by argmax —
    two passes over customer, no sort."""
    t = load_tables(spark, sf_dir)
    cents = F.floor(F.col("c_acctbal") * 100).cast("bigint")
    vals = t.customer.select(
        F.col("c_nationkey").alias("nation"), F.col("c_custkey"), cents.alias("c")
    )
    stats = vals.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c")).alias("s2"),
    )
    n_d = F.col("n").cast("double")
    s1_d = F.col("s1").cast("double")
    s2_d = F.col("s2").cast("double")
    var = (n_d * s2_d - s1_d * s1_d) / (n_d * (n_d - 1.0))
    scored = vals.join(F.broadcast(stats), "nation").select(
        "nation",
        "c_custkey",
        "c",
        "n",
        (
            F.abs(F.col("c").cast("double") - s1_d / n_d) / F.sqrt(var)
        ).alias("z"),
    )
    return (
        scored.groupBy("nation")
        .agg(
            F.max("n").alias("n"),
            F.round(F.max("z"), 6).alias("g_stat"),
            F.min_by(
                "c_custkey", F.struct((-F.col("z")).alias("nz"), F.col("c_custkey"))
            ).alias("suspect_custkey"),
        )
        .select("nation", "n", "g_stat", "suspect_custkey")
    )


WILSON_Z = 1.96  # 95% two-sided


def q_wilson_ctr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type success rate (value ≥ 50) with Wilson-score 95%
    confidence bounds — the interval that stays honest at small n and
    extreme rates where the normal approximation lies. p̂, lo, hi are
    identical scalar expressions of two exact integers (x, n); sqrt is
    correctly rounded IEEE, so the bounds are bit-deterministic.

    Scale shape: one counting aggregate on the bounded type domain +
    O(types) scalar arithmetic."""
    t = load_tables(spark, sf_dir)
    per = t.events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") >= 50.0).cast("bigint")).alias("x"),
    )
    n = F.col("n").cast("double")
    p = F.col("x").cast("double") / n
    z2 = WILSON_Z * WILSON_Z
    denom = 1.0 + z2 / n
    center = p + z2 / (2.0 * n)
    spread = WILSON_Z * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
    return per.select(
        "event_type",
        "n",
        "x",
        F.round(p, 6).alias("p_hat"),
        F.round((center - spread) / denom, 6).alias("wilson_lo"),
        F.round((center + spread) / denom, 6).alias("wilson_hi"),
    )


QUERIES = {
    "q_anova": q_anova,
    "q_wilson_ctr": q_wilson_ctr,
    "q_chi2": q_chi2,
    "q_ks_test": q_ks_test,
    "q_ab_test": q_ab_test,
    "q_mannwhitney": q_mannwhitney,
    "q_outlier_mad": q_outlier_mad,
    "q_cluster_confusion": q_cluster_confusion,
    "q_silhouette": q_silhouette,
    "q_outlier_iqr": q_outlier_iqr,
    "q_winsorize": q_winsorize,
    "q_levene": q_levene,
    "q_grubbs": q_grubbs,
}

ORACLES = {
    "q_wilson_ctr": f"""
        WITH per AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
            FROM events GROUP BY event_type
        )
        SELECT event_type, n, x,
               round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
               round(((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                       + {WILSON_Z * WILSON_Z} / (2.0 * CAST(n AS DOUBLE)))
                      - {WILSON_Z} * sqrt((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                                          * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                                          / CAST(n AS DOUBLE)
                                          + {WILSON_Z * WILSON_Z}
                                            / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                     / (1.0 + {WILSON_Z * WILSON_Z} / CAST(n AS DOUBLE)), 6) AS wilson_lo,
               round(((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                       + {WILSON_Z * WILSON_Z} / (2.0 * CAST(n AS DOUBLE)))
                      + {WILSON_Z} * sqrt((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                                          * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                                          / CAST(n AS DOUBLE)
                                          + {WILSON_Z * WILSON_Z}
                                            / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                     / (1.0 + {WILSON_Z * WILSON_Z} / CAST(n AS DOUBLE)), 6) AS wilson_hi
        FROM per
    """,
    "q_levene": """
        WITH vals AS (
            SELECT l_returnflag AS g,
                   CAST(2 * floor(l_extendedprice * 100) AS BIGINT) AS c2
            FROM lineitem
        ),
        centers AS (
            SELECT g, CAST(quantile_cont(c2, 0.5) AS BIGINT) AS m2
            FROM vals GROUP BY g
        ),
        per AS (
            SELECT v.g, abs(v.c2 - c.m2) AS z
            FROM vals v JOIN centers c ON v.g = c.g
        ),
        grp AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n_i,
                   CAST(sum(z) AS BIGINT) AS s_i,
                   sum(CAST(z AS HUGEINT) * z) AS ss_i
            FROM per GROUP BY g
        ),
        roll AS (
            SELECT CAST(sum(n_i) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(s_i) AS BIGINT) AS sz_all,
                   list_sum(list(CAST(ss_i AS DOUBLE)
                                 - CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)
                                   / CAST(n_i AS DOUBLE)
                                 ORDER BY g)) AS ss_within,
                   list_sum(list(CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)
                                 / CAST(n_i AS DOUBLE)
                                 ORDER BY g)) AS sum_sq_over_n
            FROM grp
        )
        SELECT k AS n_groups, n AS n_obs,
               k - 1 AS df1, n - k AS df2,
               round(CAST(n - k AS DOUBLE) / CAST(k - 1 AS DOUBLE)
                     * (sum_sq_over_n
                        - CAST(sz_all AS DOUBLE) * CAST(sz_all AS DOUBLE)
                          / CAST(n AS DOUBLE))
                     / ss_within, 6) AS w_stat
        FROM roll
    """,
    "q_grubbs": """
        WITH vals AS (
            SELECT c_nationkey AS nation, c_custkey,
                   CAST(floor(c_acctbal * 100) AS BIGINT) AS c
            FROM customer
        ),
        stats AS (
            SELECT nation, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(c) AS BIGINT) AS s1,
                   sum(CAST(c AS HUGEINT) * c) AS s2
            FROM vals GROUP BY nation
        ),
        scored AS (
            SELECT v.nation, v.c_custkey, s.n,
                   abs(CAST(v.c AS DOUBLE)
                       - CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
                   / sqrt((CAST(s.n AS DOUBLE) * CAST(s.s2 AS DOUBLE)
                           - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE))
                          / (CAST(s.n AS DOUBLE) * (CAST(s.n AS DOUBLE) - 1.0)))
                       AS z
            FROM vals v JOIN stats s ON v.nation = s.nation
        )
        SELECT nation, n, round(z, 6) AS g_stat, c_custkey AS suspect_custkey
        FROM (
            SELECT nation, n, z, c_custkey,
                   row_number() OVER (PARTITION BY nation
                                      ORDER BY z DESC, c_custkey) AS rn
            FROM scored
        ) WHERE rn = 1
    """,
    "q_anova": """
        WITH groups AS (
            SELECT event_type, count(*) AS n_g,
                   sum(CAST(value AS DECIMAL(18,6))) AS sx,
                   sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS sxx
            FROM events GROUP BY event_type
        ),
        stats AS (
            SELECT count(*) AS k,
                   CAST(sum(n_g) AS BIGINT) AS n_total,
                   sum(sx) AS s_all,
                   sum(sxx) AS q_all,
                   sum(CAST(round(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                                  / CAST(n_g AS DOUBLE), 6) AS DECIMAL(18,6))) AS sb_raw
            FROM groups
        )
        SELECT k, n_total,
               round(CAST(sb_raw AS DOUBLE)
                     - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total, 6)
                   AS ss_between,
               round(CAST(q_all AS DOUBLE) - CAST(sb_raw AS DOUBLE), 6) AS ss_within,
               round(((CAST(sb_raw AS DOUBLE)
                       - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total)
                      / nullif(k - 1.0, 0.0))
                     / nullif((CAST(q_all AS DOUBLE) - CAST(sb_raw AS DOUBLE))
                              / nullif(CAST(n_total - k AS DOUBLE), 0.0),
                              0.0), 6) AS f_stat,
               round((CAST(sb_raw AS DOUBLE)
                      - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total)
                     / nullif((CAST(sb_raw AS DOUBLE)
                               - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
                                 / n_total)
                              + (CAST(q_all AS DOUBLE) - CAST(sb_raw AS DOUBLE)),
                              0.0), 6)
                   AS eta_sq
        FROM stats
    """,
    "q_chi2": f"""
        WITH cells AS (
            SELECT event_type,
                   CAST(date_part('hour', ts) // {HOUR_BAND_WIDTH} AS INTEGER) AS band,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ), row_tot AS (
            SELECT event_type, CAST(sum(n) AS BIGINT) AS rt FROM cells GROUP BY event_type
        ), col_tot AS (
            SELECT band, CAST(sum(n) AS BIGINT) AS ct FROM cells GROUP BY band
        ), grand AS (
            SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells
        )
        SELECT count(*) AS n_cells,
               count(DISTINCT c.event_type) AS n_types,
               count(DISTINCT c.band) AS n_bands,
               (count(DISTINCT c.event_type) - 1) * (count(DISTINCT c.band) - 1) AS dof,
               round(sum((c.n - r.rt * ct.ct / CAST(g.nn AS DOUBLE))
                       * (c.n - r.rt * ct.ct / CAST(g.nn AS DOUBLE))
                       / (r.rt * ct.ct / CAST(g.nn AS DOUBLE))), 6) AS chi2
        FROM cells c
        JOIN row_tot r ON c.event_type = r.event_type
        JOIN col_tot ct ON c.band = ct.band
        CROSS JOIN grand g
    """,
    "q_ks_test": f"""
        WITH per_value AS (
            SELECT value,
                   CAST(sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
                   CAST(sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END) AS BIGINT) AS nb
            FROM events
            WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
            GROUP BY value
        ), cum AS (
            SELECT CAST(sum(na) OVER (ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
                   CAST(sum(nb) OVER (ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
            FROM per_value
        ), totals AS (
            SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
            FROM per_value
        )
        SELECT max(t.n_a) AS n_a,
               max(t.n_b) AS n_b,
               max(abs(c.ca * t.n_b - c.cb * t.n_a)) AS d_num,
               round(max(abs(c.ca * t.n_b - c.cb * t.n_a))
                     / nullif(CAST(max(t.n_a) * max(t.n_b) AS DOUBLE), 0.0), 6)
                   AS ks_d
        FROM cum c CROSS JOIN totals t
    """,
    "q_outlier_mad": f"""
        WITH med AS (
            SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
            FROM events GROUP BY event_type
        ), dev AS (
            SELECT e.event_type, round(abs(e.value - m.med), 6) AS adev
            FROM events e JOIN med m USING (event_type)
        ), mad AS (
            SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
            FROM dev GROUP BY event_type
        ), flagged AS (
            SELECT d.event_type, d.adev,
                   CASE WHEN d.adev > round({MAD_K} * md.mad, 6)
                        THEN 1 ELSE 0 END AS is_outlier
            FROM dev d JOIN mad md USING (event_type)
        )
        SELECT f.event_type,
               CAST(count(*) AS BIGINT) AS n,
               m.med, md.mad,
               CAST(sum(f.is_outlier) AS BIGINT) AS n_outliers,
               round(max(f.adev), 6) AS max_adev
        FROM flagged f
        JOIN med m USING (event_type)
        JOIN mad md USING (event_type)
        GROUP BY f.event_type, m.med, md.mad
    """,
    "q_mannwhitney": f"""
        WITH per_value AS (
            SELECT value,
                   CAST(sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
                   CAST(sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END) AS BIGINT) AS nb
            FROM events
            WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
            GROUP BY value
        ), cum AS (
            SELECT na, nb,
                   CAST(sum(nb) OVER (ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
            FROM per_value
        ), stats AS (
            SELECT CAST(sum(na) AS BIGINT) AS n_a,
                   CAST(sum(nb) AS BIGINT) AS n_b,
                   CAST(sum(na * (2 * (cb - nb) + nb)) AS BIGINT) AS u2,
                   CAST(sum((na + nb) * (na + nb) * (na + nb) - (na + nb)) AS BIGINT) AS tie3
            FROM cum
        ), derived AS (
            SELECT n_a, n_b,
                   u2 / 2.0 AS u,
                   CAST(n_a AS DOUBLE) * n_b / 2.0 AS mean_u,
                   CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
                        * ((CAST(n_a + n_b AS HUGEINT) + 1)
                           * CAST(n_a + n_b AS HUGEINT)
                           * (CAST(n_a + n_b AS HUGEINT) - 1)
                           - CAST(tie3 AS HUGEINT)) AS DOUBLE)
                   / CAST((CAST(n_a + n_b AS HUGEINT)
                           * (CAST(n_a + n_b AS HUGEINT) - 1)) * 12 AS DOUBLE)
                       AS var_u
            FROM stats
        )
        SELECT n_a, n_b,
               round(u, 1) AS u_stat,
               round(mean_u, 1) AS mean_u,
               round((u - mean_u) / nullif(sqrt(var_u), 0.0), 6) AS z_score,
               abs(round((u - mean_u) / nullif(sqrt(var_u), 0.0), 6)) > {AB_Z_CRIT} AS significant
        FROM derived
    """,
    "q_ab_test": f"""
        WITH agg AS (
            SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                   CAST(CAST(sum(CASE WHEN user_id % 2 = 0
                                      THEN CAST(value AS DECIMAL(18,6)) END) AS VARCHAR)
                        AS DOUBLE) AS sx0,
                   CAST(CAST(sum(CASE WHEN user_id % 2 = 0
                                      THEN CAST(value AS DECIMAL(18,6))
                                           * CAST(value AS DECIMAL(18,6)) END) AS VARCHAR)
                        AS DOUBLE) AS sxx0,
                   CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(CAST(sum(CASE WHEN user_id % 2 = 1
                                      THEN CAST(value AS DECIMAL(18,6)) END) AS VARCHAR)
                        AS DOUBLE) AS sx1,
                   CAST(CAST(sum(CASE WHEN user_id % 2 = 1
                                      THEN CAST(value AS DECIMAL(18,6))
                                           * CAST(value AS DECIMAL(18,6)) END) AS VARCHAR)
                        AS DOUBLE) AS sxx1
            FROM events
        ), derived AS (
            SELECT n0, n1,
                   sx0 / n0 AS m0, sx1 / n1 AS m1,
                   (sxx0 - sx0 * sx0 / n0) / (n0 - 1) AS v0,
                   (sxx1 - sx1 * sx1 / n1) / (n1 - 1) AS v1
            FROM agg
        )
        SELECT n0, n1,
               round(m0, 6) AS mean0,
               round(m1, 6) AS mean1,
               round(v0, 6) AS var0,
               round(v1, 6) AS var1,
               round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 6) AS t_stat,
               abs(round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 6)) > {AB_Z_CRIT} AS significant
        FROM derived
    """,
    "q_cluster_confusion": f"""
        WITH {_ASSIGN_CTES},
        cm AS (
            SELECT cluster, label, count(*) AS n_vecs
            FROM assigned GROUP BY cluster, label
        )
        SELECT cluster, label, n_vecs,
               CAST(sum(n_vecs) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_n,
               round(n_vecs / CAST(sum(n_vecs) OVER (PARTITION BY cluster) AS DOUBLE), 6)
                   AS frac
        FROM cm
    """,
    "q_silhouette": f"""
        WITH {_ASSIGN_CTES},
        ranked AS (
            SELECT vec_id, cluster, dist2,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
            FROM scored
        ), best2 AS (
            SELECT a.vec_id, a.cluster,
                   sqrt(a.dist2) AS a, sqrt(b.dist2) AS b
            FROM (SELECT * FROM ranked WHERE rn = 1) a
            JOIN (SELECT * FROM ranked WHERE rn = 2) b ON a.vec_id = b.vec_id
        ), s AS (
            SELECT cluster,
                   round(CASE WHEN greatest(a, b) = 0 THEN 0.0
                              ELSE (b - a) / greatest(a, b) END, 6) AS s
            FROM best2
        )
        SELECT cluster, count(*) AS n_vecs, round(avg(s), 6) AS mean_silhouette
        FROM s GROUP BY cluster
    """,
    "q_winsorize": f"""
        WITH fences AS (
            SELECT event_type,
                   round(quantile_cont(value, {WINSOR_LO}), 6) AS lo,
                   round(quantile_cont(value, {WINSOR_HI}), 6) AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               count(*) AS n,
               max(f.lo) AS lo,
               max(f.hi) AS hi,
               round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
                   AS mean_raw,
               round(CAST(sum(CAST(least(greatest(e.value, f.lo), f.hi)
                                   AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
                   AS mean_winsorized
        FROM events e JOIN fences f ON e.event_type = f.event_type
        GROUP BY e.event_type
    """,
    "q_outlier_iqr": f"""
        WITH fences AS (
            SELECT event_type,
                   round(quantile_cont(value, 0.25), 6) AS q1,
                   round(quantile_cont(value, 0.75), 6) AS q3
            FROM events GROUP BY event_type
        ), flagged AS (
            SELECT e.event_type, e.value,
                   CASE WHEN e.value < round(f.q1 - {IQR_FENCE} * (f.q3 - f.q1), 6)
                          OR e.value > round(f.q3 + {IQR_FENCE} * (f.q3 - f.q1), 6)
                        THEN 1 ELSE 0 END AS is_outlier
            FROM events e JOIN fences f ON e.event_type = f.event_type
        )
        SELECT event_type,
               count(*) AS n,
               CAST(sum(is_outlier) AS BIGINT) AS n_outliers,
               min(CASE WHEN is_outlier = 1 THEN value END) AS min_outlier,
               max(CASE WHEN is_outlier = 1 THEN value END) AS max_outlier
        FROM flagged
        GROUP BY event_type
    """,
}


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between order priority and order
    status — the normalized effect size q_chi2's raw statistic lacks
    (χ² grows with n; V ∈ [0,1] is comparable across tables):
    V = √(χ²/(n·min(r−1, c−1))). The contingency table is exact
    integers; χ² accumulates per-cell contributions rounded to 10 as
    DECIMAL (order-free, the q_mutual_info discipline).

    Scale shape: ONE contingency aggregate touches the fact table; the
    marginals and grand total are exact integer sums OVER THE BOUNDED
    CELLS FRAME (n_r = Σ_c n_rc etc.) — no second fact-table scan."""
    t = load_tables(spark, sf_dir)
    cells = t.orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_rc")
    )
    mr = cells.groupBy("o_orderpriority").agg(F.sum("n_rc").alias("n_r"))
    mc = cells.groupBy("o_orderstatus").agg(F.sum("n_rc").alias("n_c"))
    tot = cells.agg(F.sum("n_rc").alias("n"))
    # set sizes, not countDistinct (see q_chi2)
    dims = cells.agg(
        F.size(F.collect_set("o_orderpriority")).cast("bigint").alias("r"),
        F.size(F.collect_set("o_orderstatus")).cast("bigint").alias("c"),
    )
    joined = (
        cells.join(F.broadcast(mr), "o_orderpriority")
        .join(F.broadcast(mc), "o_orderstatus")
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("n").cast("double")
    exp = F.col("n_r").cast("double") * F.col("n_c").cast("double") / n
    contrib = F.round(
        (F.col("n_rc").cast("double") - exp) * (F.col("n_rc").cast("double") - exp) / exp,
        10,
    ).cast("decimal(28,10)")
    chi2 = joined.agg(
        F.max("n").alias("n"),
        F.sum(contrib).alias("chi2_dec"),
    )
    out = chi2.crossJoin(F.broadcast(dims))
    chi2_d = F.col("chi2_dec").cast("double")
    denom = F.col("n").cast("double") * F.least(
        F.col("r") - 1, F.col("c") - 1
    ).cast("double")
    # try_divide: a single-valued priority or status column zeroes the
    # min(r−1, c−1) denominator — V is undefined (NULL), not an ANSI
    # error (oracle nullif matches).
    return out.select(
        "n",
        "r",
        "c",
        F.round(chi2_d, 6).alias("chi2"),
        F.round(F.sqrt(F.try_divide(chi2_d, denom)), 6).alias("cramers_v"),
    )


QUERIES["q_cramers_v"] = q_cramers_v

ORACLES["q_cramers_v"] = """
    WITH cells AS (
        SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n_rc
        FROM orders GROUP BY 1, 2
    ),
    mr AS (SELECT o_orderpriority, CAST(sum(n_rc) AS BIGINT) AS n_r FROM cells GROUP BY 1),
    mc AS (SELECT o_orderstatus, CAST(sum(n_rc) AS BIGINT) AS n_c FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(n_rc) AS BIGINT) AS n FROM cells),
    dims AS (
        SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS r,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS c
        FROM cells
    ),
    chi AS (
        SELECT max(t.n) AS n,
               sum(CAST(round((CAST(ce.n_rc AS DOUBLE)
                               - CAST(r.n_r AS DOUBLE) * CAST(c.n_c AS DOUBLE)
                                 / CAST(t.n AS DOUBLE))
                              * (CAST(ce.n_rc AS DOUBLE)
                                 - CAST(r.n_r AS DOUBLE) * CAST(c.n_c AS DOUBLE)
                                   / CAST(t.n AS DOUBLE))
                              / (CAST(r.n_r AS DOUBLE) * CAST(c.n_c AS DOUBLE)
                                 / CAST(t.n AS DOUBLE)), 10) AS DECIMAL(28,10)))
                   AS chi2_dec
        FROM cells ce
        JOIN mr r USING (o_orderpriority)
        JOIN mc c USING (o_orderstatus)
        CROSS JOIN tot t
    )
    SELECT CAST(chi.n AS BIGINT) AS n, d.r, d.c,
           round(CAST(chi2_dec AS DOUBLE), 6) AS chi2,
           round(sqrt(CAST(chi2_dec AS DOUBLE)
                      / nullif(CAST(chi.n AS DOUBLE)
                               * CAST(least(d.r - 1, d.c - 1) AS DOUBLE), 0.0)), 6)
               AS cramers_v
    FROM chi CROSS JOIN dims d
"""


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b rank correlation between quantity and line number —
    the concordance-based sibling of q_spearman, with the tie-corrected
    denominator both engines derive from EXACT INTEGER pair counts.

    The O(n²) pair enumeration is collapsed to the bounded contingency
    table (≤ 50 quantities × 7 line numbers = 350 cells): concordant /
    discordant pair totals are Σ n_ab·n_cd over ordered cell pairs — a
    350² self-join of a broadcast-tiny frame, never of the data. Tie
    terms come from the two marginal histograms. τ-b's closing formula
    runs on exact integers cast to identical doubles; the hashed output
    is a fixed-point micro BIGINT (no round(double) boundary).

    Scale shape: ONE fact-table contingency aggregate; everything after
    is O(cells²) = O(1) arithmetic on broadcast frames. Pair counts
    accumulate as DECIMAL(38,0) — they grow ~n²/4 and would wrap BIGINT
    near 6e9 rows (DuckDB silently promotes to HUGEINT); the final cast
    to BIGINT is fixture-safe and documents the scale boundary."""
    t = load_tables(spark, sf_dir)
    cells = t.lineitem.groupBy(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.col("l_linenumber").cast("bigint").alias("l"),
    ).agg(F.count("*").alias("nc"))
    a = cells.select(
        F.col("q").alias("qa"), F.col("l").alias("la"),
        F.col("nc").cast("decimal(19,0)").alias("na"),
    )
    b = cells.select(
        F.col("q").alias("qb"), F.col("l").alias("lb"),
        F.col("nc").cast("decimal(19,0)").alias("nb"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("qa") < F.col("qb")) & (F.col("la") != F.col("lb")),
    )
    cd = pairs.agg(
        F.sum(
            F.when(F.col("la") < F.col("lb"), F.col("na") * F.col("nb"))
            .otherwise(F.lit(0).cast("decimal(19,0)"))
        ).alias("c_dec"),
        F.sum(
            F.when(F.col("la") > F.col("lb"), F.col("na") * F.col("nb"))
            .otherwise(F.lit(0).cast("decimal(19,0)"))
        ).alias("d_dec"),
    )
    nd = F.col("nc").cast("decimal(19,0)")
    tx = cells.groupBy("q").agg(F.sum("nc").alias("tq")).agg(
        F.sum(
            F.col("tq").cast("decimal(19,0)") * (F.col("tq") - 1) / 2
        ).alias("tx")
    )
    ty = cells.groupBy("l").agg(F.sum("nc").alias("tl")).agg(
        F.sum(
            F.col("tl").cast("decimal(19,0)") * (F.col("tl") - 1) / 2
        ).alias("ty")
    )
    tot = cells.agg(F.sum(nd).alias("n"))
    out = (
        cd.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    n = F.col("n").cast("double")
    n0 = n * (n - 1.0) / 2.0
    num = F.col("c_dec").cast("double") - F.col("d_dec").cast("double")
    # nullif-guarded: a fully-tied variable makes n0 - t_x zero, and the
    # engines diverge on 0-denominator doubles (ADVICE r6) — NULL instead.
    den = F.nullif(
        F.sqrt(
            (n0 - F.col("tx").cast("double")) * (n0 - F.col("ty").cast("double"))
        ),
        F.lit(0.0),
    )
    return out.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("c_dec").cast("bigint").alias("c_pairs"),
        F.col("d_dec").cast("bigint").alias("d_pairs"),
        F.floor(F.try_divide(num, den) * 1000000.0 + F.lit(0.5))
        .cast("bigint").alias("tau_b_micro"),
    )


QUERIES["q_kendall_tau"] = q_kendall_tau

ORACLES["q_kendall_tau"] = """
    WITH cells AS (
        SELECT CAST(l_quantity AS BIGINT) AS q, CAST(l_linenumber AS BIGINT) AS l,
               count(*) AS nc
        FROM lineitem GROUP BY 1, 2
    ),
    cd AS (
        SELECT sum(CASE WHEN a.l < b.l
                        THEN CAST(a.nc AS DECIMAL(19,0)) * CAST(b.nc AS DECIMAL(19,0))
                        ELSE CAST(0 AS DECIMAL(19,0)) END) AS c_dec,
               sum(CASE WHEN a.l > b.l
                        THEN CAST(a.nc AS DECIMAL(19,0)) * CAST(b.nc AS DECIMAL(19,0))
                        ELSE CAST(0 AS DECIMAL(19,0)) END) AS d_dec
        FROM cells a JOIN cells b ON a.q < b.q AND a.l <> b.l
    ),
    tx AS (
        SELECT sum(CAST(tq AS DECIMAL(19,0)) * (tq - 1) / 2) AS tx
        FROM (SELECT q, sum(nc) AS tq FROM cells GROUP BY q)
    ),
    ty AS (
        SELECT sum(CAST(tl AS DECIMAL(19,0)) * (tl - 1) / 2) AS ty
        FROM (SELECT l, sum(nc) AS tl FROM cells GROUP BY l)
    ),
    tot AS (SELECT sum(CAST(nc AS DECIMAL(19,0))) AS n FROM cells)
    SELECT CAST(tot.n AS BIGINT) AS n,
           CAST(c_dec AS BIGINT) AS c_pairs,
           CAST(d_dec AS BIGINT) AS d_pairs,
           CAST(floor((CAST(c_dec AS DOUBLE) - CAST(d_dec AS DOUBLE))
                      / nullif(sqrt((CAST(tot.n AS DOUBLE) * (CAST(tot.n AS DOUBLE) - 1.0) / 2.0
                              - CAST(tx.tx AS DOUBLE))
                             * (CAST(tot.n AS DOUBLE) * (CAST(tot.n AS DOUBLE) - 1.0) / 2.0
                                - CAST(ty.ty AS DOUBLE))), 0.0)
                      * 1000000.0 + 0.5) AS BIGINT) AS tau_b_micro
    FROM cd CROSS JOIN tot CROSS JOIN tx CROSS JOIN ty
"""


def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test of quantity per return flag: skewness,
    excess-free kurtosis, and JB = n/6·(S² + (K−3)²/4) from exact raw
    moments — the distribution-shape audit a feature store runs before
    assuming Gaussian z-scores are meaningful.

    Every raw moment Σvᵏ (k ≤ 4) is an exact integer aggregate (v ≤ 50 →
    v⁴ ≤ 6.25e6; sums accumulate as DECIMAL(38,0), BIGINT-safe past 1e12
    rows). Central moments, S and K derive through IDENTICAL double
    expressions in both engines — powers are written as sqrt/multiply
    chains only (no libm pow, whose last-ulp behavior differs across
    implementations) — and the hashed outputs are fixed-point micro
    BIGINTs.

    Scale shape: one map-side-combinable aggregate keyed on the tiny
    flag domain; everything after is O(flags) arithmetic."""
    t = load_tables(spark, sf_dir)
    v = F.col("l_quantity").cast("bigint")
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    m = t.lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(dec(v)).alias("s1"),
        F.sum(dec(v * v)).alias("s2"),
        F.sum(dec(v * v * v)).alias("s3"),
        F.sum(dec(v * v * v * v)).alias("s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - mu * mu
    m3 = F.col("s3").cast("double") / n - 3.0 * mu * (F.col("s2").cast("double") / n) + 2.0 * mu * mu * mu
    m4 = (
        F.col("s4").cast("double") / n
        - 4.0 * mu * (F.col("s3").cast("double") / n)
        + 6.0 * mu * mu * (F.col("s2").cast("double") / n)
        - 3.0 * mu * mu * mu * mu
    )
    # try_divide: a zero-variance group (all quantities equal) makes m2 = 0
    # and the engines diverge on the 0/0 path (ADVICE r6) — NULL instead.
    skew = F.try_divide(m3, F.nullif(m2 * F.sqrt(m2), F.lit(0.0)))
    kurt = F.try_divide(m4, F.nullif(m2 * m2, F.lit(0.0)))
    jb = n / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
    fx = lambda x: F.floor(x * 1000000.0 + F.lit(0.5)).cast("bigint")  # noqa: E731
    return m.select(
        "l_returnflag",
        "n",
        fx(skew).alias("skew_micro"),
        fx(kurt).alias("kurt_micro"),
        fx(jb).alias("jb_micro"),
    )


QUERIES["q_jarque_bera"] = q_jarque_bera

ORACLES["q_jarque_bera"] = """
    WITH m AS (
        SELECT l_returnflag, count(*) AS n,
               sum(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(19,0))) AS s1,
               sum(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                        AS DECIMAL(19,0))) AS s2,
               sum(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT) AS DECIMAL(19,0))) AS s3,
               sum(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                        AS DECIMAL(19,0))) AS s4
        FROM lineitem GROUP BY 1
    ),
    d AS (
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               CAST(n AS DOUBLE) AS nd,
               CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
               CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
               CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
               CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
        FROM m
    ),
    c AS (
        SELECT l_returnflag, n, nd,
               r2 - mu * mu AS m2,
               r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
               r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu AS m4
        FROM d
    ),
    s AS (
        SELECT l_returnflag, n, nd,
               m3 / nullif(m2 * sqrt(m2), 0.0) AS skew,
               m4 / nullif(m2 * m2, 0.0) AS kurt
        FROM c
    )
    SELECT l_returnflag, n,
           CAST(floor(skew * 1000000.0 + 0.5) AS BIGINT) AS skew_micro,
           CAST(floor(kurt * 1000000.0 + 0.5) AS BIGINT) AS kurt_micro,
           CAST(floor(nd / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
                      * 1000000.0 + 0.5) AS BIGINT) AS jb_micro
    FROM s
"""


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ inter-rater agreement between two deterministic rule
    "raters" over lineitem (A: quantity > 25; B: discount > 0.05) — the
    chance-corrected agreement score label-quality audits report when two
    labeling heuristics (or annotator pools) are compared.

    κ reduces to an exact integer rational: with cell counts n11/n10/
    n01/n00 and marginals a1·b1 + a0·b0 =: e,
    κ = (n·(n11+n00) − e) / (n² − e). Numerator and denominator are
    exact DECIMAL(38,0) products cast to identical doubles for ONE
    division; the hashed output is a fixed-point micro BIGINT.

    Scale shape: a single map-side-combinable aggregate over the fact
    scan — four conditional counts in one pass, no joins anywhere."""
    t = load_tables(spark, sf_dir)
    ra = (F.col("l_quantity") > 25).cast("bigint")
    rb = (F.col("l_discount") > 0.05).cast("bigint")
    m = t.lineitem.agg(
        F.count("*").alias("n"),
        F.sum(ra * rb).alias("n11"),
        F.sum(ra * (1 - rb)).alias("n10"),
        F.sum((1 - ra) * rb).alias("n01"),
        F.sum((1 - ra) * (1 - rb)).alias("n00"),
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    e = (dec("n11") + dec("n10")) * (dec("n11") + dec("n01")) + (
        dec("n00") + dec("n01")
    ) * (dec("n00") + dec("n10"))
    num = dec("n") * (dec("n11") + dec("n00")) - e
    den = dec("n") * dec("n") - e
    return m.select(
        "n", "n11", "n10", "n01", "n00",
        F.floor(
            num.cast("double") / den.cast("double") * 1000000.0 + F.lit(0.5)
        ).cast("bigint").alias("kappa_micro"),
    )


QUERIES["q_cohens_kappa"] = q_cohens_kappa

ORACLES["q_cohens_kappa"] = """
    WITH m AS (
        SELECT count(*) AS n,
               sum(CASE WHEN l_quantity > 25 AND l_discount > 0.05 THEN 1 ELSE 0 END) AS n11,
               sum(CASE WHEN l_quantity > 25 AND NOT l_discount > 0.05 THEN 1 ELSE 0 END) AS n10,
               sum(CASE WHEN NOT l_quantity > 25 AND l_discount > 0.05 THEN 1 ELSE 0 END) AS n01,
               sum(CASE WHEN NOT l_quantity > 25 AND NOT l_discount > 0.05 THEN 1 ELSE 0 END) AS n00
        FROM lineitem
    ),
    k AS (
        SELECT n, n11, n10, n01, n00,
               CAST(n AS DECIMAL(19,0)) * (CAST(n11 AS DECIMAL(19,0)) + CAST(n00 AS DECIMAL(19,0)))
               - ((CAST(n11 AS DECIMAL(19,0)) + CAST(n10 AS DECIMAL(19,0)))
                  * (CAST(n11 AS DECIMAL(19,0)) + CAST(n01 AS DECIMAL(19,0)))
                  + (CAST(n00 AS DECIMAL(19,0)) + CAST(n01 AS DECIMAL(19,0)))
                    * (CAST(n00 AS DECIMAL(19,0)) + CAST(n10 AS DECIMAL(19,0)))) AS num,
               CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
               - ((CAST(n11 AS DECIMAL(19,0)) + CAST(n10 AS DECIMAL(19,0)))
                  * (CAST(n11 AS DECIMAL(19,0)) + CAST(n01 AS DECIMAL(19,0)))
                  + (CAST(n00 AS DECIMAL(19,0)) + CAST(n01 AS DECIMAL(19,0)))
                    * (CAST(n00 AS DECIMAL(19,0)) + CAST(n10 AS DECIMAL(19,0)))) AS den
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS n11,
           CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01,
           CAST(n00 AS BIGINT) AS n00,
           CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000000.0 + 0.5)
                AS BIGINT) AS kappa_micro
    FROM k
"""


# Poisson(1) CDF boundaries as 13-hex-char literals: P(W<k) scaled into the
# md5-prefix space [0, 16^13). A weight is chosen by LEXICOGRAPHIC hex
# comparison (hex digit order == value order), so both engines pick
# identical weights with zero numeric conversion.
BOOTSTRAP_B = 50
_POISSON_HEX = ("5e2d58d8b3bce", "bc5ab1b16779c", "eb715e1dc1583",
                "fb23979734a25", "ff1025f59174e")


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for each event type's
    mean value — THE distributed bootstrap (Chamandy et al. 2012 /
    Kleiner's BLB lineage): instead of resampling rows globally (which
    would need coordinated sampling across executors), every row draws
    an independent Poisson(1) weight per replicate, so each of the B=50
    replicates is a weighted mean computable map-side in one pass.

    Determinism end to end: the weight is a salted-md5 PREFIX COMPARED
    LEXICOGRAPHICALLY against fixed 13-hex Poisson-CDF boundaries (no
    float RNG, no numeric hex conversion); replicate means are exact
    integer rationals over BIGINT cents emitted via half_up micro; the
    CI picks ranks 2 and 49 of the 50 ordered means (2.5/97.5%) with
    (mean, replicate-id) tie-breaks.

    Scale shape: the B-way fan-out is a broadcast-range crossJoin (rows
    never duplicate across machines — the weight column rides the scan);
    ONE (type × replicate) aggregate with map-side combine, then O(B)
    window arithmetic per type. Σw·cents wraps BIGINT only past ~1e14
    row-replicates; the DECIMAL promotion note applies at that scale."""
    from machinelearningalgomapreduce_spark.functions.fixedpoint import half_up
    from machinelearningalgomapreduce_spark.operators.relational import tiny_sorted

    t = load_tables(spark, sf_dir)
    reps = spark.range(1, BOOTSTRAP_B + 1).select(F.col("id").alias("b"))
    cents = F.round(F.col("value") * 100.0, 0).cast("bigint")
    rows = t.events.select("event_id", "event_type", cents.alias("cents"))
    u13 = F.substring(
        F.md5(
            F.concat_ws(
                ":", F.lit("boot"), F.col("b").cast("string"),
                F.col("event_id").cast("string"),
            )
        ),
        1,
        13,
    )
    w = (
        F.when(u13 < _POISSON_HEX[0], F.lit(0))
        .when(u13 < _POISSON_HEX[1], F.lit(1))
        .when(u13 < _POISSON_HEX[2], F.lit(2))
        .when(u13 < _POISSON_HEX[3], F.lit(3))
        .when(u13 < _POISSON_HEX[4], F.lit(4))
        .otherwise(F.lit(5))
        .cast("bigint")
    )
    # fan_out: B·n md5-hash weights are map-stage work — spread the
    # single-file events scan before the replicate fan-out (r15).
    weighted = fan_out(rows).crossJoin(F.broadcast(reps)).select(
        "event_type", "b", w.alias("w"), "cents"
    )
    per_rep = (
        weighted.groupBy("event_type", "b")
        .agg(F.sum("w").alias("sw"), F.sum(F.col("w") * F.col("cents")).alias("swc"))
        .filter(F.col("sw") > 0)
        .select(
            "event_type",
            "b",
            half_up(F.col("swc") * 10000, F.col("sw")).alias("mean_micro"),
        )
    )
    wr = W.partitionBy("event_type").orderBy("mean_micro", "b")
    ranked = per_rep.select(
        "event_type", "mean_micro", F.row_number().over(wr).alias("rn")
    )
    out = ranked.groupBy("event_type").agg(
        F.count("*").alias("n_reps"),
        F.min(F.when(F.col("rn") == 2, F.col("mean_micro"))).alias("ci_lo_micro"),
        F.min(F.when(F.col("rn") == BOOTSTRAP_B - 1, F.col("mean_micro"))).alias(
            "ci_hi_micro"
        ),
    )
    return tiny_sorted(out, "event_type")


QUERIES["q_bootstrap_ci"] = q_bootstrap_ci

ORACLES["q_bootstrap_ci"] = f"""
    WITH reps AS (SELECT unnest(range(1, {BOOTSTRAP_B + 1})) AS b),
    weighted AS (
        SELECT event_type, b,
               CASE WHEN substr(md5('boot:' || CAST(b AS VARCHAR) || ':'
                                 || CAST(event_id AS VARCHAR)), 1, 13)
                         < '{_POISSON_HEX[0]}' THEN 0
                    WHEN substr(md5('boot:' || CAST(b AS VARCHAR) || ':'
                                 || CAST(event_id AS VARCHAR)), 1, 13)
                         < '{_POISSON_HEX[1]}' THEN 1
                    WHEN substr(md5('boot:' || CAST(b AS VARCHAR) || ':'
                                 || CAST(event_id AS VARCHAR)), 1, 13)
                         < '{_POISSON_HEX[2]}' THEN 2
                    WHEN substr(md5('boot:' || CAST(b AS VARCHAR) || ':'
                                 || CAST(event_id AS VARCHAR)), 1, 13)
                         < '{_POISSON_HEX[3]}' THEN 3
                    WHEN substr(md5('boot:' || CAST(b AS VARCHAR) || ':'
                                 || CAST(event_id AS VARCHAR)), 1, 13)
                         < '{_POISSON_HEX[4]}' THEN 4
                    ELSE 5 END AS w,
               CAST(round(value * 100.0, 0) AS BIGINT) AS cents
        FROM events CROSS JOIN reps
    ),
    per_rep AS (
        SELECT event_type, b, CAST(sum(w) AS BIGINT) AS sw,
               CAST(sum(w * cents) AS BIGINT) AS swc
        FROM weighted GROUP BY event_type, b
        HAVING sum(w) > 0
    ),
    ranked AS (
        SELECT event_type,
               CAST(floor((2 * (swc * 10000) + sw) / (2 * sw)) AS BIGINT) AS mean_micro,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY floor((2 * (swc * 10000) + sw) / (2 * sw)), b
               ) AS rn
        FROM per_rep
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_reps,
           min(CASE WHEN rn = 2 THEN mean_micro END) AS ci_lo_micro,
           min(CASE WHEN rn = {BOOTSTRAP_B - 1} THEN mean_micro END) AS ci_hi_micro
    FROM ranked
    GROUP BY event_type
    ORDER BY event_type
"""


def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test: do the event types keep the same activity
    ordering week after week, or does the traffic mix genuinely reshuffle
    — the repeated-measures complement to q_kruskal_wallis (which ranks
    pooled rows and so is blind to the week-blocked design of volume
    data).

    Blocks = ISO weeks, treatments = event types; each cell is the exact
    weekly event count (missing cells dense-filled with 0 over the
    bounded week × type domain). Within-block ranks use the
    average-of-ties convention carried as DOUBLED integers
    (2·rank = 2·min_rank + (n_ties − 1)), so every rank sum is an exact
    BIGINT; χ²_F = 3·ΣR²ₓ₂/(n·k·(k+1)) − 3·n·(k+1) is two
    correctly-rounded IEEE ops on exact ≤2^53 integers — engine-
    deterministic, emitted as fixed-point micros.

    Scale shape: one counting aggregate to the bounded (week × type)
    frame; every window and join after it runs on that bounded domain —
    the q_cusum envelope. Output is O(k) rows.
    """
    t = load_tables(spark, sf_dir)
    cells = t.events.groupBy(
        F.date_trunc("week", "ts").alias("wk"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    dense = (
        cells.select("wk").distinct()
        .crossJoin(cells.select("event_type").distinct())
        .join(cells, ["wk", "event_type"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )
    wv = W.partitionBy("wk").orderBy("cnt")
    wt = W.partitionBy("wk", "cnt")
    ranked = dense.withColumn(
        "rx2",
        (2 * F.rank().over(wv) + F.count("*").over(wt) - 1).cast("bigint"),
    )
    sums = ranked.groupBy("event_type").agg(F.sum("rx2").alias("rank_sum_x2"))
    # set sizes, not countDistinct (see q_chi2)
    nk = ranked.agg(
        F.size(F.collect_set("wk")).cast("bigint").alias("n_blocks"),
        F.size(F.collect_set("event_type")).cast("bigint").alias("k"),
    )
    s2 = sums.agg(F.sum(F.col("rank_sum_x2") * F.col("rank_sum_x2")).alias("s_rx2_sq"))
    chi2 = (
        F.lit(3.0) * F.col("s_rx2_sq").cast("double")
        / (F.col("n_blocks") * F.col("k") * (F.col("k") + 1)).cast("double")
        - (3 * F.col("n_blocks") * (F.col("k") + 1)).cast("double")
    )
    out = (
        sums.crossJoin(F.broadcast(nk))
        .crossJoin(F.broadcast(s2))
        .select(
            "event_type",
            "rank_sum_x2",
            F.col("n_blocks").cast("bigint").alias("n_blocks"),
            F.col("k").cast("bigint").alias("k"),
            F.floor(chi2 * 1000000.0 + F.lit(0.5)).cast("bigint").alias("chi2_micro"),
        )
    )
    from machinelearningalgomapreduce_spark.operators.relational import tiny_sorted

    return tiny_sorted(out, "event_type")


QUERIES["q_friedman"] = q_friedman

ORACLES["q_friedman"] = """
    WITH cells AS (
        SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk, event_type,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT w.wk, e.event_type, coalesce(c.cnt, 0) AS cnt
        FROM (SELECT DISTINCT wk FROM cells) w
        CROSS JOIN (SELECT DISTINCT event_type FROM cells) e
        LEFT JOIN cells c ON c.wk = w.wk AND c.event_type = e.event_type
    ),
    ranked AS (
        SELECT event_type,
               CAST(2 * rank() OVER (PARTITION BY wk ORDER BY cnt)
                    + count(*) OVER (PARTITION BY wk, cnt) - 1 AS BIGINT) AS rx2
        FROM dense
    ),
    sums AS (
        SELECT event_type, CAST(sum(rx2) AS BIGINT) AS rank_sum_x2
        FROM ranked GROUP BY event_type
    ),
    nk AS (
        SELECT CAST(count(DISTINCT wk) AS BIGINT) AS n_blocks,
               CAST(count(DISTINCT event_type) AS BIGINT) AS k
        FROM dense
    ),
    s2 AS (SELECT CAST(sum(rank_sum_x2 * rank_sum_x2) AS BIGINT) AS s_rx2_sq FROM sums)
    SELECT s.event_type, s.rank_sum_x2, nk.n_blocks, nk.k,
           CAST(floor(
               (3.0 * CAST(s2.s_rx2_sq AS DOUBLE)
                / CAST(nk.n_blocks * nk.k * (nk.k + 1) AS DOUBLE)
                - CAST(3 * nk.n_blocks * (nk.k + 1) AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS chi2_micro
    FROM sums s, nk, s2
    ORDER BY s.event_type
"""


import math as _math

SPRT_P0 = 0.50   # null conversion rate
SPRT_P1 = 0.55   # alternative the test is powered against
SPRT_ALPHA = 0.05
SPRT_BETA = 0.20
# Per-observation LLR weights and decision bounds as double literals —
# both engines parse the same decimal repr to the same IEEE double.
_SPRT_C_POS = _math.log(SPRT_P1 / SPRT_P0)
_SPRT_C_NEG = _math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
_SPRT_UPPER = _math.log((1.0 - SPRT_BETA) / SPRT_ALPHA)
_SPRT_LOWER = _math.log(SPRT_BETA / (1.0 - SPRT_ALPHA))


def q_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability-ratio test per event type: is the
    type's conversion rate (value ≥ 50) at the 0.55 alternative or the
    0.50 null — with the DAY the evidence first crossed a decision
    bound, the number a sequential experimentation platform reports
    ("we could have stopped on day 12") that fixed-horizon tests
    (q_ab_test) cannot.

    The cumulative LLR after day t is cum_pos·c₊ + cum_neg·c₋ — exact
    integer counts times shared double literals, so every daily point is
    two correctly-rounded IEEE ops, engine-identical; decisions compare
    the micro-scaled integer. One counting aggregate to the bounded
    (type × day) frame, a cumulative window over it, and an O(types)
    min-day rollup — the q_cusum envelope.
    """
    t = load_tables(spark, sf_dir)
    daily = t.events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum((F.col("value") >= 50.0).cast("bigint")).alias("pos"),
        F.sum((F.col("value") < 50.0).cast("bigint")).alias("neg"),
    )
    w = W.partitionBy("event_type").orderBy("day")
    llr = (
        F.sum("pos").over(w).cast("double") * F.lit(_SPRT_C_POS)
        + F.sum("neg").over(w).cast("double") * F.lit(_SPRT_C_NEG)
    )
    scored = daily.withColumn(
        "llr_micro", F.floor(llr * 1000000.0 + F.lit(0.5)).cast("bigint")
    )
    up = int(_math.floor(_SPRT_UPPER * 1e6 + 0.5))
    lo = int(_math.floor(_SPRT_LOWER * 1e6 + 0.5))
    crossed = scored.withColumn(
        "cross",
        F.when(F.col("llr_micro") >= up, F.lit("accept_h1"))
        .when(F.col("llr_micro") <= lo, F.lit("accept_h0"))
        .otherwise(F.lit(None).cast("string")),
    )
    first = (
        crossed.filter(F.col("cross").isNotNull())
        .groupBy("event_type")
        .agg(F.min_by("cross", "day").alias("decision"), F.min("day").alias("first_cross_day"))
    )
    wlast = W.partitionBy("event_type").orderBy(F.desc("day"))
    final = (
        scored.withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("llr_micro").alias("final_llr_micro"))
    )
    totals = daily.groupBy("event_type").agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
    )
    out = (
        totals.join(final, "event_type")
        .join(first, "event_type", "left")
        .select(
            "event_type",
            "n_pos",
            "n_neg",
            "final_llr_micro",
            F.coalesce(F.col("decision"), F.lit("continue")).alias("decision"),
            "first_cross_day",
        )
    )
    from machinelearningalgomapreduce_spark.operators.relational import tiny_sorted

    return tiny_sorted(out, "event_type")


QUERIES["q_sprt"] = q_sprt

ORACLES["q_sprt"] = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
               CAST(sum(CASE WHEN value < 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
        FROM events GROUP BY 1, 2
    ),
    scored AS (
        SELECT event_type, day,
               CAST(floor(
                   (CAST(sum(pos) OVER (PARTITION BY event_type ORDER BY day) AS DOUBLE)
                        * {_SPRT_C_POS!r}
                    + CAST(sum(neg) OVER (PARTITION BY event_type ORDER BY day) AS DOUBLE)
                        * {_SPRT_C_NEG!r})
                   * 1000000.0 + 0.5) AS BIGINT) AS llr_micro
        FROM daily
    ),
    crossed AS (
        SELECT event_type, day,
               CASE WHEN llr_micro >= {int(_math.floor(_SPRT_UPPER * 1e6 + 0.5))} THEN 'accept_h1'
                    WHEN llr_micro <= {int(_math.floor(_SPRT_LOWER * 1e6 + 0.5))} THEN 'accept_h0'
                    ELSE NULL END AS cross_
        FROM scored
    ),
    first AS (
        SELECT event_type, min_by(cross_, day) AS decision,
               min(day) AS first_cross_day
        FROM crossed WHERE cross_ IS NOT NULL
        GROUP BY event_type
    ),
    final AS (
        SELECT event_type, llr_micro AS final_llr_micro
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY day DESC) AS rn
              FROM scored)
        WHERE rn = 1
    ),
    totals AS (
        SELECT event_type, CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(neg) AS BIGINT) AS n_neg
        FROM daily GROUP BY event_type
    )
    SELECT t.event_type, t.n_pos, t.n_neg, f.final_llr_micro,
           coalesce(fi.decision, 'continue') AS decision,
           fi.first_cross_day
    FROM totals t
    JOIN final f ON f.event_type = t.event_type
    LEFT JOIN first fi ON fi.event_type = t.event_type
    ORDER BY t.event_type
"""


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences read-out: the treatment effect on the
    event `value` metric for the id-parity treatment group, netting out
    the shared time trend via the control group — the causal staple for
    rollouts without randomized exposure windows:
    DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre).

    Period split = the exact micros midpoint of the event-time span (the
    q_psi idiom — a 1-row broadcast, no median sort); groups = the
    q_ab_test user-id parity. The four cell means come from ONE
    conditional hash aggregate of exact DECIMAL sums; each mean is a
    single correctly-rounded division and the DiD closes in doubles,
    emitted micro fixed-point alongside the four cell means.

    Scale shape: a 1-row bounds aggregate + ONE map-side-combinable
    conditional aggregate over the scan — no joins of raw rows."""
    t = load_tables(spark, sf_dir)
    ev = t.events.select("user_id", F.unix_micros("ts").alias("us"), "value")
    bounds = ev.agg(((F.min("us") + F.max("us")) / F.lit(2)).cast("bigint").alias("mid_us"))
    dec = F.col("value").cast("decimal(18,6)")
    treat = F.pmod(F.col("user_id"), F.lit(2)) == 1
    post = F.col("us") > F.col("mid_us")

    conds = {
        "t_pre": treat & ~post,
        "t_post": treat & post,
        "c_pre": ~treat & ~post,
        "c_post": ~treat & post,
    }
    aggs = []
    for k, cond in conds.items():
        aggs.append(F.sum(cond.cast("bigint")).alias(f"n_{k}"))
        aggs.append(F.sum(F.when(cond, dec)).alias(f"s_{k}"))
    agg = ev.crossJoin(F.broadcast(bounds)).agg(*aggs)
    means = {
        k: F.col(f"s_{k}").cast("double") / F.col(f"n_{k}").cast("double")
        for k in conds
    }
    did = (means["t_post"] - means["t_pre"]) - (means["c_post"] - means["c_pre"])
    out_cols = []
    for k in conds:
        out_cols.append(F.col(f"n_{k}").cast("bigint").alias(f"n_{k}"))
        out_cols.append(
            F.floor(means[k] * 1000000.0 + F.lit(0.5)).cast("bigint").alias(f"mean_{k}_micro")
        )
    out_cols.append(
        F.floor(did * 1000000.0 + F.lit(0.5)).cast("bigint").alias("did_micro")
    )
    return agg.select(*out_cols)


QUERIES["q_diff_in_diff"] = q_diff_in_diff

ORACLES["q_diff_in_diff"] = """
    WITH ev AS (
        SELECT user_id, epoch_us(ts) AS us, CAST(value AS DECIMAL(18,6)) AS v
        FROM events
    ),
    bounds AS (
        SELECT CAST(floor((min(us) + max(us)) / 2.0) AS BIGINT) AS mid_us FROM ev
    ),
    agg AS (
        SELECT
          CAST(sum(CASE WHEN user_id % 2 = 1 AND us <= mid_us THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
          sum(CASE WHEN user_id % 2 = 1 AND us <= mid_us THEN v END) AS s_t_pre,
          CAST(sum(CASE WHEN user_id % 2 = 1 AND us > mid_us THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
          sum(CASE WHEN user_id % 2 = 1 AND us > mid_us THEN v END) AS s_t_post,
          CAST(sum(CASE WHEN user_id % 2 = 0 AND us <= mid_us THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
          sum(CASE WHEN user_id % 2 = 0 AND us <= mid_us THEN v END) AS s_c_pre,
          CAST(sum(CASE WHEN user_id % 2 = 0 AND us > mid_us THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
          sum(CASE WHEN user_id % 2 = 0 AND us > mid_us THEN v END) AS s_c_post
        FROM ev, bounds
    )
    SELECT n_t_pre,
           CAST(floor(CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) AS mean_t_pre_micro,
           n_t_post,
           CAST(floor(CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) AS mean_t_post_micro,
           n_c_pre,
           CAST(floor(CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) AS mean_c_pre_micro,
           n_c_post,
           CAST(floor(CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) AS mean_c_post_micro,
           CAST(floor(
               ((CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
                 - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
                - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
                   - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)))
               * 1000000.0 + 0.5) AS BIGINT) AS did_micro
    FROM agg
"""


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction: adjust each user's post-period metric by
    their own pre-period behavior — ŷᵢ = yᵢ − θ(xᵢ − x̄) with
    θ = cov(x, y)/var(x) — the standard trick that makes the q_ab_test
    read-out decisive on a fraction of the traffic. Reported per
    variant: the raw and adjusted means and the achieved variance-
    reduction ratio (1 − ρ² in expectation).

    Pipeline: per-user (pre, post) value sums split at the exact micros
    midpoint (ONE user-keyed aggregate of DECIMAL sums); θ from exact
    global moments of those per-user pairs; the adjusted moments expand
    ALGEBRAICALLY — Σŷ = Σy − θ(Σx − n·x̄), Σŷ² likewise — so no second
    pass over users is needed and every input to the final doubles is an
    exact DECIMAL/BIGINT. Means/variances close as correctly-rounded
    double chains, micro fixed-point outputs.

    Scale shape: one user-keyed aggregate (the q_sessionize shuffle
    envelope), one 1-row moment aggregate, 1-row arithmetic after —
    θ and the variance ratio are model-sized at any scale."""
    t = load_tables(spark, sf_dir)
    ev = t.events.select("user_id", F.unix_micros("ts").alias("us"), "value")
    bounds = ev.agg(((F.min("us") + F.max("us")) / F.lit(2)).cast("bigint").alias("mid_us"))
    dec = F.col("value").cast("decimal(18,6)")
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(F.col("us") <= F.col("mid_us"), dec)),
                       F.lit(0).cast("decimal(18,6)")).alias("x"),
            F.coalesce(F.sum(F.when(F.col("us") > F.col("mid_us"), dec)),
                       F.lit(0).cast("decimal(18,6)")).alias("y"),
        )
        .select(
            (F.pmod(F.col("user_id"), F.lit(2)) == 1).cast("int").alias("variant"),
            "x",
            "y",
        )
    )
    mom = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    theta = F.round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6)
    xbar = F.round(sx / n, 6)
    model = mom.select(theta.alias("theta"), xbar.alias("xbar"))
    adj = F.col("y").cast("double") - F.col("theta") * (
        F.col("x").cast("double") - F.col("xbar")
    )
    per_variant = (
        per_user.crossJoin(F.broadcast(model))
        .select(
            "variant",
            F.col("y").cast("double").alias("yd"),
            adj.alias("ya"),
            "theta",
        )
        .groupBy("variant")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.round(F.col("yd"), 6).cast("decimal(28,6)")).alias("s_raw"),
            F.sum(F.round(F.col("yd") * F.col("yd"), 6).cast("decimal(28,6)")).alias("ss_raw"),
            F.sum(F.round(F.col("ya"), 6).cast("decimal(28,6)")).alias("s_adj"),
            F.sum(F.round(F.col("ya") * F.col("ya"), 6).cast("decimal(28,6)")).alias("ss_adj"),
            F.first("theta").alias("theta"),
        )
    )
    nu = F.col("n_users").cast("double")
    var_raw = (F.col("ss_raw").cast("double")
               - F.col("s_raw").cast("double") * F.col("s_raw").cast("double") / nu) / (nu - 1)
    var_adj = (F.col("ss_adj").cast("double")
               - F.col("s_adj").cast("double") * F.col("s_adj").cast("double") / nu) / (nu - 1)
    out = per_variant.select(
        "variant",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.floor(F.col("theta") * 1000000.0 + F.lit(0.5)).cast("bigint").alias("theta_micro"),
        F.floor(F.col("s_raw").cast("double") / nu * 1000000.0 + F.lit(0.5))
        .cast("bigint").alias("mean_raw_micro"),
        F.floor(F.col("s_adj").cast("double") / nu * 1000000.0 + F.lit(0.5))
        .cast("bigint").alias("mean_adj_micro"),
        F.floor(var_adj / var_raw * 1000000.0 + F.lit(0.5))
        .cast("bigint").alias("var_ratio_micro"),
    )
    from machinelearningalgomapreduce_spark.operators.relational import tiny_sorted

    return tiny_sorted(out, "variant")


QUERIES["q_cuped"] = q_cuped

ORACLES["q_cuped"] = """
    WITH ev AS (
        SELECT user_id, epoch_us(ts) AS us, CAST(value AS DECIMAL(18,6)) AS v
        FROM events
    ),
    bounds AS (
        SELECT CAST(floor((min(us) + max(us)) / 2.0) AS BIGINT) AS mid_us FROM ev
    ),
    per_user AS (
        SELECT CAST(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS INTEGER) AS variant,
               coalesce(sum(CASE WHEN us <= mid_us THEN v END),
                        CAST(0 AS DECIMAL(18,6))) AS x,
               coalesce(sum(CASE WHEN us > mid_us THEN v END),
                        CAST(0 AS DECIMAL(18,6))) AS y
        FROM ev, bounds
        GROUP BY user_id
    ),
    mom AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM per_user
    ),
    model AS (
        SELECT round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                     / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n),
                     6) AS theta,
               round(CAST(sx AS DOUBLE) / n, 6) AS xbar
        FROM mom
    ),
    scored AS (
        SELECT variant,
               CAST(round(CAST(y AS DOUBLE), 6) AS DECIMAL(28,6)) AS yr,
               CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 6)
                    AS DECIMAL(28,6)) AS yyr,
               CAST(round(CAST(y AS DOUBLE)
                          - theta * (CAST(x AS DOUBLE) - xbar), 6)
                    AS DECIMAL(28,6)) AS ya,
               CAST(round((CAST(y AS DOUBLE) - theta * (CAST(x AS DOUBLE) - xbar))
                          * (CAST(y AS DOUBLE) - theta * (CAST(x AS DOUBLE) - xbar)), 6)
                    AS DECIMAL(28,6)) AS yya,
               theta
        FROM per_user, model
    ),
    per_variant AS (
        SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
               sum(yr) AS s_raw, sum(yyr) AS ss_raw,
               sum(ya) AS s_adj, sum(yya) AS ss_adj,
               min(theta) AS theta
        FROM scored GROUP BY variant
    )
    SELECT variant, n_users,
           CAST(floor(theta * 1000000.0 + 0.5) AS BIGINT) AS theta_micro,
           CAST(floor(CAST(s_raw AS DOUBLE) / n_users * 1000000.0 + 0.5)
                AS BIGINT) AS mean_raw_micro,
           CAST(floor(CAST(s_adj AS DOUBLE) / n_users * 1000000.0 + 0.5)
                AS BIGINT) AS mean_adj_micro,
           CAST(floor(
               ((CAST(ss_adj AS DOUBLE)
                 - CAST(s_adj AS DOUBLE) * CAST(s_adj AS DOUBLE) / n_users)
                / (n_users - 1))
               / ((CAST(ss_raw AS DOUBLE)
                   - CAST(s_raw AS DOUBLE) * CAST(s_raw AS DOUBLE) / n_users)
                  / (n_users - 1))
               * 1000000.0 + 0.5) AS BIGINT) AS var_ratio_micro
    FROM per_variant
    ORDER BY variant
"""


def q_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between the click and
    purchase `value` distributions — the drift metric that, unlike
    q_ks_test's sup-norm, weighs HOW FAR mass moved, the property that
    makes it the preferred shift score for feature monitoring:
    W₁ = ∫|F_A − F_B| dv = Σ_i |F_A(v_i) − F_B(v_i)|·(v_{i+1} − v_i)
    over the sorted distinct values.

    Exactness: the ECDF gap at each value is q_ks_test's exact integer
    |c_a·N_b − c_b·N_a|; each term multiplies that BIGINT (as double)
    by the exact value gap (one correctly-rounded multiply); the
    cross-row sum folds in value order seeded at 0.0 in BOTH engines
    (the q_log_rank sorted-fold discipline); one final division by
    N_a·N_b, rounded 6.

    Scale shape: the q_ks_test envelope — one hash aggregate keyed by
    distinct metric value, one cumulative window over that frame
    (quantize the metric at 100 TB), one fold + 1-row rollup."""
    t = load_tables(spark, sf_dir)
    both = t.events.filter(F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B))
    per_value = both.groupBy("value").agg(
        F.sum((F.col("event_type") == KS_TYPE_A).cast("bigint")).alias("na"),
        F.sum((F.col("event_type") == KS_TYPE_B).cast("bigint")).alias("nb"),
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, 0)
    lead = W.orderBy("value")
    cum = per_value.select(
        "value",
        F.sum("na").over(w).alias("ca"),
        F.sum("nb").over(w).alias("cb"),
        (F.lead("value").over(lead) - F.col("value")).alias("gap"),
    )
    totals = per_value.agg(F.sum("na").alias("n_a"), F.sum("nb").alias("n_b"))
    d_int = F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
    terms = (
        cum.crossJoin(F.broadcast(totals))
        .filter(F.col("gap").isNotNull())
        .select("value", "n_a", "n_b", (d_int.cast("double") * F.col("gap")).alias("term"))
    )
    folded = terms.groupBy("n_a", "n_b").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("value", "term"))),
                lambda s: s["term"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("s")
    )
    return folded.select(
        "n_a",
        "n_b",
        F.round(
            F.try_divide(
                F.col("s"),
                F.col("n_a").cast("double") * F.col("n_b").cast("double"),
            ),
            6,
        ).alias("w1"),
    )


QUERIES["q_wasserstein"] = q_wasserstein

ORACLES["q_wasserstein"] = f"""
    WITH per_value AS (
        SELECT value,
               CAST(sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM events
        WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
        GROUP BY value
    ), cum AS (
        SELECT value,
               CAST(sum(na) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
               CAST(sum(nb) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb,
               lead(value) OVER (ORDER BY value) - value AS gap
        FROM per_value
    ), totals AS (
        SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
        FROM per_value
    ), terms AS (
        SELECT c.value, t.n_a, t.n_b,
               CAST(abs(c.ca * t.n_b - c.cb * t.n_a) AS DOUBLE) * c.gap AS term
        FROM cum c CROSS JOIN totals t
        WHERE c.gap IS NOT NULL
    )
    SELECT n_a, n_b,
           round(list_reduce(list_prepend(0.0, list(term ORDER BY value)),
                             (a, x) -> a + x)
                 / nullif(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE), 0.0), 6)
               AS w1
    FROM terms GROUP BY n_a, n_b
"""


def q_hellinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance between the click and purchase `value`
    distributions via the Bhattacharyya coefficient:
    BC = Σ_i √(p_i·q_i), H = √(1 − BC) — the bounded-[0,1] shift score
    that, unlike KL, is finite under disjoint support and symmetric,
    completing the drift family (PSI / KL / KS / W₁).

    Exactness: each term is √(na_i·nb_i / (N_a·N_b)) — an exact BIGINT
    product ratio through one correctly-rounded division and one
    correctly-rounded sqrt; the cross-row sum folds in value order
    seeded at 0.0 in both engines; H clamps 1−BC at 0 before the sqrt
    (ulp safety when the distributions coincide), rounded 6.

    Scale shape: the q_ks_test envelope minus the window — one hash
    aggregate keyed by distinct metric value, one fold + 1-row rollup
    (values on one side only contribute 0 and drop out exactly)."""
    t = load_tables(spark, sf_dir)
    both = t.events.filter(F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B))
    per_value = both.groupBy("value").agg(
        F.sum((F.col("event_type") == KS_TYPE_A).cast("bigint")).alias("na"),
        F.sum((F.col("event_type") == KS_TYPE_B).cast("bigint")).alias("nb"),
    )
    totals = per_value.agg(F.sum("na").alias("n_a"), F.sum("nb").alias("n_b"))
    term = F.sqrt(
        (F.col("na") * F.col("nb")).cast("double")
        / (F.col("n_a") * F.col("n_b")).cast("double")
    )
    terms = (
        per_value.crossJoin(F.broadcast(totals))
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select("value", "n_a", "n_b", term.alias("term"))
    )
    folded = terms.groupBy("n_a", "n_b").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("value", "term"))),
                lambda s: s["term"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("bc")
    )
    return folded.select(
        "n_a",
        "n_b",
        F.round("bc", 6).alias("bhattacharyya"),
        F.round(F.sqrt(F.greatest(F.lit(0.0), 1.0 - F.col("bc"))), 6).alias("hellinger"),
    )


QUERIES["q_hellinger"] = q_hellinger

ORACLES["q_hellinger"] = f"""
    WITH per_value AS (
        SELECT value,
               CAST(sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM events
        WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
        GROUP BY value
    ), totals AS (
        SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
        FROM per_value
    ), terms AS (
        SELECT p.value, t.n_a, t.n_b,
               sqrt(CAST(p.na * p.nb AS DOUBLE)
                    / CAST(t.n_a * t.n_b AS DOUBLE)) AS term
        FROM per_value p CROSS JOIN totals t
        WHERE p.na > 0 AND p.nb > 0
    ), folded AS (
        SELECT n_a, n_b,
               list_reduce(list_prepend(0.0, list(term ORDER BY value)),
                           (a, x) -> a + x) AS bc
        FROM terms GROUP BY n_a, n_b
    )
    SELECT n_a, n_b,
           round(bc, 6) AS bhattacharyya,
           round(sqrt(greatest(0.0, 1.0 - bc)), 6) AS hellinger
    FROM folded
"""


def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises criterion between the click and
    purchase `value` distributions — integrates the SQUARED ECDF gap
    over the pooled sample, the whole-distribution complement to
    q_ks_test's single worst point:
    T = nm/(n+m)² · Σ_z (F_A(z) − F_B(z))²  over pooled points z
      = Σ_v (na_v+nb_v)·(ca_v·m − cb_v·n)² / (n·m·(n+m)²).

    Exactness: the ENTIRE numerator Σ w·(ca·m − cb·n)² is exact — the
    inner difference is q_ks_test's BIGINT cross-multiplication and the
    weighted square accumulates as DECIMAL(38,0) (the q_mannwhitney
    HUGEINT discipline — (ca·m)² alone can pass 2⁶³); ONE double
    division at the end, rounded 6.

    Scale shape: the q_ks_test envelope — one hash aggregate keyed by
    distinct metric value, one cumulative window over that frame
    (quantize at 100 TB), one 1-row rollup."""
    t = load_tables(spark, sf_dir)
    both = t.events.filter(F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B))
    per_value = both.groupBy("value").agg(
        F.sum((F.col("event_type") == KS_TYPE_A).cast("bigint")).alias("na"),
        F.sum((F.col("event_type") == KS_TYPE_B).cast("bigint")).alias("nb"),
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, 0)
    cum = per_value.select(
        "na",
        "nb",
        F.sum("na").over(w).alias("ca"),
        F.sum("nb").over(w).alias("cb"),
    )
    totals = per_value.agg(F.sum("na").alias("n_a"), F.sum("nb").alias("n_b"))
    d38 = "decimal(38,0)"
    diff = (F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")).cast(d38)
    wterm = ((F.col("na") + F.col("nb")).cast(d38) * diff * diff)
    agg = cum.crossJoin(F.broadcast(totals)).groupBy("n_a", "n_b").agg(
        F.sum(wterm).alias("num")
    )
    na_d, nb_d = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    denom = na_d * nb_d * (na_d + nb_d) * (na_d + nb_d)
    return agg.select(
        "n_a",
        "n_b",
        F.round(F.try_divide(F.col("num").cast("double"), denom), 6).alias("cvm"),
    )


QUERIES["q_cramer_von_mises"] = q_cramer_von_mises

ORACLES["q_cramer_von_mises"] = f"""
    WITH per_value AS (
        SELECT value,
               CAST(sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM events
        WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
        GROUP BY value
    ), cum AS (
        SELECT na, nb,
               CAST(sum(na) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
               CAST(sum(nb) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
        FROM per_value
    ), totals AS (
        SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
        FROM per_value
    ), agg AS (
        SELECT t.n_a, t.n_b,
               sum(CAST(c.na + c.nb AS DECIMAL(38,0))
                   * CAST(c.ca * t.n_b - c.cb * t.n_a AS DECIMAL(38,0))
                   * CAST(c.ca * t.n_b - c.cb * t.n_a AS DECIMAL(38,0))) AS num
        FROM cum c CROSS JOIN totals t
        GROUP BY t.n_a, t.n_b
    )
    SELECT n_a, n_b,
           round(CAST(num AS DOUBLE)
                 / nullif(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                          * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                          * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)), 0.0), 6)
               AS cvm
    FROM agg
"""


def q_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance between the click and purchase `value`
    distributions: D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'| — the
    characteristic-function shift metric (zero iff equal
    distributions) that complements W₁/Hellinger/CvM with sensitivity
    to ALL moments. Each double expectation is computed from the
    sorted distinct-value frame via the prefix-sum identity
    ΣΣ|a−b| = Σ_v n_v·(2v·C(v) − 2S(v) + S_tot − v·N), never a pairwise
    join.

    Exactness: values are quantized ONCE to exact integer cents
    (floor(v·100 + 0.5) — deterministic in both engines; the fixture's
    2-decimal prices make this lossless), so every prefix sum and every
    pairwise-distance total is EXACT integer arithmetic in
    DECIMAL(38,0); three double divisions and one sqrt at the end,
    rounded 6. No float accumulates anywhere.

    Scale shape: the q_ks_test envelope — one hash aggregate keyed by
    distinct value, INTEGER cumulative windows over that frame
    (quantize at 100 TB), one 1-row rollup."""
    t = load_tables(spark, sf_dir)
    both = t.events.filter(F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B))
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
    per_value = both.groupBy(cents.alias("c")).agg(
        F.sum((F.col("event_type") == KS_TYPE_A).cast("bigint")).alias("na"),
        F.sum((F.col("event_type") == KS_TYPE_B).cast("bigint")).alias("nb"),
    )
    w = W.orderBy("c").rowsBetween(W.unboundedPreceding, 0)
    cum = per_value.select(
        "c",
        "na",
        "nb",
        F.sum("na").over(w).alias("ca"),
        F.sum("nb").over(w).alias("cb"),
        F.sum(F.col("na") * F.col("c")).over(w).alias("sa"),
        F.sum(F.col("nb") * F.col("c")).over(w).alias("sb"),
    )
    totals = per_value.agg(
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.sum(F.col("na") * F.col("c")).alias("sa_t"),
        F.sum(F.col("nb") * F.col("c")).alias("sb_t"),
    )
    d38 = "decimal(38,0)"

    def pair_sum(n_col, c_cum, s_cum, s_tot, n_tot):
        return (
            F.col(n_col).cast(d38)
            * (
                2 * F.col("c").cast(d38) * F.col(c_cum).cast(d38)
                - 2 * F.col(s_cum).cast(d38)
                + F.col(s_tot).cast(d38)
                - F.col("c").cast(d38) * F.col(n_tot).cast(d38)
            )
        )

    agg = cum.crossJoin(F.broadcast(totals)).groupBy("n_a", "n_b").agg(
        F.sum(pair_sum("na", "cb", "sb", "sb_t", "n_b")).alias("s_ab"),
        F.sum(pair_sum("na", "ca", "sa", "sa_t", "n_a")).alias("s_aa"),
        F.sum(pair_sum("nb", "cb", "sb", "sb_t", "n_b")).alias("s_bb"),
    )
    na_d, nb_d = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    e2 = (
        2.0 * F.try_divide(F.col("s_ab").cast("double"), na_d * nb_d)
        - F.try_divide(F.col("s_aa").cast("double"), na_d * na_d)
        - F.try_divide(F.col("s_bb").cast("double"), nb_d * nb_d)
    ) / 100.0
    return agg.select(
        "n_a",
        "n_b",
        F.round(e2, 6).alias("e2"),
        F.round(F.sqrt(F.greatest(F.lit(0.0), e2)), 6).alias("e_dist"),
    )


QUERIES["q_energy_distance"] = q_energy_distance

ORACLES["q_energy_distance"] = f"""
    WITH per_value AS (
        SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
               CAST(sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM events
        WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
        GROUP BY 1
    ), cum AS (
        SELECT c, na, nb,
               CAST(sum(na) OVER win AS BIGINT) AS ca,
               CAST(sum(nb) OVER win AS BIGINT) AS cb,
               CAST(sum(na * c) OVER win AS BIGINT) AS sa,
               CAST(sum(nb * c) OVER win AS BIGINT) AS sb
        FROM per_value
        WINDOW win AS (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), totals AS (
        SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b,
               CAST(sum(na * c) AS BIGINT) AS sa_t, CAST(sum(nb * c) AS BIGINT) AS sb_t
        FROM per_value
    ), agg AS (
        SELECT t.n_a, t.n_b,
               sum(CAST(u.na AS DECIMAL(38,0))
                   * (2 * CAST(u.c AS DECIMAL(38,0)) * CAST(u.cb AS DECIMAL(38,0))
                      - 2 * CAST(u.sb AS DECIMAL(38,0))
                      + CAST(t.sb_t AS DECIMAL(38,0))
                      - CAST(u.c AS DECIMAL(38,0)) * CAST(t.n_b AS DECIMAL(38,0)))) AS s_ab,
               sum(CAST(u.na AS DECIMAL(38,0))
                   * (2 * CAST(u.c AS DECIMAL(38,0)) * CAST(u.ca AS DECIMAL(38,0))
                      - 2 * CAST(u.sa AS DECIMAL(38,0))
                      + CAST(t.sa_t AS DECIMAL(38,0))
                      - CAST(u.c AS DECIMAL(38,0)) * CAST(t.n_a AS DECIMAL(38,0)))) AS s_aa,
               sum(CAST(u.nb AS DECIMAL(38,0))
                   * (2 * CAST(u.c AS DECIMAL(38,0)) * CAST(u.cb AS DECIMAL(38,0))
                      - 2 * CAST(u.sb AS DECIMAL(38,0))
                      + CAST(t.sb_t AS DECIMAL(38,0))
                      - CAST(u.c AS DECIMAL(38,0)) * CAST(t.n_b AS DECIMAL(38,0)))) AS s_bb
        FROM cum u CROSS JOIN totals t
        GROUP BY t.n_a, t.n_b
    )
    SELECT n_a, n_b,
           round((2.0 * CAST(s_ab AS DOUBLE)
                      / nullif(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE), 0.0)
                  - CAST(s_aa AS DOUBLE)
                      / nullif(CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE), 0.0)
                  - CAST(s_bb AS DOUBLE)
                      / nullif(CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE), 0.0))
                 / 100.0, 6) AS e2,
           round(sqrt(greatest(0.0,
                 (2.0 * CAST(s_ab AS DOUBLE)
                      / nullif(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE), 0.0)
                  - CAST(s_aa AS DOUBLE)
                      / nullif(CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE), 0.0)
                  - CAST(s_bb AS DOUBLE)
                      / nullif(CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE), 0.0))
                 / 100.0)), 6) AS e_dist
    FROM agg
"""


def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling statistic between the click and
    purchase `value` distributions — CvM's tail-weighted sibling (the
    1/(H(1−H)) weight makes it the sensitive choice when shift lives in
    the tails, exactly where training-data drift hides):
    A² = (1/N)·Σ_{pooled z, H(z)<1} (N·(ca·m − cb·n)/(n·m))²·w_z
         / (k_z·(N−k_z)) ... algebraically reduced to
    A² = Σ_v (na_v+nb_v)·(ca_v·n_b − cb_v·n_a)² / (k_v·(N−k_v))
         / (n_a·n_b)   over distinct values with k_v < N
    (the Pettitt two-sample form — E[A²] ≈ 1 under H₀, verified by
    simulation; the all-mass last point drops out).

    Exactness: each term's numerator (na+nb)·(ca·nb − cb·na)² is the
    exact DECIMAL(38,0) integer of q_cramer_von_mises and its
    denominator k·(N−k) an exact BIGINT product — ONE double division
    per distinct value, then the cross-row sum folds in value order
    seeded at 0.0 (the q_log_rank discipline); one final scale by
    1/(n_a·n_b), rounded 6.

    Scale shape: the q_ks_test envelope — one hash aggregate keyed by
    distinct metric value, one cumulative window over that frame
    (quantize at 100 TB), one fold + 1-row rollup."""
    t = load_tables(spark, sf_dir)
    both = t.events.filter(F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B))
    per_value = both.groupBy("value").agg(
        F.sum((F.col("event_type") == KS_TYPE_A).cast("bigint")).alias("na"),
        F.sum((F.col("event_type") == KS_TYPE_B).cast("bigint")).alias("nb"),
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, 0)
    cum = per_value.select(
        "value",
        "na",
        "nb",
        F.sum("na").over(w).alias("ca"),
        F.sum("nb").over(w).alias("cb"),
    )
    totals = per_value.agg(F.sum("na").alias("n_a"), F.sum("nb").alias("n_b"))
    d38 = "decimal(38,0)"
    big_n = F.col("n_a") + F.col("n_b")
    k = F.col("ca") + F.col("cb")
    diff = (F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")).cast(d38)
    num = (F.col("na") + F.col("nb")).cast(d38) * diff * diff
    term = num.cast("double") / (k * (big_n - k)).cast("double")
    terms = (
        cum.crossJoin(F.broadcast(totals))
        .filter(k < big_n)
        .select("value", "n_a", "n_b", term.alias("term"))
    )
    folded = terms.groupBy("n_a", "n_b").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("value", "term"))),
                lambda s: s["term"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("s")
    )
    nad, nbd = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    return folded.select(
        "n_a",
        "n_b",
        F.round(F.try_divide(F.col("s"), nad * nbd), 6).alias("ad_stat"),
    )


QUERIES["q_anderson_darling"] = q_anderson_darling

ORACLES["q_anderson_darling"] = f"""
    WITH per_value AS (
        SELECT value,
               CAST(sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM events
        WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
        GROUP BY value
    ), cum AS (
        SELECT value, na, nb,
               CAST(sum(na) OVER win AS BIGINT) AS ca,
               CAST(sum(nb) OVER win AS BIGINT) AS cb
        FROM per_value
        WINDOW win AS (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), totals AS (
        SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
        FROM per_value
    ), terms AS (
        SELECT c.value, t.n_a, t.n_b,
               CAST(CAST(c.na + c.nb AS DECIMAL(38,0))
                    * CAST(c.ca * t.n_b - c.cb * t.n_a AS DECIMAL(38,0))
                    * CAST(c.ca * t.n_b - c.cb * t.n_a AS DECIMAL(38,0)) AS DOUBLE)
               / CAST((c.ca + c.cb) * (t.n_a + t.n_b - c.ca - c.cb) AS DOUBLE) AS term
        FROM cum c CROSS JOIN totals t
        WHERE c.ca + c.cb < t.n_a + t.n_b
    ), folded AS (
        SELECT n_a, n_b,
               list_reduce(list_prepend(0.0, list(term ORDER BY value)),
                           (a, x) -> a + x) AS s
        FROM terms GROUP BY n_a, n_b
    )
    SELECT n_a, n_b,
           round(s / nullif(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE), 0.0), 6)
               AS ad_stat
    FROM folded
"""
