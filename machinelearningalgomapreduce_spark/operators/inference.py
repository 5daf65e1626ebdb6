"""Statistical-inference completions (SURVEY.md §2C evaluation tier,
round-8 session 6): the post-hoc / effect-size / survival-comparison
statistics that sit one step AFTER the omnibus tests already in
operators/evaluation.py — Tukey-Kramer pairwise ranges after q_anova,
the G-test twin of q_chi2, Cohen's d / Cliff's delta effect sizes next
to q_ab_test / q_mannwhitney, and the log-rank test + Nelson-Aalen
cumulative hazard completing q_survival_curve's Kaplan-Meier risk table.

Float policy (SURVEY.md §5.2.3): sufficient statistics accumulate as
exact BIGINTs or DECIMAL(18,6) (order-independent in both engines);
cross-row sums of derived doubles use the deterministic sorted-fold
(Spark `F.aggregate` over an `array_sort`ed struct list seeded at 0.0;
DuckDB `list_reduce(list_prepend(0.0, list(... ORDER BY ...)))`) so the
float fold order is engine-identical; outputs round to 6.

Scale notes (100 TB posture):
- every kernel reduces the fact table with ONE hash aggregate whose key
  domain is bounded (event types, distinct metric values, distinct
  conversion durations); all later joins/windows/folds run on that
  model-sized frame and small sides are broadcast.
- the survival kernels inherit kaplan_meier's distinct-duration frame —
  at extreme duration cardinality quantize t_s to minutes upstream
  (same downstream contract), exactly like q_mannwhitney's guidance to
  quantize the metric for the distinct-value frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from machinelearningalgomapreduce_spark.functions.fixedpoint import half_up
from machinelearningalgomapreduce_spark.operators.behavior import kaplan_meier
from machinelearningalgomapreduce_spark.operators.evaluation import (
    HOUR_BAND_WIDTH,
    KS_TYPE_A,
    KS_TYPE_B,
)
from machinelearningalgomapreduce_spark.sources.catalog import load_tables

# |Cliff's delta| interpretation fences (Romano et al. 2006 — the
# conventional small/medium/large cutpoints used with this statistic).
CLIFF_SMALL, CLIFF_MEDIUM, CLIFF_LARGE = 0.147, 0.33, 0.474


def _km_risk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The integer Kaplan-Meier risk table (t_s, n_risk, n_events,
    n_censored) — q_survival_curve's core, re-derived here so this
    module's survival kernels share one plan shape."""
    return kaplan_meier(spark, sf_dir).select(
        "t_s", "n_risk", "n_events", "n_censored"
    )


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over the click→purchase conversion
    risk table: H(t) = Σ_{s ≤ t} d_s / n_s, the estimator whose
    exp(−H) Breslow curve brackets Kaplan-Meier from above.

    Exactness: the per-time hazard is q_survival_curve's half-up
    micro-unit BIGINT (d·10⁶ / n), and the cumulative column is a
    windowed BIGINT prefix sum of those micro-units — integer-exact in
    both engines, no float accumulation anywhere (the true Σd/n differs
    from the micro sum by ≤ 5·10⁻⁷ per term; the float curve stays on
    the kaplan_meier library API like KM's survival product).

    Scale shape: kaplan_meier's (two per-user aggregates + one
    value-compressed rollup), plus one window over the distinct-duration
    frame."""
    km = _km_risk_table(spark, sf_dir)
    hz = half_up(F.col("n_events") * 1_000_000, F.col("n_risk"))
    w = W.orderBy("t_s").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        km.withColumn("hazard_micro", hz)
        .withColumn("cumhaz_micro", F.sum("hazard_micro").over(w).cast("bigint"))
        .select("t_s", "n_risk", "n_events", "hazard_micro", "cumhaz_micro")
    )


def q_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-cohort log-rank (Mantel-Cox) test on click→purchase
    conversion, cohorts assigned by user_id parity (the deterministic
    hash-bucket assignment a platform A/B system would produce): at each
    distinct conversion time t, observed group-1 events d₁ₜ vs expected
    E₁ₜ = dₜ·n₁ₜ/nₜ under the null, variance the hypergeometric
    Vₜ = dₜ·(n₁ₜ/nₜ)·(n₀ₜ/nₜ)·(nₜ−dₜ)/(nₜ−1); z = (O₁−E₁)/√ΣV.

    Exactness: per-time d/c/n columns are exact BIGINTs (conditional
    sums + prefix-sum windows over the distinct-duration frame); the two
    cross-time float sums (ΣE₁ₜ, ΣVₜ) fold in t_s order seeded at 0.0 in
    BOTH engines, so z is bit-identical before the round.

    Scale shape: kaplan_meier's envelope with the group dimension folded
    into the same value-compressed rollup — the fan-in stays one
    aggregate over the fact table; the sorted fold runs on the
    O(distinct durations) frame (quantize t_s upstream at extreme
    cardinality)."""
    t = load_tables(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    first_click = (
        t.events.filter(F.col("event_type") == "click")
        .select("user_id", us.alias("c_us"))
        .groupBy("user_id")
        .agg(F.min("c_us").alias("c_us"))
    )
    first_purchase = (
        t.events.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("p_us"))
        .join(first_click, "user_id")
        .filter(F.col("p_us") > F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("p_us").alias("p_us"))
    )
    last_seen = (
        t.events.select("user_id", us.alias("l_us"))
        .join(first_click, "user_id")
        .groupBy("user_id")
        .agg(F.max("l_us").alias("l_us"))
    )
    per_user = (
        first_click.join(first_purchase, "user_id", "left")
        .join(last_seen, "user_id")
        .select(
            (F.col("user_id") % 2).cast("bigint").alias("g"),
            F.col("p_us").isNotNull().alias("event"),
            (
                (F.coalesce(F.col("p_us"), F.col("l_us")) - F.col("c_us"))
                / F.lit(1_000_000)
            ).cast("bigint").alias("t_s"),
        )
        .filter(F.col("t_s") >= 0)
    )
    ev = F.col("event").cast("bigint")
    per_t = per_user.groupBy("t_s").agg(
        F.sum(F.when(F.col("g") == 0, ev).otherwise(F.lit(0))).alias("e0"),
        F.sum(F.when(F.col("g") == 1, ev).otherwise(F.lit(0))).alias("e1"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("r0"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("r1"),
    )
    tot = per_user.groupBy().agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("n0_tot"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n1_tot"),
    )
    prior = W.orderBy("t_s").rowsBetween(W.unboundedPreceding, -1)
    at_risk = per_t.crossJoin(F.broadcast(tot)).select(
        "t_s",
        "e0",
        "e1",
        (F.col("n0_tot") - F.coalesce(F.sum("r0").over(prior), F.lit(0))).alias("n0t"),
        (F.col("n1_tot") - F.coalesce(F.sum("r1").over(prior), F.lit(0))).alias("n1t"),
        "n0_tot",
        "n1_tot",
    )
    dt = F.col("e0") + F.col("e1")
    nt = F.col("n0t") + F.col("n1t")
    dtd, ntd = dt.cast("double"), nt.cast("double")
    n1d, n0d = F.col("n1t").cast("double"), F.col("n0t").cast("double")
    terms = at_risk.filter((dt > 0) & (nt > 1)).select(
        "t_s",
        "e1",
        "n0_tot",
        "n1_tot",
        (dtd * n1d / ntd).alias("e_term"),
        (dtd * (n1d / ntd) * (n0d / ntd) * ((ntd - dtd) / (ntd - 1.0))).alias("v_term"),
    )
    folded = terms.groupBy("n0_tot", "n1_tot").agg(
        F.sum("e1").alias("o1"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("t_s", "e_term"))),
                lambda s: s["e_term"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("e1_sum"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("t_s", "v_term"))),
                lambda s: s["v_term"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("v_sum"),
    )
    z = (F.col("o1").cast("double") - F.col("e1_sum")) / F.sqrt(F.col("v_sum"))
    return folded.select(
        F.col("n0_tot").cast("bigint").alias("n0"),
        F.col("n1_tot").cast("bigint").alias("n1"),
        F.col("o1").cast("bigint").alias("o1"),
        F.round("e1_sum", 6).alias("e1"),
        F.round("v_sum", 6).alias("var_sum"),
        F.round(z, 6).alias("z"),
    )


def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer honestly-significant-difference statistics for every
    event-type pair on mean `value` — the post-hoc step after q_anova
    rejects: qᵢⱼ = |ȳᵢ−ȳⱼ| / √(MSE/2 · (1/nᵢ + 1/nⱼ)) with MSE the
    one-way within-group mean square (unbalanced Tukey-Kramer form).

    Exactness: per-group (n, Σx, Σx²) accumulate as DECIMAL(18,6) (the
    q_anova / q_ab_test pattern — order-independent, engine-identical);
    each group's SSW term re-enters DECIMAL after round-6 so the
    cross-group sum is exact; pairwise expressions are derived doubles
    rounded to 6.

    Scale shape: ONE hash aggregate keyed by event type with map-side
    partials; the pairwise frame is the O(k²) self-join of the
    broadcast k-row group table."""
    t = load_tables(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,6)")
    groups = t.events.groupBy("event_type").agg(
        F.count("*").alias("n_g"),
        F.sum(dec).alias("sx"),
        F.sum(dec * dec).alias("sxx"),
    )
    sxd, sxxd = F.col("sx").cast("double"), F.col("sxx").cast("double")
    ngd = F.col("n_g").cast("double")
    ssw_term = F.round(sxxd - sxd * sxd / ngd, 6).cast("decimal(18,6)")
    mse_frame = groups.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n_total"),
        F.sum(ssw_term).alias("ssw"),
    ).select(
        "k",
        "n_total",
        (F.col("n_total") - F.col("k")).cast("bigint").alias("df_w"),
        (
            F.col("ssw").cast("double")
            / (F.col("n_total") - F.col("k")).cast("double")
        ).alias("mse"),
    )
    a = groups.select(
        F.col("event_type").alias("ty_a"),
        F.col("n_g").alias("n_a"),
        (F.col("sx").cast("double") / F.col("n_g").cast("double")).alias("mean_a"),
    )
    b = groups.select(
        F.col("event_type").alias("ty_b"),
        F.col("n_g").alias("n_b"),
        (F.col("sx").cast("double") / F.col("n_g").cast("double")).alias("mean_b"),
    )
    pairs = (
        a.join(F.broadcast(b), F.col("ty_a") < F.col("ty_b"))
        .crossJoin(F.broadcast(mse_frame))
    )
    diff = F.col("mean_a") - F.col("mean_b")
    se = F.sqrt(
        F.col("mse")
        / 2.0
        * (1.0 / F.col("n_a").cast("double") + 1.0 / F.col("n_b").cast("double"))
    )
    from machinelearningalgomapreduce_spark.operators.relational import tiny_sorted

    out = pairs.select(
        "ty_a",
        "ty_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "df_w",
        F.round(diff, 6).alias("mean_diff"),
        F.round(F.abs(diff) / se, 6).alias("q_stat"),
    )
    # O(k²) pairs of a bounded type domain: single-partition sort, never
    # a range exchange (tiny_sorted rationale).
    return tiny_sorted(out, "ty_a", "ty_b")


def q_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood-ratio) of independence on q_chi2's exact
    contingency table (event_type × six-hour band): G = 2·Σ O·ln(O/E),
    the statistic that stays calibrated when expected counts are small
    and is additive across table partitions (the reason pipelines
    monitoring many shards prefer it to Pearson χ²).

    Exactness: cell and marginal counts are exact BIGINTs; E = rt·ct/nn
    uses exact integer products before one double division; the
    cross-cell float sum folds in (event_type, band) order seeded at 0.0
    in both engines. Absent cells contribute O·ln(O/E) = 0 by the usual
    convention and never materialize.

    Scale shape: q_chi2's — one contingency aggregate over the fact
    table, then all arithmetic on the O(types × bands) cell frame."""
    t = load_tables(spark, sf_dir)
    cells = t.events.groupBy(
        "event_type", (F.hour("ts") / HOUR_BAND_WIDTH).cast("int").alias("band")
    ).agg(F.count("*").alias("n"))
    row_tot = cells.groupBy("event_type").agg(F.sum("n").alias("rt"))
    col_tot = cells.groupBy("band").agg(F.sum("n").alias("ct"))
    grand = cells.agg(F.sum("n").alias("nn"))
    joined = (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "band")
        .crossJoin(F.broadcast(grand))
    )
    expected = F.col("rt").cast("double") * F.col("ct").cast("double") / F.col(
        "nn"
    ).cast("double")
    term = F.col("n").cast("double") * F.log(F.col("n").cast("double") / expected)
    with_term = joined.select("event_type", "band", term.alias("term"))
    # set sizes, not countDistinct (see evaluation.q_chi2)
    n_types = F.size(F.collect_set("event_type")).cast("bigint")
    n_bands = F.size(F.collect_set("band")).cast("bigint")
    agg = with_term.agg(
        F.count("*").alias("n_cells"),
        ((n_types - 1) * (n_bands - 1)).alias("dof"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("event_type", "band", "term"))),
                lambda s: s["term"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("s"),
    )
    return agg.select(
        F.col("n_cells").cast("bigint").alias("n_cells"),
        "dof",
        F.round(2.0 * F.col("s"), 6).alias("g_stat"),
    )


def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and Hedges' g between the click and purchase `value`
    distributions — the effect-size companion to q_ab_test's z (which
    answers "is it significant", not "is it big"): d = (m₁−m₂)/s_p with
    the pooled SD, g = d·(1 − 3/(4N−9)) the small-sample correction.

    Exactness: per-group (n, Σx, Σx²) as DECIMAL(18,6); every derived
    quantity is a scalar double expression of those five exact numbers,
    identical across engines, rounded to 6.

    Scale shape: ONE two-group hash aggregate over the filtered fact
    table, then O(1) arithmetic."""
    t = load_tables(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,6)")
    is_a = F.col("event_type") == KS_TYPE_A
    stats = t.events.filter(F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)).agg(
        F.sum(is_a.cast("bigint")).alias("n_a"),
        F.sum((~is_a).cast("bigint")).alias("n_b"),
        F.sum(F.when(is_a, dec)).alias("sx_a"),
        F.sum(F.when(~is_a, dec)).alias("sx_b"),
        F.sum(F.when(is_a, dec * dec)).alias("sxx_a"),
        F.sum(F.when(~is_a, dec * dec)).alias("sxx_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sxa, sxb = F.col("sx_a").cast("double"), F.col("sx_b").cast("double")
    ssa = F.col("sxx_a").cast("double") - sxa * sxa / na
    ssb = F.col("sxx_b").cast("double") - sxb * sxb / nb
    mean_diff = sxa / na - sxb / nb
    s_pooled = F.sqrt(F.try_divide(ssa + ssb, na + nb - 2.0))
    d = F.try_divide(mean_diff, s_pooled)
    g = d * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0))
    return stats.select(
        "n_a",
        "n_b",
        F.round(mean_diff, 6).alias("mean_diff"),
        F.round(d, 6).alias("cohens_d"),
        F.round(g, 6).alias("hedges_g"),
    )


def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between the click and purchase `value`
    distributions — the ordinal effect size paired with q_mannwhitney
    exactly as q_cohens_d pairs with q_ab_test:
    δ = (#(a>b) − #(a<b)) / (n_a·n_b) = (2U_A − n_a·n_b) / (n_a·n_b),
    with the standard Romano magnitude fences.

    Exactness: reuses q_mannwhitney's integer identity — 2U_A =
    Σ_v n_a(v)·(2·cb_before(v) + n_b(v)) over the distinct-value frame
    is an exact BIGINT, as is the 2U_A − n_a·n_b numerator (DECIMAL(38)
    against overflow at scale); δ is ONE double division, rounded 6.

    Scale shape: q_mannwhitney's — one hash aggregate keyed by distinct
    metric value, one cumulative window over that frame (quantize the
    metric at 100 TB), one 1-row rollup."""
    t = load_tables(spark, sf_dir)
    both = t.events.filter(F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B))
    per_value = both.groupBy("value").agg(
        F.sum((F.col("event_type") == KS_TYPE_A).cast("bigint")).alias("na"),
        F.sum((F.col("event_type") == KS_TYPE_B).cast("bigint")).alias("nb"),
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, 0)
    cum = per_value.withColumn("cb", F.sum("nb").over(w))
    stats = cum.agg(
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.sum(F.col("na") * (2 * (F.col("cb") - F.col("nb")) + F.col("nb"))).alias("u2"),
    )
    d38 = "decimal(38,0)"
    prod = F.col("n_a").cast(d38) * F.col("n_b").cast(d38)
    delta = F.try_divide(
        (F.col("u2").cast(d38) - prod).cast("double"), prod.cast("double")
    )
    mag = (
        F.when(delta.isNull(), F.lit(None).cast("string"))
        .when(F.abs(delta) < CLIFF_SMALL, "negligible")
        .when(F.abs(delta) < CLIFF_MEDIUM, "small")
        .when(F.abs(delta) < CLIFF_LARGE, "medium")
        .otherwise("large")
    )
    return stats.select(
        "n_a",
        "n_b",
        F.round(delta, 6).alias("delta"),
        mag.alias("magnitude"),
    )


QUERIES = {
    "q_nelson_aalen": q_nelson_aalen,
    "q_log_rank": q_log_rank,
    "q_tukey_hsd": q_tukey_hsd,
    "q_g_test": q_g_test,
    "q_cohens_d": q_cohens_d,
    "q_cliffs_delta": q_cliffs_delta,
}

_KM_RISK_CTES = """
        first_click AS (
            SELECT user_id, min(epoch_us(ts)) AS c_us
            FROM events WHERE event_type = 'click'
            GROUP BY user_id
        ),
        first_purchase AS (
            SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
            FROM events e JOIN first_click c USING (user_id)
            WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.c_us
            GROUP BY e.user_id
        ),
        last_seen AS (
            SELECT e.user_id, max(epoch_us(e.ts)) AS l_us
            FROM events e JOIN first_click c USING (user_id)
            GROUP BY e.user_id
        ),
        per_user AS (
            SELECT c.user_id, p.p_us IS NOT NULL AS event,
                   (coalesce(p.p_us, l.l_us) - c.c_us) // 1000000 AS t_s
            FROM first_click c
            LEFT JOIN first_purchase p USING (user_id)
            JOIN last_seen l USING (user_id)
            WHERE (coalesce(p.p_us, l.l_us) - c.c_us) // 1000000 >= 0
        )
"""

ORACLES = {
    "q_nelson_aalen": f"""
        WITH {_KM_RISK_CTES},
        per_t AS (
            SELECT t_s,
                   CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
                   CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
            FROM per_user GROUP BY t_s
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM per_user),
        risk AS (
            SELECT t_s, n_events,
                   (SELECT n_total FROM tot)
                   - coalesce(sum(n_events + n_censored)
                              OVER (ORDER BY t_s
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                              0) AS n_risk
            FROM per_t
        ),
        hz AS (
            SELECT t_s, CAST(n_risk AS BIGINT) AS n_risk, n_events,
                   CAST(floor((2 * n_events * 1000000 + n_risk)
                              / (2 * n_risk)) AS BIGINT) AS hazard_micro
            FROM risk
        )
        SELECT t_s, n_risk, n_events, hazard_micro,
               CAST(sum(hazard_micro)
                    OVER (ORDER BY t_s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cumhaz_micro
        FROM hz
    """,
    "q_log_rank": f"""
        WITH {_KM_RISK_CTES},
        grouped AS (
            SELECT user_id % 2 AS g, event, t_s FROM per_user
        ),
        per_t AS (
            SELECT t_s,
                   CAST(sum(CASE WHEN g = 0 AND event THEN 1 ELSE 0 END) AS BIGINT) AS e0,
                   CAST(sum(CASE WHEN g = 1 AND event THEN 1 ELSE 0 END) AS BIGINT) AS e1,
                   CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS r0,
                   CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1
            FROM grouped GROUP BY t_s
        ),
        tot AS (
            SELECT CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0_tot,
                   CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1_tot
            FROM grouped
        ),
        at_risk AS (
            SELECT t_s, e0, e1,
                   (SELECT n0_tot FROM tot)
                   - coalesce(sum(r0) OVER (ORDER BY t_s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n0t,
                   (SELECT n1_tot FROM tot)
                   - coalesce(sum(r1) OVER (ORDER BY t_s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1t,
                   (SELECT n0_tot FROM tot) AS n0_tot,
                   (SELECT n1_tot FROM tot) AS n1_tot
            FROM per_t
        ),
        terms AS (
            SELECT t_s, e1, n0_tot, n1_tot,
                   CAST(e0 + e1 AS DOUBLE) * CAST(n1t AS DOUBLE)
                       / CAST(n0t + n1t AS DOUBLE) AS e_term,
                   CAST(e0 + e1 AS DOUBLE)
                       * (CAST(n1t AS DOUBLE) / CAST(n0t + n1t AS DOUBLE))
                       * (CAST(n0t AS DOUBLE) / CAST(n0t + n1t AS DOUBLE))
                       * ((CAST(n0t + n1t AS DOUBLE) - CAST(e0 + e1 AS DOUBLE))
                          / (CAST(n0t + n1t AS DOUBLE) - 1.0)) AS v_term
            FROM at_risk
            WHERE e0 + e1 > 0 AND n0t + n1t > 1
        ),
        folded AS (
            SELECT n0_tot, n1_tot,
                   CAST(sum(e1) AS BIGINT) AS o1,
                   list_reduce(list_prepend(0.0, list(e_term ORDER BY t_s)),
                               (a, x) -> a + x) AS e1_sum,
                   list_reduce(list_prepend(0.0, list(v_term ORDER BY t_s)),
                               (a, x) -> a + x) AS v_sum
            FROM terms GROUP BY n0_tot, n1_tot
        )
        SELECT n0_tot AS n0, n1_tot AS n1, o1,
               round(e1_sum, 6) AS e1,
               round(v_sum, 6) AS var_sum,
               round((CAST(o1 AS DOUBLE) - e1_sum) / sqrt(v_sum), 6) AS z
        FROM folded
    """,
    "q_tukey_hsd": """
        WITH groups AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_g,
                   sum(CAST(value AS DECIMAL(18,6))) AS sx,
                   sum(CAST(value AS DECIMAL(18,6))
                       * CAST(value AS DECIMAL(18,6))) AS sxx
            FROM events GROUP BY event_type
        ),
        mse AS (
            SELECT CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(n_g) AS BIGINT) AS n_total,
                   CAST(sum(n_g) - count(*) AS BIGINT) AS df_w,
                   CAST(sum(CAST(round(CAST(sxx AS DOUBLE)
                                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                                         / CAST(n_g AS DOUBLE), 6)
                                 AS DECIMAL(18,6))) AS DOUBLE)
                   / CAST(sum(n_g) - count(*) AS DOUBLE) AS mse
            FROM groups
        )
        SELECT a.event_type AS ty_a, b.event_type AS ty_b,
               a.n_g AS n_a, b.n_g AS n_b, m.df_w,
               round(CAST(a.sx AS DOUBLE) / CAST(a.n_g AS DOUBLE)
                     - CAST(b.sx AS DOUBLE) / CAST(b.n_g AS DOUBLE), 6) AS mean_diff,
               round(abs(CAST(a.sx AS DOUBLE) / CAST(a.n_g AS DOUBLE)
                         - CAST(b.sx AS DOUBLE) / CAST(b.n_g AS DOUBLE))
                     / sqrt(m.mse / 2.0 * (1.0 / CAST(a.n_g AS DOUBLE)
                                           + 1.0 / CAST(b.n_g AS DOUBLE))), 6)
                   AS q_stat
        FROM groups a JOIN groups b ON a.event_type < b.event_type
        CROSS JOIN mse m
        ORDER BY ty_a, ty_b
    """,
    "q_g_test": f"""
        WITH cells AS (
            SELECT event_type,
                   CAST(date_part('hour', ts) // {HOUR_BAND_WIDTH} AS INTEGER) AS band,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        rt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS rt FROM cells GROUP BY 1),
        ct AS (SELECT band, CAST(sum(n) AS BIGINT) AS ct FROM cells GROUP BY 1),
        nn AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
        terms AS (
            SELECT c.event_type, c.band,
                   CAST(c.n AS DOUBLE)
                   * ln(CAST(c.n AS DOUBLE)
                        / (CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE)
                           / CAST((SELECT nn FROM nn) AS DOUBLE))) AS term
            FROM cells c JOIN rt r USING (event_type) JOIN ct t USING (band)
        )
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST((count(DISTINCT event_type) - 1)
                    * (count(DISTINCT band) - 1) AS BIGINT) AS dof,
               round(2.0 * list_reduce(
                   list_prepend(0.0, list(term ORDER BY event_type, band)),
                   (a, x) -> a + x), 6) AS g_stat
        FROM terms
    """,
    "q_cohens_d": f"""
        WITH stats AS (
            SELECT
                CAST(sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_a,
                CAST(sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_b,
                sum(CASE WHEN event_type = '{KS_TYPE_A}'
                         THEN CAST(value AS DECIMAL(18,6)) END) AS sx_a,
                sum(CASE WHEN event_type = '{KS_TYPE_B}'
                         THEN CAST(value AS DECIMAL(18,6)) END) AS sx_b,
                sum(CASE WHEN event_type = '{KS_TYPE_A}'
                         THEN CAST(value AS DECIMAL(18,6))
                              * CAST(value AS DECIMAL(18,6)) END) AS sxx_a,
                sum(CASE WHEN event_type = '{KS_TYPE_B}'
                         THEN CAST(value AS DECIMAL(18,6))
                              * CAST(value AS DECIMAL(18,6)) END) AS sxx_b
            FROM events
            WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
        )
        SELECT n_a, n_b,
               round(CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                     - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS mean_diff,
               round((CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                      - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                     / nullif(sqrt(((CAST(sxx_a AS DOUBLE)
                              - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE)
                                / CAST(n_a AS DOUBLE))
                             + (CAST(sxx_b AS DOUBLE)
                                - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE)
                                  / CAST(n_b AS DOUBLE)))
                            / nullif(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                                     - 2.0, 0.0)), 0.0), 6)
                   AS cohens_d,
               round((CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                      - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                     / nullif(sqrt(((CAST(sxx_a AS DOUBLE)
                              - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE)
                                / CAST(n_a AS DOUBLE))
                             + (CAST(sxx_b AS DOUBLE)
                                - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE)
                                  / CAST(n_b AS DOUBLE)))
                            / nullif(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                                     - 2.0, 0.0)), 0.0)
                     * (1.0 - 3.0 / (4.0 * (CAST(n_a AS DOUBLE)
                                            + CAST(n_b AS DOUBLE)) - 9.0)), 6)
                   AS hedges_g
        FROM stats
    """,
    "q_cliffs_delta": f"""
        WITH per_value AS (
            SELECT value,
                   CAST(sum(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END)
                        AS BIGINT) AS na,
                   CAST(sum(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END)
                        AS BIGINT) AS nb
            FROM events
            WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
            GROUP BY value
        ),
        cum AS (
            SELECT na, nb,
                   sum(nb) OVER (ORDER BY value
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cb
            FROM per_value
        ),
        stats AS (
            SELECT CAST(sum(na) AS BIGINT) AS n_a,
                   CAST(sum(nb) AS BIGINT) AS n_b,
                   CAST(sum(na * (2 * (cb - nb) + nb)) AS BIGINT) AS u2
            FROM cum
        )
        SELECT n_a, n_b,
               round(CAST(CAST(u2 AS DECIMAL(38,0))
                          - CAST(n_a AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0))
                          AS DOUBLE)
                     / nullif(CAST(CAST(n_a AS DECIMAL(38,0))
                                   * CAST(n_b AS DECIMAL(38,0)) AS DOUBLE),
                              0.0), 6) AS delta,
               CASE
                   WHEN n_a * n_b = 0 THEN NULL
                   WHEN abs(CAST(CAST(u2 AS DECIMAL(38,0))
                                 - CAST(n_a AS DECIMAL(38,0))
                                   * CAST(n_b AS DECIMAL(38,0)) AS DOUBLE)
                            / nullif(CAST(CAST(n_a AS DECIMAL(38,0))
                                          * CAST(n_b AS DECIMAL(38,0))
                                          AS DOUBLE), 0.0))
                        < {CLIFF_SMALL} THEN 'negligible'
                   WHEN abs(CAST(CAST(u2 AS DECIMAL(38,0))
                                 - CAST(n_a AS DECIMAL(38,0))
                                   * CAST(n_b AS DECIMAL(38,0)) AS DOUBLE)
                            / nullif(CAST(CAST(n_a AS DECIMAL(38,0))
                                          * CAST(n_b AS DECIMAL(38,0))
                                          AS DOUBLE), 0.0))
                        < {CLIFF_MEDIUM} THEN 'small'
                   WHEN abs(CAST(CAST(u2 AS DECIMAL(38,0))
                                 - CAST(n_a AS DECIMAL(38,0))
                                   * CAST(n_b AS DECIMAL(38,0)) AS DOUBLE)
                            / nullif(CAST(CAST(n_a AS DECIMAL(38,0))
                                          * CAST(n_b AS DECIMAL(38,0))
                                          AS DOUBLE), 0.0))
                        < {CLIFF_LARGE} THEN 'medium'
                   ELSE 'large'
               END AS magnitude
        FROM stats
    """,
}


# Shared double literal (the q_sprt discipline) — z for the 95% CI.
Z95 = 1.959963984540054


def q_km_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve with Greenwood 95% confidence bands
    over the click→purchase risk table — the uncertainty completion of
    the survival trio (q_survival_curve's point estimate, q_nelson_aalen's
    hazard, this query's bands): S(t) = Π_{s≤t}(1 − d_s/n_s),
    Var[S(t)] = S(t)²·Σ_{s≤t} d_s/(n_s(n_s−d_s)) (Greenwood), plain-scale
    bands clamped to [0, 1].

    Exactness: per-time factors (n−d)/n and Greenwood terms
    d/(n·(n−d)) are single correctly-rounded doubles from exact BIGINTs;
    the per-row cumulative product/sum are PREFIX FOLDS over the sorted
    factor arrays (F.aggregate over F.slice in Spark, list_reduce over
    list_slice in DuckDB — both strictly left-to-right), NOT window
    aggregates, because windowed float sums may tree-combine in DuckDB;
    the fold sequence is engine-identical, so S, se and the bands are
    bit-identical before the round. At d = n (everyone converts at the
    last time) S hits exactly 0 and the Greenwood term is defined as 0
    (se = S·√g = 0 regardless).

    Scale shape: kaplan_meier's envelope collapsed to ONE O(T)-element
    array row (T = distinct durations — value-compressed; quantize t_s
    upstream at extreme cardinality), then a posexplode with O(T²)
    prefix folds on that bounded frame."""
    km = _km_risk_table(spark, sf_dir)
    nd, dd = F.col("n_risk").cast("double"), F.col("n_events").cast("double")
    factor = (nd - dd) / nd
    gterm = F.when(
        F.col("n_events") < F.col("n_risk"),
        dd / (nd * (nd - dd)),
    ).otherwise(F.lit(0.0))
    rows = km.select(
        "t_s", "n_risk", "n_events", factor.alias("factor"), gterm.alias("gterm")
    )
    packed = rows.agg(
        F.array_sort(
            F.collect_list(F.struct("t_s", "n_risk", "n_events", "factor", "gterm"))
        ).alias("arr")
    )
    expl = packed.select(
        F.posexplode("arr").alias("i0", "r"), F.col("arr").alias("arr")
    ).select(
        (F.col("i0") + 1).alias("k"),
        F.col("r.t_s").alias("t_s"),
        F.col("r.n_risk").alias("n_risk"),
        F.col("r.n_events").alias("n_events"),
        F.col("arr").alias("arr"),
    )
    surv = F.aggregate(
        F.transform(F.slice("arr", 1, F.col("k")), lambda s: s["factor"]),
        F.lit(1.0),
        lambda a, x: a * x,
    )
    gsum = F.aggregate(
        F.transform(F.slice("arr", 1, F.col("k")), lambda s: s["gterm"]),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    se = surv * F.sqrt(gsum)
    from machinelearningalgomapreduce_spark.operators.relational import tiny_sorted

    out = expl.select(
        "t_s",
        "n_risk",
        "n_events",
        F.round(surv, 6).alias("survival"),
        F.round(se, 6).alias("se"),
        F.round(F.greatest(F.lit(0.0), surv - F.lit(Z95) * se), 6).alias("ci_lo"),
        F.round(F.least(F.lit(1.0), surv + F.lit(Z95) * se), 6).alias("ci_hi"),
    )
    # the exploded frame is already one partition (it came from a 1-row
    # array); tiny_sorted keeps it that way instead of a range exchange
    return tiny_sorted(out, "t_s")


QUERIES["q_km_ci"] = q_km_ci

ORACLES["q_km_ci"] = f"""
    WITH {_KM_RISK_CTES},
    per_t AS (
        SELECT t_s,
               CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
        FROM per_user GROUP BY t_s
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM per_user),
    risk AS (
        SELECT t_s, n_events,
               CAST((SELECT n_total FROM tot)
                    - coalesce(sum(n_events + n_censored)
                               OVER (ORDER BY t_s
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                               0) AS BIGINT) AS n_risk
        FROM per_t
    ),
    packed AS (
        SELECT list(t_s ORDER BY t_s) AS ts,
               list(CAST(n_risk AS BIGINT) ORDER BY t_s) AS ns,
               list(n_events ORDER BY t_s) AS ds,
               list((CAST(n_risk AS DOUBLE) - CAST(n_events AS DOUBLE))
                    / CAST(n_risk AS DOUBLE) ORDER BY t_s) AS factors,
               list(CASE WHEN n_events < n_risk
                         THEN CAST(n_events AS DOUBLE)
                              / (CAST(n_risk AS DOUBLE)
                                 * (CAST(n_risk AS DOUBLE) - CAST(n_events AS DOUBLE)))
                         ELSE 0.0 END ORDER BY t_s) AS gterms
        FROM risk
    ),
    expl AS (
        SELECT ts[k] AS t_s, ns[k] AS n_risk, ds[k] AS n_events,
               list_reduce(list_prepend(1.0, factors[1:k]), (a, x) -> a * x) AS surv,
               list_reduce(list_prepend(0.0, gterms[1:k]), (a, x) -> a + x) AS gsum
        FROM packed, unnest(range(1, len(ts) + 1)) AS u(k)
    )
    SELECT t_s, n_risk, n_events,
           round(surv, 6) AS survival,
           round(surv * sqrt(gsum), 6) AS se,
           round(greatest(0.0, surv - {Z95} * surv * sqrt(gsum)), 6) AS ci_lo,
           round(least(1.0, surv + {Z95} * surv * sqrt(gsum)), 6) AS ci_hi
    FROM expl
    ORDER BY t_s
"""


def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time to the last observed duration —
    the single-number KM summary (area under the survival step curve,
    E[min(T, τ)]) that stays defined under censoring where the plain
    mean does not: RMST(τ) = Σ_k S(t_{k−1})·(t_k − t_{k−1}) with
    t_0 = 0, S(t_0) = 1, τ = max duration in the risk table.

    Exactness: ONE strictly-left-to-right fold over the sorted
    (t, factor) array carrying [prev_t, S, acc] — acc accumulates
    S_{k−1}·Δt BEFORE S multiplies in the step's KM factor, the same
    op sequence in both engines (Spark F.aggregate / DuckDB
    list_reduce over a 3-element DOUBLE-list accumulator — a struct
    accumulator would hit DuckDB's same-literal field-rebinding
    hazard). Durations are exact BIGINTs cast once to double.

    Scale shape: kaplan_meier's envelope collapsed to one O(T) array
    row + a single fold (T = distinct durations, value-compressed;
    quantize t_s upstream at extreme cardinality)."""
    km = _km_risk_table(spark, sf_dir)
    nd, dd = F.col("n_risk").cast("double"), F.col("n_events").cast("double")
    rows = km.select(
        F.col("t_s").cast("double").alias("t"),
        ((nd - dd) / nd).alias("factor"),
    )
    packed = rows.agg(
        F.array_sort(F.collect_list(F.struct("t", "factor"))).alias("arr"),
        F.count("*").alias("n_times"),
        F.max("t").alias("tau"),
    )
    state = F.aggregate(
        F.col("arr"),
        F.array(F.lit(0.0), F.lit(1.0), F.lit(0.0)),  # [prev_t, S, acc]
        lambda acc, r: F.array(
            r["t"],
            acc[1] * r["factor"],
            acc[2] + acc[1] * (r["t"] - acc[0]),
        ),
    )
    return packed.select(
        F.col("n_times").cast("bigint").alias("n_times"),
        F.col("tau").cast("bigint").alias("tau_s"),
        F.round(state[2], 6).alias("rmst_s"),
        F.round(state[1], 6).alias("s_tau"),
    )


QUERIES["q_rmst"] = q_rmst

ORACLES["q_rmst"] = f"""
    WITH {_KM_RISK_CTES},
    per_t AS (
        SELECT t_s,
               CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
        FROM per_user GROUP BY t_s
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM per_user),
    risk AS (
        SELECT t_s, n_events,
               CAST((SELECT n_total FROM tot)
                    - coalesce(sum(n_events + n_censored)
                               OVER (ORDER BY t_s
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                               0) AS BIGINT) AS n_risk
        FROM per_t
    ),
    packed AS (
        SELECT list([CAST(t_s AS DOUBLE),
                     (CAST(n_risk AS DOUBLE) - CAST(n_events AS DOUBLE))
                     / CAST(n_risk AS DOUBLE)] ORDER BY t_s) AS arr,
               CAST(count(*) AS BIGINT) AS n_times,
               CAST(max(t_s) AS BIGINT) AS tau_s
        FROM risk
    ),
    folded AS (
        SELECT n_times, tau_s,
               list_reduce(list_prepend([0.0, 1.0, 0.0], arr),
                           (acc, r) -> [r[1],
                                        acc[2] * r[2],
                                        acc[3] + acc[2] * (r[1] - acc[1])]) AS st
        FROM packed
    )
    SELECT n_times, tau_s,
           round(st[3], 6) AS rmst_s,
           round(st[2], 6) AS s_tau
    FROM folded
"""
