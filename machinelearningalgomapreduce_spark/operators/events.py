"""Streaming-flavored operators over the events table (SURVEY.md §2E).

Batch-first: each operator is a plain DataFrame query (SQL-expressible, hence
oracle-checkable); `streaming/windows.py` wraps the same expressions as
Structured Streaming for the real-time path.

Scale: all windowed aggregations group on (bucket, type) — high cardinality,
well distributed; sessionization shuffles once on user_id then does a single
ordered pass per user (no iteration, no driver collect). Watermark semantics
are expressed as a max(ts)-relative filter, the batch analog of
`withWatermark` late-data dropping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from machinelearningalgomapreduce_spark.functions import money
from machinelearningalgomapreduce_spark.functions.joins import pre_partition_small_tier
from machinelearningalgomapreduce_spark.functions.storage import materialize_once
from machinelearningalgomapreduce_spark.sources.catalog import load_tables

SESSION_GAP_MIN = 30
ROLLING_MEDIAN_N = 10
PATH_LEN = 4  # session-opening path length for journey mining
PATHS_TOP = 20


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour tumbling window: counts, distinct users, value sum.

    Two-level aggregation instead of countDistinct: the distinct-agg
    rewrite Expands every row ×2 before the first shuffle; pre-aggregating
    per (window, type, user) shuffles narrower rows and measures ~17%
    faster — identical results (n_users = count of per-user groups,
    n_events/sum_value = exact partial sums). sum_value is EXACT
    fixed-point (r15, the half-boundary class): BIGINT cents per row,
    integer partial sums at both levels, /100 at the end — order-free, no
    round() of a double sum in the hashed output (functions/money.py;
    cents sum ≤ ~6e13 at the 10x tier, BIGINT holds through 10^5x).
    Small tiers pre-partition on the outer
    (window, type) keys so both levels share ONE exchange
    (functions/joins.py::pre_partition_small_tier)."""
    t = load_tables(spark, sf_dir)
    ev = t.events.withColumn("window_start", F.date_trunc("hour", "ts"))
    ev = pre_partition_small_tier(ev, sf_dir, ["window_start", "event_type"], "events")
    per_user = (
        ev.groupBy("window_start", "event_type", "user_id")
        .agg(F.count("*").alias("n"), F.sum(money.units("value")).alias("v_c"))
    )
    return per_user.groupBy("window_start", "event_type").agg(
        F.sum("n").alias("n_events"),
        F.count("*").alias("n_users"),
        money.money_sum_2dp(F.col("v_c")).alias("sum_value"),
    )


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 15 min slide): each event belongs to 4
    windows → explode the 4 aligned starts, then one hash aggregate.

    Same expansion Structured Streaming's `window(ts, '1 hour', '15 minutes')`
    performs internally; written out explicitly so the shape is ANSI-SQL.
    """
    t = load_tables(spark, sf_dir)
    # window starts containing ts: floor(ts to 15min) - k*15min for k in 0..3
    base = F.date_trunc("minute", F.col("ts")) - F.make_interval(mins=(F.minute("ts") % 15))
    starts = F.transform(F.sequence(F.lit(0), F.lit(3)), lambda k: base - F.make_interval(mins=k * 15))
    return (
        t.events.select(F.explode(starts).alias("window_start"), "event_type", "value")
        .groupBy("window_start", "event_type")
        .agg(F.count("*").alias("n_events"),
             money.money_sum_2dp(money.units("value")).alias("sum_value"))
    )


def sessionize(events: DataFrame, gap_minutes: int = SESSION_GAP_MIN) -> DataFrame:
    """Assign session ids: a session breaks after `gap_minutes` of inactivity.

    One shuffle (user_id), one ordered pass: lag → gap flag → running sum.
    The reference would need a secondary-sort MapReduce job for this
    (SURVEY.md §2A); here it is two window expressions.
    """
    # exact integer microseconds: Spark's cast-to-long floors while DuckDB's
    # epoch() rounds — unix_micros/epoch_us agree bit-for-bit (sub-second ts!)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap_flag = F.when(
        us - F.lag(us).over(w) > gap_minutes * 60 * 1_000_000,
        1,
    ).otherwise(0)
    return (
        events.withColumn("is_new_session", gap_flag)
        .withColumn(
            "session_seq",
            F.sum("is_new_session").over(w.rowsBetween(W.unboundedPreceding, 0)) + 1,
        )
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return sessionize(t.events).select(
        "event_id", "user_id", "ts", "is_new_session", "session_seq"
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session rollup: length, event count, value sum per (user, session)."""
    t = load_tables(spark, sf_dir)
    return (
        sessionize(t.events)
        .groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias("duration_us"),
            money.money_sum_2dp(money.units("value")).alias("sum_value"),
        )
    )


def q_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + dedup semantics in batch: drop events older than
    (max ts − 7 days), collapse duplicate deliveries (events ∪ events) by
    keying on event_id. Batch analog of withWatermark + dropDuplicates."""
    t = load_tables(spark, sf_dir)
    doubled = t.events.unionByName(t.events)  # simulate at-least-once delivery
    watermark = doubled.agg(
        (F.max(F.unix_micros("ts")) - 7 * 24 * 3600 * 1_000_000).alias("wm")
    )
    w = W.partitionBy("event_id").orderBy("ts")
    return (
        doubled.join(F.broadcast(watermark))
        .filter(F.unix_micros("ts") >= F.col("wm"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving 1-hour statistics per user: RANGE frame over event time (all
    events in (t − 1 h, t]) — the time-based sliding window the ROWS-frame
    analytics can't express. Frame bound is exact integer microseconds, so
    both engines include identical peer sets."""
    t = load_tables(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    w = (
        W.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return t.events.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.avg("value").over(w), 6).alias("avg_1h"),
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: per user, each
    later step must happen strictly AFTER the user's first occurrence of
    the previous step. One-row summary with conversion rates.

    Shape: three per-user min aggregates chained by (user_id) joins —
    each stage shuffles only (user_id, first_ts) pairs; exact integer
    microseconds make the strict-after comparisons engine-identical."""
    t = load_tables(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))

    def first_after(event_type: str, prev: DataFrame | None, alias: str) -> DataFrame:
        step = t.events.filter(F.col("event_type") == event_type).select(
            "user_id", us.alias("us")
        )
        if prev is not None:
            prev_col = prev.columns[1]
            step = step.join(prev, "user_id").filter(F.col("us") > F.col(prev_col))
        return step.groupBy("user_id").agg(F.min("us").alias(alias))

    viewed = first_after("view", None, "v_ts")
    clicked = first_after("click", viewed, "c_ts")
    purchased = first_after("purchase", clicked, "p_ts")
    n_v = viewed.agg(F.count("*").alias("n_viewed"))
    n_c = clicked.agg(F.count("*").alias("n_clicked"))
    n_p = purchased.agg(F.count("*").alias("n_purchased"))
    return (
        n_v.crossJoin(F.broadcast(n_c))
        .crossJoin(F.broadcast(n_p))
        .select(
            "n_viewed",
            "n_clicked",
            "n_purchased",
            # try_divide: NULL (not an ANSI error) on an empty funnel stage.
            F.round(F.try_divide("n_clicked", F.col("n_viewed").cast("double")), 6).alias(
                "view_to_click"
            ),
            F.round(F.try_divide("n_purchased", F.col("n_clicked").cast("double")), 6).alias(
                "click_to_purchase"
            ),
        )
    )


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week; for each
    (cohort_week, k) the count of cohort users active k weeks later.

    first-seen and activity weeks are date_trunc('week') (Monday start in
    both engines); k is exact integer arithmetic on epoch microseconds."""
    t = load_tables(spark, sf_dir)
    wk = F.date_trunc("week", F.col("ts"))
    first_seen = t.events.groupBy("user_id").agg(
        F.min(F.unix_micros(wk)).alias("cohort_us")
    )
    activity = t.events.select(
        "user_id", F.unix_micros(wk).alias("act_us")
    ).distinct()
    week_us = 7 * 24 * 3600 * 1_000_000
    return (
        activity.join(first_seen, "user_id")
        .select(
            F.timestamp_micros(F.col("cohort_us")).alias("cohort_week"),
            ((F.col("act_us") - F.col("cohort_us")) / week_us).cast("int").alias("week_k"),
            "user_id",
        )
        .groupBy("cohort_week", "week_k")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


ZSCORE_THRESHOLD = 2.5


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection: events whose value deviates ≥ 2.5σ from
    their event_type's mean — the monitoring pass a pipeline runs over its
    metric stream. Moments come from explicit sufficient statistics
    (Σx, Σx², n — the map/reduce partials), and mean/σ are rounded to 6
    in both engines BEFORE the z computation so the threshold decision
    never depends on summation order (SURVEY §5.2.3).

    Scale shape: one O(types)-row aggregate broadcast back onto the scan —
    the fact table is never shuffled; flagging is codegen'd map work."""
    t = load_tables(spark, sf_dir)
    stats = t.events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sx"),
        F.sum(F.col("value") * F.col("value")).alias("sxx"),
    )
    model = stats.select(
        "event_type",
        F.round(F.col("sx") / F.col("n"), 6).alias("mu"),
        F.round(
            F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
            ),
            6,
        ).alias("sd"),
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sd"), 6)
    return (
        t.events.join(F.broadcast(model), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= ZSCORE_THRESHOLD)
        .select("event_id", "event_type", "value", "z")
    )


def q_markov_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    count (prev_type → next_type) transitions and their conditional
    probabilities — the session-behavior model behind next-event
    prediction and funnel simulation.

    Scale shape: one shuffle on user_id for the lag window, then a
    types²-sized aggregate; row-count totals per prev_type are a broadcast
    join. Window ties break on event_id (ts is sub-second unique-ish but
    the tie-break makes both engines' lag deterministic)."""
    t = load_tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        t.events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_trans"))
    )
    totals = trans.groupBy("prev_type").agg(F.sum("n_trans").alias("n_from"))
    return trans.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "next_type",
        "n_trans",
        F.round(F.col("n_trans") / F.col("n_from").cast("double"), 6).alias("prob"),
    )


def markov_steady_state(
    spark: SparkSession, sf_dir: str, rounds: int = 30, tol: float = 1e-10
) -> DataFrame:
    """Stationary distribution of q_markov_chain's transition matrix via
    power iteration π' = πP from uniform (library API, pytest-checked):
    per round one join keyed on the current state + one next-state
    aggregate — O(types²) work on the already-aggregated matrix, the raw
    events are touched once. Stops when the L1 step falls under `tol`
    (the O(1) driver-side convergence read the MapReduce loop would put
    in a counter). Returns (event_type, pi)."""
    p = q_markov_chain(spark, sf_dir).select(
        "prev_type", "next_type", F.col("n_trans").cast("double").alias("n"),
    )
    # Exact conditional probabilities from counts (not the rounded display
    # column) so the fixpoint is a true stochastic matrix.
    totals = p.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    p = materialize_once(
        p.join(F.broadcast(totals), "prev_type").select(
            "prev_type", "next_type", (F.col("n") / F.col("n_from")).alias("prob")
        )
    )
    states = p.select(F.col("prev_type").alias("event_type")).unionAll(
        p.select(F.col("next_type"))
    ).distinct()
    k = states.count()
    pi = materialize_once(states.withColumn("pi", F.lit(1.0 / k)))
    for _ in range(rounds):
        raw = (
            p.join(pi.withColumnRenamed("event_type", "prev_type"), "prev_type")
            .groupBy(F.col("next_type").alias("event_type"))
            .agg(F.sum(F.col("prob") * F.col("pi")).alias("pi_raw"))
        )
        # Renormalize by the L1 mass every round (ADVICE r5): a state seen
        # only as a sequence-FINAL event has no outgoing row in P, so its
        # mass leaks at each multiply and π need not sum to 1 on general
        # data — the stationary-distribution contract requires Σπ = 1.
        mass = raw.agg(F.sum("pi_raw").alias("m"))
        nxt = materialize_once(
            raw.crossJoin(F.broadcast(mass))
            .select("event_type", (F.col("pi_raw") / F.col("m")).alias("pi"))
        )
        step = (
            pi.withColumnRenamed("pi", "old")
            .join(nxt, "event_type", "full")
            .agg(
                F.sum(
                    F.abs(F.coalesce(F.col("pi"), F.lit(0.0)) - F.coalesce(F.col("old"), F.lit(0.0)))
                )
            )
            .first()[0]
        )
        pi = nxt
        if step is not None and step < tol:
            break
    return pi


EMA_ALPHA = 0.2


def q_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of value per user —
    smoothing with a true recurrence (ema ← α·x + (1−α)·ema), which no
    window frame expresses. The per-user event list is collected in
    (ts, event_id) order and folded sequentially; seeding with the FIRST
    element and folding left matches DuckDB's list_reduce semantics
    step for step, so the float sequence is bit-identical (no closed-form
    pow() rewrite, whose cancellation would drift between engines).

    Scale shape: one shuffle on user_id; per-user state is the bounded
    event list (collect_list + in-memory fold — fine while a user's
    history fits an executor; the streaming twin for unbounded keys is
    applyInPandasWithState). Output: per-user final EMA + simple mean."""
    t = load_tables(spark, sf_dir)
    ordered = F.array_sort(
        F.collect_list(F.struct(F.unix_micros("ts").alias("us"), "event_id", "value"))
    )
    vals = F.transform(ordered, lambda s: s["value"])
    ema = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: EMA_ALPHA * x + (1 - EMA_ALPHA) * acc,
    )
    return (
        t.events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 6).alias("mean_value"),
            F.round(ema, 6).alias("ema_value"),
        )
    )


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the hourly event-count series — the
    seasonality/trend diagnostic a monitoring pipeline computes over its
    own metrics. Pairs (x_t, x_{t−1}) come from a lag window over the
    hour-ordered counts; r is Pearson over the pairs from explicit
    sufficient statistics, which are INTEGER-exact (counts), so both
    engines compute identical doubles before the final rounded ratio.

    Scale shape: one counting aggregate (hours × 1 rows), one ordered
    window over the tiny series, one 1-row rollup."""
    t = load_tables(spark, sf_dir)
    hourly = t.events.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("x")
    )
    w = W.orderBy("hour")
    pairs = hourly.withColumn("x_prev", F.lag("x").over(w)).filter(
        F.col("x_prev").isNotNull()
    )
    x, y = F.col("x"), F.col("x_prev")
    stats = pairs.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "syy"))
    # The variance product would overflow BIGINT (these stats are integer
    # counts, unlike q_corr's doubles) — go double BEFORE the multiply, on
    # the same factor the oracle casts.
    r = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx).cast("double") * (n * syy - sy * sy)
    )
    return stats.select("n", F.round(r, 6).alias("autocorr_lag1"))


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey mining: the top-20 session-opening paths — each
    session's first PATH_LEN event types joined 'a>b>c', counted across
    all sessions — the "how do visits actually start" rollup product
    analytics runs after sessionization.

    Determinism: order within a session is the unique (ts, event_id);
    the per-session path is rebuilt from a sorted (rk, type) struct
    array, and top-20 breaks ties on the path string.

    Scale shape: inherits sessionize's one user_id shuffle; the path
    aggregate is keyed by (user, session) — high cardinality, well
    distributed; the count aggregate's domain is bounded by
    types^PATH_LEN; top-k is TakeOrderedAndProject."""
    t = load_tables(spark, sf_dir)
    s = sessionize(t.events)
    w = W.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    firstn = s.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= PATH_LEN)
    paths = firstn.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rk", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(PATHS_TOP)
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's
    most recent PRIOR non-purchase event type ('none' when the purchase
    opens the history) — the classic conversion-credit rollup every
    events pipeline ships.

    Exactness: the prior-touch lookup is `last(..., ignorenulls)` over a
    ROWS frame ending 1 before current, on the unique (ts, event_id)
    per-user order — deterministic; revenue sums are DECIMAL-exact.

    Scale shape: ONE shuffle on user_id for the ordered pass, then an
    O(types) aggregate."""
    t = load_tables(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prior = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")), ignorenulls=True
    ).over(w)
    touched = t.events.withColumn("touch", prior).filter(
        F.col("event_type") == "purchase"
    )
    return touched.groupBy(
        F.coalesce(F.col("touch"), F.lit("none")).alias("touch")
    ).agg(
        F.count("*").alias("n_purchases"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6).alias(
            "revenue"
        ),
    )


def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type: volume and mean
    value per (type, hour-of-day) slot, each type's slot share, and a
    peak-hour flag — the diurnal fingerprint checked before comparing
    day-over-day metrics or setting alert baselines.

    Exactness: counts are integers; mean value divides a DECIMAL-exact
    value sum (≤6-decimal fixture metric) once, rounded 6; the share
    divides two exact integers; the peak decision is argmax on exact
    counts with a min-hour tie-break.

    Scale shape: ONE fact aggregate onto the bounded (types × 24) grid
    with map-side partials; everything after is O(types) broadcast
    arithmetic."""
    t = load_tables(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,6)")
    slots = t.events.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hod")
    ).agg(F.count("*").alias("n"), F.sum(dec).alias("sv"))
    # Scalar argmax key (DuckDB max_by takes no struct ordering): count
    # dominates at gap 100 > 23, ties resolve to the EARLIEST hour.
    peak_key = F.col("n") * 100 + (23 - F.col("hod"))
    tot = slots.groupBy("event_type").agg(
        F.sum("n").alias("n_type"), F.max_by("hod", peak_key).alias("peak_hod")
    )
    return (
        slots.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "hod",
            "n",
            F.round(F.col("sv").cast("double") / F.col("n"), 6).alias("avg_value"),
            F.round(F.col("n") / F.col("n_type").cast("double"), 6).alias("share"),
            (F.col("hod") == F.col("peak_hod")).alias("is_peak"),
        )
    )


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling EXACT median of the last ROLLING_MEDIAN_N event
    values — the robust-baseline smoother (outlier-immune, unlike q_ema)
    that monitoring uses for spike detection over noisy per-entity series.

    Spark has no frame-capable median(); `F.percentile(col, 0.5)` over a
    ROWS frame is the exact equivalent (linear interpolation on even
    counts — the same rule as DuckDB's windowed median). (ts, event_id)
    is a unique per-user total order, so frames are deterministic.

    Scale shape: ONE shuffle on user_id, then a single ordered pass per
    user; per-row work is bounded by the constant frame length."""
    t = load_tables(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLLING_MEDIAN_N - 1), 0)
    )
    return t.events.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_win"),
        F.round(F.percentile("value", F.lit(0.5)).over(w), 6).alias("roll_median"),
    )


def q_event_rate_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-over-hour rate of change per event type: each hour's count
    against the previous OBSERVED hour (lag over the hourly series) with
    the relative change as a ratio of exact integers — the monitoring
    primitive behind spike/drop alerting. Top-20 largest absolute
    changes, fully tie-broken.

    Scale shape: raw events collapse once to the (type × hour)-bounded
    series; the lag window and the top-k run over that bounded frame."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir)
    hourly = t.events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("y"))
    w = W.partitionBy("event_type").orderBy("hour")
    with_prev = hourly.select(
        "event_type", "hour", "y", F.lag("y").over(w).alias("y_prev")
    ).filter(F.col("y_prev").isNotNull())
    chg = (F.col("y") - F.col("y_prev")).cast("double") / F.col("y_prev").cast("double")
    return (
        with_prev.select(
            "event_type", "hour", "y", "y_prev", F.round(chg, 6).alias("pct_change")
        )
        .orderBy(F.abs(F.col("pct_change")).desc(), F.col("event_type"), F.col("hour"))
        .limit(20)
    )


QUERIES = {
    "q_event_rate_change": q_event_rate_change,
    "q_events_tumbling": q_events_tumbling,
    "q_rolling_median": q_rolling_median,
    "q_seasonal_profile": q_seasonal_profile,
    "q_attribution": q_attribution,
    "q_session_paths": q_session_paths,
    "q_late_data": q_late_data,
    "q_anomaly_zscore": q_anomaly_zscore,
    "q_markov_chain": q_markov_chain,
    "q_ema": q_ema,
    "q_autocorr": q_autocorr,
    "q_events_sliding": q_events_sliding,
    "q_sessionize": q_sessionize,
    "q_session_stats": q_session_stats,
    "q_window_range_frame": q_window_range_frame,
    "q_funnel": q_funnel,
    "q_retention": q_retention,
}

ORACLES = {
    "q_event_rate_change": """
        WITH hourly AS (
            SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ),
        wp AS (
            SELECT event_type, hour, y,
                   lag(y) OVER (PARTITION BY event_type ORDER BY hour) AS y_prev
            FROM hourly
        )
        SELECT event_type, hour, y, CAST(y_prev AS BIGINT) AS y_prev,
               round(CAST(y - y_prev AS DOUBLE) / CAST(y_prev AS DOUBLE), 6)
                   AS pct_change
        FROM wp WHERE y_prev IS NOT NULL
        ORDER BY abs(round(CAST(y - y_prev AS DOUBLE) / CAST(y_prev AS DOUBLE), 6)) DESC,
                 event_type, hour
        LIMIT 20
    """,
    "q_session_paths": f"""
        WITH flagged AS (
            SELECT event_id, user_id, ts, event_type,
                   CASE WHEN epoch_us(ts)
                             - lag(epoch_us(ts))
                               OVER (PARTITION BY user_id ORDER BY ts, event_id) > 30 * 60 * 1000000
                        THEN 1 ELSE 0 END AS is_new_session
            FROM events
        ), sess AS (
            SELECT user_id, ts, event_id, event_type,
                   sum(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS session_seq
            FROM flagged
        ), firstn AS (
            SELECT user_id, session_seq, event_type,
                   row_number() OVER (PARTITION BY user_id, session_seq
                                      ORDER BY ts, event_id) AS rk
            FROM sess
            QUALIFY rk <= {PATH_LEN}
        ), paths AS (
            SELECT user_id, session_seq,
                   string_agg(event_type, '>' ORDER BY rk) AS path
            FROM firstn GROUP BY user_id, session_seq
        )
        SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        FROM paths GROUP BY path
        ORDER BY n_sessions DESC, path
        LIMIT {PATHS_TOP}
    """,
    "q_attribution": """
        WITH touched AS (
            SELECT event_type, value,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS touch
            FROM events
        )
        SELECT coalesce(touch, 'none') AS touch,
               CAST(count(*) AS BIGINT) AS n_purchases,
               round(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR)
                          AS DOUBLE), 6) AS revenue
        FROM touched
        WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    "q_seasonal_profile": """
        WITH slots AS (
            SELECT event_type, CAST(date_part('hour', ts) AS INTEGER) AS hod,
                   CAST(count(*) AS BIGINT) AS n,
                   sum(CAST(value AS DECIMAL(18,6))) AS sv
            FROM events GROUP BY 1, 2
        ), tot AS (
            SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type,
                   max_by(hod, n * 100 + (23 - hod)) AS peak_hod
            FROM slots GROUP BY event_type
        )
        SELECT s.event_type, s.hod, s.n,
               round(CAST(CAST(s.sv AS VARCHAR) AS DOUBLE) / s.n, 6) AS avg_value,
               round(s.n / CAST(t.n_type AS DOUBLE), 6) AS share,
               s.hod = t.peak_hod AS is_peak
        FROM slots s JOIN tot t USING (event_type)
    """,
    "q_rolling_median": f"""
        SELECT user_id, event_id,
               CAST(count(*) OVER w AS BIGINT) AS n_win,
               round(median(value) OVER w, 6) AS roll_median
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {ROLLING_MEDIAN_N - 1} PRECEDING AND CURRENT ROW)
    """,
    "q_autocorr": """
        WITH hourly AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, count(*) AS x
            FROM events GROUP BY 1
        ), pairs AS (
            SELECT x, lag(x) OVER (ORDER BY hour) AS x_prev FROM hourly
        ), stats AS (
            SELECT count(*) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(x_prev) AS BIGINT) AS sy,
                   CAST(sum(x * x_prev) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(x_prev * x_prev) AS BIGINT) AS syy
            FROM pairs WHERE x_prev IS NOT NULL
        )
        SELECT n,
               round((n * sxy - sx * sy)
                     / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)
                            * (n * syy - sy * sy)), 6) AS autocorr_lag1
        FROM stats
    """,
    "q_ema": f"""
        WITH lists AS (
            SELECT user_id, count(*) AS n_events,
                   round(avg(value), 6) AS mean_value,
                   list(value ORDER BY ts, event_id) AS vals
            FROM events GROUP BY user_id
        )
        SELECT user_id, n_events, mean_value,
               round(list_reduce(vals,
                     (acc, x) -> {EMA_ALPHA} * x + {1 - EMA_ALPHA} * acc), 6) AS ema_value
        FROM lists
    """,
    "q_anomaly_zscore": f"""
        WITH stats AS (
            SELECT event_type, count(*) AS n,
                   sum(value) AS sx, sum(value * value) AS sxx
            FROM events GROUP BY event_type
        ), model AS (
            SELECT event_type,
                   round(sx / n, 6) AS mu,
                   round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS sd
            FROM stats
        )
        SELECT e.event_id, e.event_type, e.value,
               round((e.value - m.mu) / m.sd, 6) AS z
        FROM events e JOIN model m USING (event_type)
        WHERE abs(round((e.value - m.mu) / m.sd, 6)) >= {ZSCORE_THRESHOLD}
    """,
    "q_markov_chain": """
        WITH trans AS (
            SELECT prev_type, event_type AS next_type, count(*) AS n_trans
            FROM (
                SELECT event_type,
                       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           AS prev_type
                FROM events
            )
            WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        ), totals AS (
            SELECT prev_type, CAST(sum(n_trans) AS BIGINT) AS n_from
            FROM trans GROUP BY prev_type
        )
        SELECT t.prev_type, t.next_type, t.n_trans,
               round(t.n_trans / CAST(tt.n_from AS DOUBLE), 6) AS prob
        FROM trans t JOIN totals tt USING (prev_type)
    """,
    "q_late_data": """
        WITH doubled AS (
            SELECT * FROM events UNION ALL SELECT * FROM events
        ), wm AS (
            SELECT max(epoch_us(ts)) - 7 * 24 * 3600 * CAST(1000000 AS BIGINT) AS wm FROM doubled
        )
        SELECT event_id, ts, user_id, event_type, value
        FROM (
            SELECT d.*, row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn
            FROM doubled d, wm
            WHERE epoch_us(d.ts) >= wm.wm
        )
        WHERE rn = 1
    """,
    "q_events_tumbling": f"""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               {money.sql_money_sum_2dp(money.sql_units("value"))} AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "q_events_sliding": f"""
        WITH expanded AS (
            SELECT CAST(date_trunc('minute', ts)
                        - to_minutes(CAST(minute(ts) % 15 AS BIGINT))
                        - to_minutes(CAST(k * 15 AS BIGINT)) AS TIMESTAMP) AS window_start,
                   event_type, value
            FROM events, (SELECT unnest(range(4)) AS k)
        )
        SELECT window_start, event_type,
               count(*) AS n_events,
               {money.sql_money_sum_2dp(money.sql_units("value"))} AS sum_value
        FROM expanded
        GROUP BY 1, 2
    """,
    "q_sessionize": """
        WITH flagged AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN epoch_us(ts)
                             - lag(epoch_us(ts))
                               OVER (PARTITION BY user_id ORDER BY ts, event_id) > 30 * 60 * 1000000
                        THEN 1 ELSE 0 END AS is_new_session
            FROM events
        )
        SELECT event_id, user_id, ts,
               CAST(is_new_session AS INTEGER) AS is_new_session,
               CAST(sum(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS BIGINT) AS session_seq
        FROM flagged
    """,
    "q_session_stats": f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN epoch_us(ts)
                             - lag(epoch_us(ts))
                               OVER (PARTITION BY user_id ORDER BY ts, event_id) > 30 * 60 * 1000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        ), sessions AS (
            SELECT user_id, ts, value,
                   CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS BIGINT) AS session_seq
            FROM flagged
        )
        SELECT user_id, session_seq,
               count(*) AS n_events,
               max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us,
               {money.sql_money_sum_2dp(money.sql_units("value"))} AS sum_value
        FROM sessions
        GROUP BY user_id, session_seq
    """,
    "q_funnel": """
        WITH viewed AS (
            SELECT user_id, min(epoch_us(ts)) AS v_ts
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ), clicked AS (
            SELECT e.user_id, min(epoch_us(e.ts)) AS c_ts
            FROM events e JOIN viewed v ON v.user_id = e.user_id
            WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.v_ts
            GROUP BY e.user_id
        ), purchased AS (
            SELECT e.user_id, min(epoch_us(e.ts)) AS p_ts
            FROM events e JOIN clicked c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.c_ts
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM viewed) AS n_viewed,
               (SELECT count(*) FROM clicked) AS n_clicked,
               (SELECT count(*) FROM purchased) AS n_purchased,
               round((SELECT count(*) FROM clicked)
                     / CAST(NULLIF((SELECT count(*) FROM viewed), 0) AS DOUBLE), 6)
                   AS view_to_click,
               round((SELECT count(*) FROM purchased)
                     / CAST(NULLIF((SELECT count(*) FROM clicked), 0) AS DOUBLE), 6)
                   AS click_to_purchase
    """,
    "q_retention": """
        WITH first_seen AS (
            SELECT user_id, min(epoch_us(date_trunc('week', ts))) AS cohort_us
            FROM events GROUP BY user_id
        ), activity AS (
            SELECT DISTINCT user_id, epoch_us(date_trunc('week', ts)) AS act_us
            FROM events
        )
        SELECT make_timestamp(f.cohort_us) AS cohort_week,
               CAST((a.act_us - f.cohort_us) / (7 * 24 * 3600 * CAST(1000000 AS BIGINT)) AS INTEGER) AS week_k,
               count(DISTINCT a.user_id) AS n_users
        FROM activity a JOIN first_seen f USING (user_id)
        GROUP BY 1, 2
    """,
    "q_window_range_frame": """
        SELECT event_id, user_id, ts,
               count(*) OVER w AS n_1h,
               round(avg(value) OVER w, 6) AS avg_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
}


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) multi-touch attribution — the fair-share
    twin of q_attribution's last-touch: every purchase splits one unit of
    credit equally over ALL the user's prior non-purchase touches, by
    type. Credits live in exact micro-units: per purchase, each type
    receives half_up(10⁶·n_type, k) where n_type/k are integer window
    counts (purchases with no prior touch credit 'none' in full), so the
    rollup is an exact BIGINT sum.

    Scale shape: ONE shuffle on user_id; per-type prior counts are
    conditional window sums over the bounded type domain — no
    touch×purchase pair join."""
    from machinelearningalgomapreduce_spark.functions.fixedpoint import half_up

    t = load_tables(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch_types = ["click", "view", "signup", "error"]
    counts = [
        F.sum((F.col("event_type") == c).cast("bigint")).over(w).alias(f"n_{c}")
        for c in touch_types
    ]
    purchases = (
        t.events.select("user_id", "ts", "event_id", "event_type", *counts)
        .filter(F.col("event_type") == "purchase")
    )
    k = sum(F.coalesce(F.col(f"n_{c}"), F.lit(0)) for c in touch_types)
    per_purchase = purchases.select(
        *[
            F.when(k > 0, half_up(F.lit(1_000_000) * F.coalesce(F.col(f"n_{c}"), F.lit(0)), k))
            .otherwise(F.lit(0)).alias(f"c_{c}")
            for c in touch_types
        ],
        F.when(k == 0, F.lit(1_000_000)).otherwise(F.lit(0)).alias("c_none"),
    )
    agg = per_purchase.agg(
        F.count("*").alias("n_purchases"),
        *[F.sum(f"c_{c}").alias(c) for c in touch_types],
        F.sum("c_none").alias("none"),
    )
    pairs = []
    for c in touch_types + ["none"]:
        pairs.append(
            F.struct(F.lit(c).alias("touch_type"), F.col(c).alias("credit_micro"))
        )
    return agg.select(
        "n_purchases", F.explode(F.array(*pairs)).alias("s")
    ).select("n_purchases", "s.touch_type", "s.credit_micro")


QUERIES["q_attribution_linear"] = q_attribution_linear

_LIN_TYPES = ["click", "view", "signup", "error"]
_LIN_COUNTS = ", ".join(
    f"sum(CASE WHEN event_type = '{c}' THEN 1 ELSE 0 END) OVER w AS n_{c}"
    for c in _LIN_TYPES
)
_LIN_K = " + ".join(f"coalesce(n_{c}, 0)" for c in _LIN_TYPES)
_LIN_CREDITS = ", ".join(
    f"CASE WHEN ({_LIN_K}) > 0 THEN CAST(floor((2 * (1000000 * coalesce(n_{c}, 0)) + ({_LIN_K})) / (2 * ({_LIN_K}))) AS BIGINT) ELSE 0 END AS c_{c}"
    for c in _LIN_TYPES
)
_LIN_SELECT = " UNION ALL ".join(
    f"SELECT n_purchases, '{c}' AS touch_type, {c} AS credit_micro FROM agg"
    for c in _LIN_TYPES + ["none"]
)

ORACLES["q_attribution_linear"] = f"""
    WITH counted AS (
        SELECT event_type, {_LIN_COUNTS}
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    purchases AS (
        SELECT * FROM counted WHERE event_type = 'purchase'
    ),
    credited AS (
        SELECT {_LIN_CREDITS},
               CASE WHEN ({_LIN_K}) = 0 THEN 1000000 ELSE 0 END AS c_none
        FROM purchases
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_purchases,
               {", ".join(f"CAST(sum(c_{c}) AS BIGINT) AS {c}" for c in _LIN_TYPES)},
               CAST(sum(c_none) AS BIGINT) AS none
        FROM credited
    )
    {_LIN_SELECT}
"""
