"""Round-16 optimization pins.

- session.py ANSI pin (ADVICE r15, medium): the money-sum overflow posture
  ("loud, not silent") is only real if spark.sql.ansi.enabled is actually
  TRUE — get_spark must pin it and ensure_query_conf must re-assert it on
  driver-provided sessions, and a BIGINT sum past 2^63 must ABORT.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.functions import money


def test_session_pins_ansi(spark):
    # The pytest session comes from get_spark — ANSI must be ON, pinned
    # (not merely inherited from the PySpark 4.x default).
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_ensure_query_conf_restores_ansi(spark):
    from machinelearningalgomapreduce_spark.session import ensure_query_conf

    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        ensure_query_conf(spark)
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_bigint_sum_past_2_63_aborts_not_wraps(spark):
    # Three rows of ~2^62: Σ > 2^63. With ANSI on this must raise
    # ARITHMETIC_OVERFLOW; with ANSI off it would wrap silently into a
    # negative "money" value — the failure mode the pin exists to prevent.
    big = (1 << 62) + 11
    df = spark.createDataFrame([(big,), (big,), (big,)], "u long")
    with pytest.raises(Exception, match="(?i)overflow"):
        df.agg(F.sum("u").alias("s")).collect()


def test_fan_out_memoized_width_and_behavior(spark, sf_dir):
    # r16 (ADVICE r15): fan_out's no-op decision is memoized per analyzed
    # plan — same widening behavior as the per-call RDD check, and the
    # cache actually populates (a broken key would silently fall back to
    # the expensive path forever).
    from pyspark.sql import functions as F  # noqa: F811

    from machinelearningalgomapreduce_spark.functions import joins as J
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    t = load_tables(spark, sf_dir)
    J._FAN_OUT_WIDTH_CACHE.clear()
    narrow = t.embeddings.select("vec_id").filter(F.col("vec_id") >= 0)
    widened = J.fan_out(narrow)
    assert len(J._FAN_OUT_WIDTH_CACHE) == 1, "width memo did not populate"
    target = min(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    assert widened.rdd.getNumPartitions() == target
    # Second build of the SAME shape: decision comes from the memo and
    # still widens (frames are fresh objects, key is the analyzed plan).
    again = J.fan_out(t.embeddings.select("vec_id").filter(F.col("vec_id") >= 0))
    assert again.rdd.getNumPartitions() == target
    assert len(J._FAN_OUT_WIDTH_CACHE) == 1
    # Already-wide input stays untouched (identity no-op).
    wide = narrow.repartition(target)
    assert J.fan_out(wide) is wide


def test_fan_out_memo_follows_shuffle_partitions(spark):
    # An exchange-bearing plan takes its width from
    # spark.sql.shuffle.partitions: after the conf changes, the memoized
    # width of the same query shape must not be reused. Coalescing is off
    # so the aggregate's width is exactly the configured one; each call
    # builds a fresh frame, as a repeated query build does (a DataFrame
    # keeps the physical plan it was first planned with).
    from machinelearningalgomapreduce_spark.functions import joins as J
    from tests.conftest import conf_scope

    def no_op():
        df = spark.range(1000).groupBy((F.col("id") % 17).alias("k")).count()
        return J.fan_out(df) is df

    cores = spark.sparkContext.defaultParallelism
    with conf_scope(spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}):
        J._FAN_OUT_WIDTH_CACHE.clear()
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "2"}):
            assert no_op()  # 2 wide, target min(cores, 2)
        with conf_scope(spark, {"spark.sql.shuffle.partitions": str(cores)}):
            decided = no_op()
            J._FAN_OUT_WIDTH_CACHE.clear()
            fresh = no_op()
    # cores wide now, already at the target: the fresh decision is a no-op
    assert fresh is True
    assert decided == fresh


def test_exact_avg_wide_equals_narrow(spark):
    # r16 bounds-audit flips: exact_avg(wide=True) must be bitwise equal
    # to the BIGINT form on grid data incl. negatives and half-boundaries.
    import struct

    def bits(x):
        return None if x is None else struct.pack("<d", x).hex()

    from pyspark.sql import functions as F  # noqa: F811 - local clarity

    df = spark.createDataFrame(
        [(37,), (64,), (12345,), (-9999,), (0,), ((1 << 54) + 1,)], "u long"
    )
    for per_unit, dp in ((100, 6), (1, 6), (100, 2)):
        got = df.agg(money.exact_avg(F.col("u"), per_unit, dp, wide=True).alias("x")).collect()[0].x
        want = df.agg(money.exact_avg(F.col("u"), per_unit, dp).alias("x")).collect()[0].x
        assert bits(got) == bits(want), f"per_unit={per_unit} dp={dp}"


def test_exact_ratio_wide_equals_narrow(spark):
    import struct

    def bits(x):
        return None if x is None else struct.pack("<d", x).hex()

    df = spark.createDataFrame(
        [(37, 11), (64, -3), (12345, 99), (-9999, 7), (0, 1), ((1 << 54) + 1, 5)],
        "n long, d long",
    )
    for scale in (1.0, 100.0):
        got = df.agg(
            money.exact_ratio(F.col("n"), F.col("d"), dp=6, scale=scale, wide=True).alias("x")
        ).collect()[0].x
        want = df.agg(
            money.exact_ratio(F.col("n"), F.col("d"), dp=6, scale=scale).alias("x")
        ).collect()[0].x
        assert bits(got) == bits(want), f"scale={scale}"


def test_wide_split_sum_hi_leg_overflow_aborts(spark):
    # The wide split-sum's hi leg is Σ(u >> 20): per-row values up to
    # 2^42 for u ≈ 2^62, so ~2^21 such rows breach 2^63 in the LEG sum
    # even though each row is a valid BIGINT. ANSI must abort the leg, not
    # wrap it into a wrong DECIMAL recombination. (The lo leg is bounded
    # by 2^20 per row — it cannot overflow before ~8.8e12 rows, documented
    # in money.py.)
    n = (1 << 21) + (1 << 18)  # 2.36M rows: Σ(u>>20) ≈ 1.13 · 2^63
    df = spark.range(n).select(F.lit((1 << 62) + 7).alias("u"))
    with pytest.raises(Exception, match="(?i)overflow"):
        df.agg(money.money_sum_2dp(F.col("u"), wide=True).alias("x")).collect()
