"""Custom stateful streaming operators (applyInPandasWithState): each
operator's final per-key state equals the batch aggregate or a plain
Python fold. The sessionizer, type-mix and last-N ports are tested in
test_round6_ops.py and test_round10_ops.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.sources.catalog import load_tables
from machinelearningalgomapreduce_spark.streaming import windows as sw
from machinelearningalgomapreduce_spark.streaming.stateful import user_profiles


def test_stateful_user_profiles_match_batch(spark, sf_dir):
    stream = sw.stream_events(spark, sf_dir).select(
        "user_id", "value", F.unix_micros("ts").alias("us")
    )
    out = sw.run_to_memory(user_profiles(stream), "t_profiles", output_mode="update")
    # availableNow may run several micro-batches; the LAST emission per user
    # carries the final state.
    got = {
        r.user_id: (r.n_events, r.sum_value, r.last_us)
        for r in out.orderBy("n_events").collect()  # later emissions overwrite
    }
    batch = load_tables(spark, sf_dir).events.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("s"),
        F.max(F.unix_micros("ts")).alias("last"),
    )
    expected = {r.user_id: (r.n, r.s, r.last) for r in batch.collect()}
    assert set(got) == set(expected)
    for uid, (n, s, last) in expected.items():
        gn, gs, glast = got[uid]
        assert gn == n and glast == last, uid
        assert gs == pytest.approx(s), uid


def test_stateful_ema_matches_batch_query(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators.events import q_ema
    from machinelearningalgomapreduce_spark.streaming.stateful import user_ema

    stream = sw.stream_events(spark, sf_dir).select(
        "user_id", "value", F.unix_micros("ts").alias("us"), "event_id"
    )
    out = sw.run_to_memory(user_ema(stream), "t_ema", output_mode="update")
    got = {r.user_id: (r.n_events, r.ema_value) for r in out.orderBy("n_events").collect()}
    expected = {r.user_id: (r.n_events, r.ema_value) for r in q_ema(spark, sf_dir).collect()}
    assert set(got) == set(expected)
    for uid, (n, ema) in expected.items():
        gn, gema = got[uid]
        assert gn == n, uid
        assert gema == pytest.approx(ema, abs=1e-6), uid


def test_stateful_page_hinkley_matches_python_fold(spark, sf_dir):
    """The streaming monitor's final per-type state equals a Python fold
    of the same recurrence over the chronologically-ordered events."""
    from machinelearningalgomapreduce_spark.operators.timeseries import PH_DELTA
    from machinelearningalgomapreduce_spark.streaming.stateful import type_page_hinkley

    stream = sw.stream_events(spark, sf_dir).select(
        "event_type", "value", F.unix_micros("ts").alias("us"), "event_id"
    )
    out = sw.run_to_memory(type_page_hinkley(stream), "t_ph", output_mode="update")
    got = {r.event_type: (r.n, r.ph, r.alarm) for r in out.orderBy("n").collect()}

    rows = (
        load_tables(spark, sf_dir)
        .events.select("event_type", "value", F.unix_micros("ts").alias("us"), "event_id")
        .collect()
    )
    series: dict[str, list] = {}
    for r in rows:
        series.setdefault(r.event_type, []).append((r.us, r.event_id, float(r.value)))
    from machinelearningalgomapreduce_spark.operators.timeseries import PH_LAMBDA

    for ty, obs in series.items():
        s = n = 0
        m = m_min = None
        for _, _, x in sorted(obs):
            s += x
            n += 1
            if m is None:
                m = x - s / n - PH_DELTA
                m_min = m
            else:
                m += x - s / n - PH_DELTA
                m_min = min(m_min, m)
        ph = round(m - m_min, 6)
        assert got[ty] == (n, ph, 1 if ph > PH_LAMBDA else 0), ty
    assert set(got) == set(series)


def test_stateful_ewma_control_matches_python_fold(spark, sf_dir):
    """The streaming chart's final per-type state equals a Python fold of
    the same adaptive recurrence (Welford center/scale + EWMA + carried
    variance factor) over the chronologically-ordered events."""
    import math

    from machinelearningalgomapreduce_spark.operators.timeseries import (
        _EW_FAC,
        _EW_OM,
        _EW_OM2,
        EWMA_L,
        EWMA_LAMBDA,
    )
    from machinelearningalgomapreduce_spark.streaming.stateful import type_ewma_control

    stream = sw.stream_events(spark, sf_dir).select(
        "event_type", "value", F.unix_micros("ts").alias("us"), "event_id"
    )
    out = sw.run_to_memory(type_ewma_control(stream), "t_ewc", output_mode="update")
    got = {r.event_type: (r.n, r.z, r.n_alarms) for r in out.collect()}

    rows = (
        load_tables(spark, sf_dir)
        .events.select("event_type", "value", F.unix_micros("ts").alias("us"), "event_id")
        .collect()
    )
    series: dict[str, list] = {}
    for r in rows:
        series.setdefault(r.event_type, []).append((r.us, r.event_id, float(r.value)))
    assert set(got) == set(series)
    for ty, obs in series.items():
        n, mean, m2, z, p, n_alarms = 0, 0.0, 0.0, 0.0, 1.0, 0
        for _, _, x in sorted(obs):
            n += 1
            delta = x - mean
            mean += delta / n
            m2 += delta * (x - mean)
            z = x if n == 1 else EWMA_LAMBDA * x + _EW_OM * z
            p = p * _EW_OM2
            if n >= 2:
                sd = math.sqrt(m2 / (n - 1))
                if abs(z - mean) > EWMA_L * sd * math.sqrt(_EW_FAC * (1.0 - p)):
                    n_alarms += 1
        gn, gz, ga = got[ty]
        assert gn == n, ty
        assert gz == round(z, 6), ty
        assert ga == n_alarms, ty


def test_stateful_cusum_matches_python_fold(spark, sf_dir):
    """The streaming tabular CUSUM's final per-type state equals a Python
    fold of the same recurrence (Welford center/scale, k/h in σ̂ units,
    reset-on-alarm) over the chronologically-ordered events — and the
    detector is scale-equivariant-sane: alarms only fire once limits
    engage (n ≥ 2)."""
    import math

    from machinelearningalgomapreduce_spark.streaming.stateful import (
        CUSUM_H_SIGMA,
        CUSUM_K_SIGMA,
        type_cusum,
    )

    stream = sw.stream_events(spark, sf_dir).select(
        "event_type", "value", F.unix_micros("ts").alias("us"), "event_id"
    )
    out = sw.run_to_memory(type_cusum(stream), "t_cus", output_mode="update")
    got = {r.event_type: (r.n, r.s_pos, r.s_neg, r.n_alarms) for r in out.collect()}

    rows = (
        load_tables(spark, sf_dir)
        .events.select("event_type", "value", F.unix_micros("ts").alias("us"), "event_id")
        .collect()
    )
    series: dict[str, list] = {}
    for r in rows:
        series.setdefault(r.event_type, []).append((r.us, r.event_id, float(r.value)))
    assert set(got) == set(series)
    for ty, obs in series.items():
        n, mean, m2, s_pos, s_neg, n_alarms = 0, 0.0, 0.0, 0.0, 0.0, 0
        for _, _, x in sorted(obs):
            n += 1
            delta = x - mean
            mean += delta / n
            m2 += delta * (x - mean)
            if n >= 2:
                sd = math.sqrt(m2 / (n - 1))
                k, h = CUSUM_K_SIGMA * sd, CUSUM_H_SIGMA * sd
                s_pos = max(0.0, s_pos + (x - mean - k))
                s_neg = max(0.0, s_neg + (mean - x - k))
                if s_pos > h or s_neg > h:
                    n_alarms += 1
                    s_pos = s_neg = 0.0
        gn, gsp, gsn, ga = got[ty]
        assert gn == n, ty
        assert gsp == round(s_pos, 6), ty
        assert gsn == round(s_neg, 6), ty
        assert ga == n_alarms, ty


def test_ordered_values_spans_arrow_chunks():
    """Review fix: a group larger than arrow maxRecordsPerBatch arrives
    as MULTIPLE pandas chunks; the fold must order across all of them,
    not per chunk. Simulated directly with out-of-order chunks."""
    import pandas as pd

    from machinelearningalgomapreduce_spark.streaming.stateful import _ordered_values

    chunk1 = pd.DataFrame({"us": [30, 10], "event_id": [3, 1], "value": [3.0, 1.0]})
    chunk2 = pd.DataFrame({"us": [20, 5], "event_id": [2, 0], "value": [2.0, 0.5]})
    got = list(_ordered_values(iter([chunk1, chunk2])))
    assert got == [0.5, 1.0, 2.0, 3.0]
    # chunk-local sorting would have produced [1.0, 3.0, 0.5, 2.0]
    assert list(_ordered_values(iter([]))) == []
    assert list(_ordered_values(iter([chunk1.iloc[0:0]]))) == []
