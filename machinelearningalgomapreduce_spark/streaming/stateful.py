"""Custom stateful streaming operators via applyInPandasWithState
(SURVEY.md §2E's 'stateful ops' row — arbitrary per-key state).

Each operator keeps per-key state across micro-batches and updates only
the keys a micro-batch saw — the custom-Reducer-with-state job class
MapReduce cannot express without re-reading its own output:

* ``user_profiles`` — running (count, value sum, last seen) per user;
* ``user_ema`` — per-user exponential moving average of ``value``;
* ``type_page_hinkley`` — Page-Hinkley drift monitor per event type;
* ``type_ewma_control`` — adaptive EWMA control chart per event type;
* ``type_cusum`` — two-sided tabular CUSUM per event type;
* ``user_sessions`` — gap sessionizer closed by event-time timeouts
  (append mode: each session is emitted exactly once);
* ``user_type_mix`` — per-user event-type counts in a map state column;
* ``user_recent_window`` — per-user last-``RECENT_N`` events in an array
  state column.

pytest drives each with trigger(availableNow) into a memory sink and
diffs the result against the batch aggregate or a plain Python fold.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("last_us", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def _ordered_values(pdfs: Iterable[pd.DataFrame]) -> pd.Series:
    """Chronologically-ordered `value`s across ALL Arrow chunks of the
    group. applyInPandasWithState splits a group that exceeds
    spark.sql.execution.arrow.maxRecordsPerBatch into MULTIPLE pandas
    chunks; sorting each chunk independently would fold out-of-order at
    exactly the group sizes where sequential detectors matter most, so
    every order-sensitive updater concatenates first and sorts once."""
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return pd.Series([], dtype=float)
    allp = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    return allp.sort_values(["us", "event_id"])["value"]


def _update_profile(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    n, s, last = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
        last = max(last, int(pdf["us"].max()))
    state.update((n, s, last))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "sum_value": [s], "last_us": [last]}
    )


def user_profiles(events: DataFrame) -> DataFrame:
    """Streaming per-user running profile. Input needs (user_id, value, us
    — epoch micros); emits the updated profile for every key seen in each
    micro-batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EMA_ALPHA = 0.2  # keep in lockstep with operators/events.py::EMA_ALPHA

EMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("ema", T.DoubleType()),
    ]
)

EMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ema_value", T.DoubleType()),
    ]
)


def _update_ema(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    # True-recurrence state (ema ← α·x + (1−α)·ema): the streaming twin of
    # the batch collect_list fold in operators/events.py::q_ema. Events
    # are sorted chronologically WITHIN the micro-batch; across batches
    # the file source delivers them in arrival order, the stream analog of
    # event-time order (same assumption q_ema's oracle makes explicit).
    (user_id,) = key
    n, ema = state.get if state.exists else (0, None)
    for x in _ordered_values(pdfs):
        x = float(x)
        ema = x if ema is None else EMA_ALPHA * x + (1 - EMA_ALPHA) * ema
        n += 1
    state.update((n, ema))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "ema_value": [ema]})


def user_ema(events: DataFrame) -> DataFrame:
    """Streaming per-user EMA. Input needs (user_id, value, us, event_id);
    emits the updated smoothed value for every key seen per micro-batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_ema,
        outputStructType=EMA_OUTPUT_SCHEMA,
        stateStructType=EMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("sum_x", T.DoubleType()),
        T.StructField("n", T.LongType()),
        T.StructField("m", T.DoubleType()),
        T.StructField("m_min", T.DoubleType()),
    ]
)

PH_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("ph", T.DoubleType()),
        T.StructField("alarm", T.IntegerType()),
    ]
)


def _update_page_hinkley(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    # The q_page_hinkley recurrence carried as O(1) per-key state —
    # (Σx, n, m, min m) — at EVENT granularity: the monitor folds every
    # observation as it arrives, where the batch query folds the daily
    # rollup (same detector, finer clock). Events sort chronologically
    # across ALL Arrow chunks of the micro-batch (_ordered_values);
    # across batches arrival order stands in for event time (the
    # user_ema assumption).
    from machinelearningalgomapreduce_spark.operators.timeseries import (
        PH_DELTA,
        PH_LAMBDA,
    )

    (event_type,) = key
    s, n, m, m_min = state.get if state.exists else (0.0, 0, None, None)
    for x in _ordered_values(pdfs):
        x = float(x)
        s += x
        n += 1
        if m is None:
            m = x - s / n - PH_DELTA
            m_min = m
        else:
            m += x - s / n - PH_DELTA
            m_min = min(m_min, m)
    state.update((s, n, m, m_min))
    ph = round(m - m_min, 6)
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "n": [n],
            "ph": [ph],
            "alarm": [1 if ph > PH_LAMBDA else 0],
        }
    )


def type_page_hinkley(events: DataFrame) -> DataFrame:
    """Streaming Page-Hinkley drift monitor per event type — the stateful
    twin of operators/timeseries.py::q_page_hinkley, emitting the updated
    (n, PH, alarm) for every key seen in each micro-batch. Input needs
    (event_type, value, us, event_id)."""
    return events.groupBy("event_type").applyInPandasWithState(
        _update_page_hinkley,
        outputStructType=PH_OUTPUT_SCHEMA,
        stateStructType=PH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWC_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("m2", T.DoubleType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("p", T.DoubleType()),
        T.StructField("n_alarms", T.LongType()),
    ]
)

EWC_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("n_alarms", T.LongType()),
        T.StructField("alarm", T.IntegerType()),
    ]
)

EWC_ZERO_STATE = (0, 0.0, 0.0, 0.0, 1.0, 0)


def fold_ewma_control(st: tuple, xs) -> tuple[tuple, int]:
    """Fold chronologically-ordered values into the EWMA-control state
    (n, mean, M2, z, p, n_alarms); returns (new_state, last_point_alarm).
    Folding a series in any chunking equals folding it in one shot, which
    is what makes the operator correct across micro-batch boundaries."""
    import math

    from machinelearningalgomapreduce_spark.operators.timeseries import (
        _EW_FAC,
        _EW_OM,
        _EW_OM2,
        EWMA_L,
        EWMA_LAMBDA,
    )

    n, mean, m2, z, p, n_alarms = st
    alarm = 0
    for x in xs:
        x = float(x)
        n += 1
        delta = x - mean
        mean += delta / n
        m2 += delta * (x - mean)
        z = x if n == 1 else EWMA_LAMBDA * x + _EW_OM * z
        p = p * _EW_OM2
        alarm = 0
        if n >= 2:
            sd = math.sqrt(m2 / (n - 1))
            thr = EWMA_L * sd * math.sqrt(_EW_FAC * (1.0 - p))
            if abs(z - mean) > thr:
                alarm = 1
                n_alarms += 1
    return (n, mean, m2, z, p, n_alarms), alarm


def _update_ewma_control(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    # The q_ewma_control chart as an online monitor: a stream cannot see
    # the series mean/σ upfront (the batch form is two-pass), so the
    # center and scale are the RUNNING Welford estimates — the standard
    # adaptive-SPC variant. State is O(1) per key: (n, mean, M2, z, p)
    # with p carrying (1−λ)^2t exactly as the batch fold does (no pow).
    # z seeds at the first observation; limits only engage from n ≥ 2,
    # when σ̂ exists. Events sort chronologically across ALL Arrow chunks
    # of the micro-batch (_ordered_values); across batches arrival order
    # stands in for event time. The arithmetic lives in fold_ewma_control.

    (event_type,) = key
    st = state.get if state.exists else EWC_ZERO_STATE
    st, alarm = fold_ewma_control(st, _ordered_values(pdfs))
    n, _mean, _m2, z, _p, n_alarms = st
    state.update(st)
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "n": [n],
            "z": [round(z, 6)],
            "n_alarms": [n_alarms],
            "alarm": [alarm],
        }
    )


def type_ewma_control(events: DataFrame) -> DataFrame:
    """Streaming EWMA control chart per event type — the adaptive-center
    online variant of operators/timeseries.py::q_ewma_control, emitting
    the updated (n, z, alarm count, last-point alarm) for every key seen
    in each micro-batch. Input needs (event_type, value, us, event_id)."""
    return events.groupBy("event_type").applyInPandasWithState(
        _update_ewma_control,
        outputStructType=EWC_OUTPUT_SCHEMA,
        stateStructType=EWC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Tabular CUSUM parameters in σ̂ units — the conventional SPC choices:
# k = 0.5σ (tuned for a 1σ mean shift), decision interval h = 5σ.
CUSUM_K_SIGMA = 0.5
CUSUM_H_SIGMA = 5.0

CUS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("m2", T.DoubleType()),
        T.StructField("s_pos", T.DoubleType()),
        T.StructField("s_neg", T.DoubleType()),
        T.StructField("n_alarms", T.LongType()),
    ]
)

CUS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("s_pos", T.DoubleType()),
        T.StructField("s_neg", T.DoubleType()),
        T.StructField("n_alarms", T.LongType()),
        T.StructField("alarm", T.IntegerType()),
    ]
)


CUS_ZERO_STATE = (0, 0.0, 0.0, 0.0, 0.0, 0)


def fold_cusum(st: tuple, xs) -> tuple[tuple, int]:
    """Fold chronologically-ordered values into the two-sided tabular
    CUSUM state (n, mean, M2, S⁺, S⁻, n_alarms); returns
    (new_state, last_point_alarm). Chunk-invariant like
    fold_ewma_control."""
    import math

    n, mean, m2, s_pos, s_neg, n_alarms = st
    alarm = 0
    for x in xs:
        x = float(x)
        n += 1
        delta = x - mean
        mean += delta / n
        m2 += delta * (x - mean)
        alarm = 0
        if n >= 2:
            sd = math.sqrt(m2 / (n - 1))
            k = CUSUM_K_SIGMA * sd
            h = CUSUM_H_SIGMA * sd
            s_pos = max(0.0, s_pos + (x - mean - k))
            s_neg = max(0.0, s_neg + (mean - x - k))
            if s_pos > h or s_neg > h:
                alarm = 1
                n_alarms += 1
                s_pos = 0.0
                s_neg = 0.0
    return (n, mean, m2, s_pos, s_neg, n_alarms), alarm


def _update_cusum(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    # The ONLINE (tabular, two-sided) CUSUM — the sequential form of
    # q_cusum's retrospective peak scan: S⁺ = max(0, S⁺ + (x − μ̂ − k)),
    # S⁻ = max(0, S⁻ + (μ̂ − x − k)), alarm when either exceeds h, then
    # RESET both sides (the restart-after-signal convention). A stream
    # cannot see μ/σ upfront, so center and scale are the running
    # Welford estimates (the type_ewma_control adaptive-SPC variant);
    # k and h re-derive from σ̂ at every step. Limits engage from n ≥ 2.
    # State is O(1) per key; events sort chronologically across ALL Arrow
    # chunks of the micro-batch (_ordered_values); across batches arrival
    # order stands in for event time. Arithmetic lives in fold_cusum.
    (event_type,) = key
    st = state.get if state.exists else CUS_ZERO_STATE
    st, alarm = fold_cusum(st, _ordered_values(pdfs))
    n, _mean, _m2, s_pos, s_neg, n_alarms = st
    state.update(st)
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "n": [n],
            "s_pos": [round(s_pos, 6)],
            "s_neg": [round(s_neg, 6)],
            "n_alarms": [n_alarms],
            "alarm": [alarm],
        }
    )


def type_cusum(events: DataFrame) -> DataFrame:
    """Streaming two-sided tabular CUSUM per event type — the sequential
    online twin of operators/timeseries.py::q_cusum's retrospective
    scan, with the adaptive Welford center/scale of type_ewma_control.
    Emits (n, S⁺, S⁻, alarm count, last-point alarm) for every key seen
    in each micro-batch. Input needs (event_type, value, us, event_id)."""
    return events.groupBy("event_type").applyInPandasWithState(
        _update_cusum,
        outputStructType=CUS_OUTPUT_SCHEMA,
        stateStructType=CUS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min, matching events.q_sessionize

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("closed_by", T.StringType()),  # 'gap' | 'timer'
    ]
)


def _update_session(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    # State is the one OPEN session (start, last, count) per user. Each
    # call folds the batch's events in time order: an in-gap event extends
    # the session (a late one backwards: start = min); an over-gap event
    # closes it inline ('gap') and opens the next; an event older than
    # start − gap (possible when the watermark delay exceeds the gap)
    # belongs to an earlier, already-over session and is emitted as its
    # own closed singleton. The open session's event-time timeout sits at
    # last + gap: when the watermark passes it, Spark calls back with
    # hasTimedOut and the session is emitted ('timer') and its state
    # removed — so state holds one tuple per OPEN session only.
    (user_id,) = key
    closed: list[tuple[int, int, int, str]] = []
    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        closed.append((start, last, n, "timer"))
    else:
        times = sorted(int(t) for pdf in pdfs for t in pdf["us"])
        start, last, n = state.get if state.exists else (None, None, 0)
        for t in times:
            if start is None:
                start, last, n = t, t, 1
            elif t < start - SESSION_GAP_US:
                closed.append((t, t, 1, "gap"))
            elif t - last <= SESSION_GAP_US:
                start, last, n = min(start, t), max(last, t), n + 1
            else:
                closed.append((start, last, n, "gap"))
                start, last, n = t, t, 1
        if start is not None:
            timeout_ms = (last + SESSION_GAP_US) // 1000
            # setTimeoutTimestamp rejects a time below the watermark: the
            # session is already past its timeout, so close it now.
            if timeout_ms < state.getCurrentWatermarkMs():
                state.remove()
                closed.append((start, last, n, "timer"))
            else:
                state.update((start, last, n))
                state.setTimeoutTimestamp(timeout_ms)
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "start_us": [c[0] for c in closed],
                "end_us": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
                "closed_by": [c[3] for c in closed],
            }
        )


def user_sessions(events: DataFrame, watermark_delay: str = "30 seconds") -> DataFrame:
    """Timer-closed gap sessionization stream (append mode): every session
    is emitted exactly once, when a later over-gap event closes it
    ('gap') or when the watermark passes last + SESSION_GAP_US ('timer').
    Input needs (user_id, ts); ``ts`` feeds the watermark, its epoch
    micros the fold. Events later than ``watermark_delay`` are dropped by
    the engine, so a delay wider than the gap is what lets late events
    reach the backwards extension and the singleton rule."""
    return (
        events.withColumn("us", F.unix_micros("ts"))
        .withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_session,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


TYPEMIX_STATE_SCHEMA = T.StructType(
    [
        T.StructField("counts", T.MapType(T.StringType(), T.LongType())),
        # map keys cannot be NULL, so the NULL type's count lives apart
        T.StructField("n_null", T.LongType()),
    ]
)

TYPEMIX_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_types", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("top_type", T.StringType()),
        T.StructField("top_count", T.LongType()),
    ]
)


def _update_type_mix(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    # State is one event_type → count map per user (plus the NULL type's
    # count). The modal type breaks count ties toward the smallest type,
    # NULL first — the order Spark's min_by over struct(-count, type)
    # uses in the batch twin.
    (user_id,) = key
    counts, n_null = state.get if state.exists else ({}, 0)
    counts = dict(counts)
    for pdf in pdfs:
        # dropna=False: the batch twin's groupBy keeps the NULL type group
        for ty, cnt in pdf["event_type"].value_counts(dropna=False).items():
            if pd.isna(ty):
                n_null += int(cnt)
            else:
                counts[ty] = counts.get(ty, 0) + int(cnt)
    state.update((counts, n_null))
    ranked = [(-cnt, True, ty) for ty, cnt in counts.items()]
    if n_null:
        ranked.append((-n_null, False, ""))
    neg_top, is_typed, top = min(ranked)
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_types": [len(ranked)],
            "n_events": [sum(counts.values()) + n_null],
            "top_type": [top if is_typed else None],
            "top_count": [-neg_top],
        }
    )


def user_type_mix(events: DataFrame) -> DataFrame:
    """Streaming per-user event-type mix: emits (distinct types, total
    events, modal type, its count) for every user seen in each
    micro-batch. Input needs (user_id, event_type). Batch twin:
    groupBy(user_id, event_type) counts, then count/sum/min_by."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_type_mix,
        outputStructType=TYPEMIX_OUTPUT_SCHEMA,
        stateStructType=TYPEMIX_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RECENT_N = 5

RECENT_STATE_SCHEMA = T.StructType(
    [
        T.StructField(
            "recent",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("us", T.LongType()),
                        T.StructField("event_id", T.LongType()),
                        T.StructField("cents", T.LongType()),
                    ]
                )
            ),
        ),
    ]
)

RECENT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_recent", T.LongType()),
        T.StructField("recent_cents", T.LongType()),
        T.StructField("max_cents", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def _update_recent_window(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    # State is the newest RECENT_N (us, event_id, cents) rows per user,
    # sorted by (us, event_id), so a late event — within a batch or across
    # batches — displaces an older row or is evicted at once, never a
    # newer one. O(1) per key by the cap.
    (user_id,) = key
    kept = [tuple(r) for r in state.get[0]] if state.exists else []
    for pdf in pdfs:
        kept.extend(
            (int(u), int(e), int(c))
            for u, e, c in zip(pdf["us"], pdf["event_id"], pdf["cents"])
        )
    kept = sorted(kept)[-RECENT_N:]
    state.update((kept,))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_recent": [len(kept)],
            "recent_cents": [sum(c for _u, _e, c in kept)],
            "max_cents": [max(c for _u, _e, c in kept)],
            "last_us": [kept[-1][0]],
        }
    )


def user_recent_window(events: DataFrame) -> DataFrame:
    """Streaming per-user last-N window: emits the rolling (count, exact
    integer cents sum, max, last seen) over the newest RECENT_N events for
    every user seen in each micro-batch. Input needs (user_id, us,
    event_id, cents). Batch twin: row_number over (us desc, event_id
    desc) ≤ RECENT_N, then the same aggregate."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_recent_window,
        outputStructType=RECENT_OUTPUT_SCHEMA,
        stateStructType=RECENT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
