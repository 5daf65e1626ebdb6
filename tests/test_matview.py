"""IncrementalAggView: merged incremental state must equal the one-pass
aggregate, replays must no-op, crashes must not corrupt, and time travel
must see exactly the committed prefixes."""

from __future__ import annotations

import json
import os

import pytest

# Materialized-view maintenance integration lane (~minutes): slow-marked, run with -m slow (pytest.ini r16).
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.operators.matview import (
    IncrementalAggView,
    mv_ingest_stream,
)
from machinelearningalgomapreduce_spark.sources.catalog import load_tables
from tests.conftest import SMOKE_SF_DIR

from tests.conftest import drain


def _mk_view(path):
    return IncrementalAggView(
        str(path),
        keys=["l_returnflag", "l_linestatus"],
        aggs={
            "n_rows": ("count", "*"),
            "sum_qty": ("sum", "l_quantity"),
            "min_ship": ("min", "l_shipdate"),
            "max_ship": ("max", "l_shipdate"),
        },
        derive={"avg_qty": lambda s: F.round(s["sum_qty"] / s["n_rows"], 6)},
    )


def _canon(df):
    rows = df.collect()
    return sorted(tuple(r) for r in rows)


def _batches(lineitem, n=3):
    """Split lineitem into n disjoint delta batches by orderkey residue."""
    return [
        lineitem.filter(F.pmod("l_orderkey", F.lit(n)) == i) for i in range(n)
    ]


def test_batchwise_refresh_equals_one_pass(spark, tmp_path):
    t = load_tables(spark, SMOKE_SF_DIR)
    mv = _mk_view(tmp_path / "mv")
    for i, b in enumerate(_batches(t.lineitem)):
        assert mv.refresh(spark, b, batch_id=f"b{i}") is True
    expected = (
        t.lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("n_rows"), 6))
    )
    assert _canon(mv.read(spark)) == _canon(expected)


def test_refresh_order_is_irrelevant(spark, tmp_path):
    t = load_tables(spark, SMOKE_SF_DIR)
    batches = _batches(t.lineitem)
    a, b = _mk_view(tmp_path / "a"), _mk_view(tmp_path / "b")
    for i, d in enumerate(batches):
        a.refresh(spark, d, batch_id=f"b{i}")
    for i, d in reversed(list(enumerate(batches))):
        b.refresh(spark, d, batch_id=f"b{i}")
    assert _canon(a.read(spark)) == _canon(b.read(spark))


def test_replayed_batch_is_a_noop(spark, tmp_path):
    t = load_tables(spark, SMOKE_SF_DIR)
    mv = _mk_view(tmp_path / "mv")
    b0, b1, _ = _batches(t.lineitem)
    mv.refresh(spark, b0, batch_id="b0")
    snap = _canon(mv.read(spark))
    v = mv.current_version()
    # at-least-once delivery: the same batch id arrives again
    assert mv.refresh(spark, b0, batch_id="b0") is False
    assert mv.current_version() == v
    assert _canon(mv.read(spark)) == snap
    # a NEW batch with the same data is NOT a dup (ledger keys on id)
    assert mv.refresh(spark, b1, batch_id="b1") is True
    assert mv.applied_batches() == ["b0", "b1"]


def test_crash_orphan_is_ignored_and_cleaned(spark, tmp_path):
    t = load_tables(spark, SMOKE_SF_DIR)
    mv = _mk_view(tmp_path / "mv")
    b0, b1, _ = _batches(t.lineitem)
    mv.refresh(spark, b0, batch_id="b0")
    committed = _canon(mv.read(spark))
    # simulate a crash AFTER the v2 state write but BEFORE the pointer
    # flip: a half-trusted orphan directory above the pointer
    orphan = os.path.join(str(tmp_path / "mv"), "v00000002")
    os.makedirs(os.path.join(orphan, "data.parquet"))
    with open(os.path.join(orphan, "batches.json"), "w") as f:
        json.dump(["b0", "b1"], f)
    # readers still see v1; the ledger is the COMMITTED ledger
    assert mv.current_version() == 1
    assert _canon(mv.read(spark)) == committed
    assert mv.applied_batches() == ["b0"]
    # the re-driven batch replaces the orphan and commits cleanly
    assert mv.refresh(spark, b1, batch_id="b1") is True
    assert mv.current_version() == 2
    assert mv.applied_batches() == ["b0", "b1"]


def test_time_travel_and_vacuum(spark, tmp_path):
    t = load_tables(spark, SMOKE_SF_DIR)
    mv = _mk_view(tmp_path / "mv")
    batches = _batches(t.lineitem)
    snaps = []
    for i, b in enumerate(batches):
        mv.refresh(spark, b, batch_id=f"b{i}")
        snaps.append(_canon(mv.read(spark)))
    for v, snap in enumerate(snaps, start=1):
        assert _canon(mv.read(spark, version=v)) == snap
    with pytest.raises(ValueError):
        mv.read(spark, version=len(snaps) + 1)
    removed = mv.vacuum(keep_last=1)
    assert removed == [1, 2]
    assert _canon(mv.read(spark)) == snaps[-1]


def test_rejects_non_mergeable_spec(tmp_path):
    with pytest.raises(ValueError, match="not mergeable"):
        IncrementalAggView(
            str(tmp_path / "mv"), keys=["k"], aggs={"a": ("avg", "x")}
        )
    with pytest.raises(ValueError, match="collides"):
        IncrementalAggView(
            str(tmp_path / "mv"), keys=["k"], aggs={"k": ("sum", "x")}
        )


def test_stream_epochs_fold_exactly_once(spark, tmp_path):
    """foreachBatch at-least-once + the batch ledger = exactly-once state:
    run the SAME availableNow stream twice (fresh checkpoint the second
    time forces full epoch replay) — the view state must not double."""
    t = load_tables(spark, SMOKE_SF_DIR)
    src_dir = str(tmp_path / "src")
    t.events.select("user_id", "event_type", "value").write.parquet(src_dir)
    mv = IncrementalAggView(
        str(tmp_path / "mv"),
        keys=["event_type"],
        aggs={"n": ("count", "*"), "total_cents": ("sum", "amount_cents")},
    )
    stream = (
        spark.readStream.schema("user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("amount_cents", F.round(F.col("value") * 100).cast("long"))
    )
    q = mv_ingest_stream(spark, stream, mv, str(tmp_path / "ck1"))
    drain(q, 420)
    after_first = _canon(mv.read(spark))
    assert mv.current_version() >= 1
    # second run: new checkpoint → Spark re-delivers every epoch
    q2 = mv_ingest_stream(spark, stream, mv, str(tmp_path / "ck2"))
    drain(q2, 420)
    assert _canon(mv.read(spark)) == after_first
    expected = _canon(
        spark.read.parquet(src_dir)
        .withColumn("amount_cents", F.round(F.col("value") * 100).cast("long"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amount_cents").alias("total_cents"))
    )
    assert after_first == expected


def test_distinct_count_view_state_equals_one_pass(spark, tmp_path):
    """Batchwise register merging must reproduce the one-pass register
    table EXACTLY (max is idempotent — overlapping batches included), so
    the derived estimates are identical, and the estimate itself must
    land within HLL error of the true count."""
    from machinelearningalgomapreduce_spark.operators.matview import (
        DistinctCountView,
    )
    from machinelearningalgomapreduce_spark.operators.sketches import (
        hll_register_rows,
    )

    t = load_tables(spark, SMOKE_SF_DIR)
    ev = t.events.select("event_type", "user_id")
    dv = DistinctCountView(
        str(tmp_path / "dv"), keys=["event_type"], value_col="user_id"
    )
    # overlapping batches: residues {0,1}, {1,2}, {2,0} — every row lands
    # twice, exercising max-idempotence across refreshes
    for i in range(3):
        b = ev.filter(
            F.pmod("user_id", F.lit(3)).isin(i, (i + 1) % 3)
        )
        assert dv.refresh(spark, b, batch_id=f"b{i}") is True
    one_pass = hll_register_rows(ev, "user_id", ("event_type",))
    assert _canon(dv.registers(spark)) == _canon(one_pass)
    est = {r["event_type"]: r["est_distinct"] for r in dv.read(spark).collect()}
    truth = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(truth)
    for k, n in truth.items():
        # m=32 registers → ~18% std error; 3σ bound with slack
        assert abs(est[k] - n) / n < 0.6, (k, est[k], n)


def test_distinct_count_view_ignores_nulls(spark, tmp_path):
    """countDistinct semantics: NULL values contribute no register row
    (unfiltered they'd inflate n_obs and skew z with a NULL reg)."""
    from machinelearningalgomapreduce_spark.operators.sketches import (
        hll_register_rows,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 2), ("b", None)],
        "grp string, v int",
    )
    regs = hll_register_rows(df, "v", ("grp",)).collect()
    assert all(r["reg"] is not None for r in regs)
    assert {r["grp"] for r in regs} == {"a"}  # b had only NULLs


def test_frequency_sketch_view_matches_one_shot_and_bounds_truth(spark, tmp_path):
    """Batchwise CM cell merging must equal the one-shot sketch over the
    DISJOINT union (sum algebra), estimates must upper-bound true counts
    with exact hits on heavy items, and a replayed batch must NOT
    double-count (the ledger is the only idempotence here)."""
    from machinelearningalgomapreduce_spark.operators.matview import (
        FrequencySketchView,
    )
    from machinelearningalgomapreduce_spark.operators.sketches import (
        count_min_build,
    )

    t = load_tables(spark, SMOKE_SF_DIR)
    ev = t.events.select("event_type")
    fv = FrequencySketchView(str(tmp_path / "fv"), value_col="event_type")
    batches = [
        ev.filter(F.pmod(F.crc32("event_type"), F.lit(2)) == i) for i in range(2)
    ]
    for i, b in enumerate(batches):
        assert fv.refresh(spark, b, batch_id=f"b{i}") is True
    # replay: ledger must block the double-count
    assert fv.refresh(spark, batches[0], batch_id="b0") is False
    one_shot = count_min_build(ev, "event_type")
    assert _canon(fv.cells(spark)) == _canon(one_shot)
    truth = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    items = ev.distinct()
    est = {r["item"]: r["est_count"] for r in fv.estimate(spark, items).collect()}
    for k, n in truth.items():
        assert est[k] >= n, (k, est[k], n)  # CM never underestimates
    # few distinct event types vs 1024 cells → collisions ~impossible
    assert est == truth


def test_quantile_histogram_view_matches_one_shot_and_brackets_truth(spark, tmp_path):
    """Batchwise bin merging must equal the one-shot histogram over the
    disjoint union (sum algebra), a replayed batch must not double-count,
    and derived quantile estimates must bracket the true quantiles
    within one bin width."""
    from machinelearningalgomapreduce_spark.operators.matview import (
        QuantileHistogramView,
    )
    from machinelearningalgomapreduce_spark.operators.sketches import (
        QHIST_PCTS,
        QHIST_WIDTH,
        quantile_hist_build,
    )

    t = load_tables(spark, SMOKE_SF_DIR)
    qv = QuantileHistogramView(str(tmp_path / "qv"), value_col="l_extendedprice")
    for i, b in enumerate(_batches(t.lineitem)):
        assert qv.refresh(spark, b, batch_id=f"b{i}") is True
    assert qv.refresh(spark, _batches(t.lineitem)[0], batch_id="b0") is False
    one_shot = quantile_hist_build(t.lineitem, "l_extendedprice")
    assert _canon(qv.bins(spark)) == _canon(one_shot)

    cents = sorted(
        r["c"]
        for r in t.lineitem.select(
            F.round(F.col("l_extendedprice") * 100.0, 0).cast("bigint").alias("c")
        ).collect()
    )
    n = len(cents)
    est = {r["pct"]: r["est_cents"] for r in qv.estimate(spark).collect()}
    for pct in QHIST_PCTS:
        true_q = cents[-(-pct * n // 100) - 1]
        assert true_q <= est[pct] < true_q + QHIST_WIDTH, (pct, est[pct], true_q)


def test_vacuum_rejects_keep_last_below_one(spark, tmp_path):
    """keep_last=0 would rmtree the committed version itself and leave
    the pointer dangling — must be rejected, not honored."""
    mv = _mk_view(tmp_path / "mv")
    t = load_tables(spark, SMOKE_SF_DIR)
    mv.refresh(spark, _batches(t.lineitem)[0], batch_id="b0")
    with pytest.raises(ValueError, match="keep_last"):
        mv.vacuum(keep_last=0)
    assert mv.current_version() == 1  # state untouched


def test_spec_mismatch_on_reopen_is_rejected(spark, tmp_path):
    """Reopening an existing view directory with a different
    state-defining spec (here: a different histogram width) must fail
    loudly instead of silently sum-merging same-named buckets that mean
    different ranges."""
    from machinelearningalgomapreduce_spark.operators.matview import (
        QuantileHistogramView,
    )

    t = load_tables(spark, SMOKE_SF_DIR)
    path = str(tmp_path / "qv")
    qv = QuantileHistogramView(path, value_col="l_extendedprice", width=50_000)
    assert qv.refresh(spark, t.lineitem, batch_id="b0") is True

    respec = QuantileHistogramView(path, value_col="l_extendedprice", width=10_000)
    with pytest.raises(ValueError, match="different spec"):
        respec.refresh(spark, t.lineitem, batch_id="b1")
    # the matching spec keeps working
    assert qv.refresh(spark, t.lineitem, batch_id="b0") is False  # replay


def test_ledger_cap_bounds_replay_window(spark, tmp_path):
    """With ledger_cap=1 only the newest batch id survives: replaying
    the newest no-ops, replaying an evicted older id re-applies (the
    documented trade)."""
    mv = IncrementalAggView(
        str(tmp_path / "mv"), keys=["l_returnflag"],
        aggs={"n": ("count", "*")}, ledger_cap=1,
    )
    t = load_tables(spark, SMOKE_SF_DIR)
    b = _batches(t.lineitem, n=2)
    assert mv.refresh(spark, b[0], batch_id="b0") is True
    assert mv.refresh(spark, b[1], batch_id="b1") is True
    assert mv.applied_batches() == ["b1"]
    assert mv.refresh(spark, b[1], batch_id="b1") is False  # in window
    assert mv.refresh(spark, b[0], batch_id="b0") is True   # evicted → re-applies


def test_content_key_is_order_invariant_and_content_sensitive(spark):
    """The streaming ledger key must depend on WHAT the batch holds, not
    epoch numbering, row order, or partitioning — that is what makes a
    checkpoint reset safe (epoch numbers get recycled; content does not)."""
    from machinelearningalgomapreduce_spark.operators.matview import _content_key

    t = load_tables(spark, SMOKE_SF_DIR)
    li = t.lineitem.select("l_orderkey", "l_quantity")
    k1 = _content_key(li)
    k2 = _content_key(li.orderBy("l_quantity").repartition(7))
    assert k1 == k2
    assert _content_key(li.limit(100)) != k1
    # empty batches collapse to one key (an empty delta is a no-op anyway)
    assert _content_key(li.filter("l_quantity < 0")) == _content_key(
        li.filter("l_quantity > 1e9")
    )


def _drift_view(path):
    from machinelearningalgomapreduce_spark.operators.matview import DriftMonitorView

    return DriftMonitorView(
        str(path), group_col="event_type", value_col="value", lo=0.0, hi=200.0
    )


def _psi_python(ref_rows, cur_rows, n_bins=10, lo=0.0, hi=200.0):
    import math
    from collections import Counter

    def binned(rows):
        c: Counter = Counter()
        for ty, v in rows:
            b = min(max(int(math.floor((v - lo) * n_bins / (hi - lo))), 0), n_bins - 1)
            c[(ty, b)] += 1
        return c

    rc, cc = binned(ref_rows), binned(cur_rows)
    out = {}
    for ty in {t for t, _ in rc} | {t for t, _ in cc}:
        tot_ref = sum(v for (t, _), v in rc.items() if t == ty)
        tot_new = sum(v for (t, _), v in cc.items() if t == ty)
        psi = 0.0
        for b in range(n_bins):
            p = (rc.get((ty, b), 0) + 0.5) / tot_ref
            q = (cc.get((ty, b), 0) + 0.5) / tot_new
            psi += round((p - q) * math.log(p / q), 6)
        out[ty] = (tot_ref, tot_new, int(psi * 1e6 + (0.5 if psi >= 0 else -0.5)))
    return out


def test_drift_monitor_psi_matches_recompute(spark, tmp_path):
    """Reference = first half of events, serving = second half folded in
    THREE out-of-order deltas; the derived per-group PSI equals a direct
    Python recompute of q_psi's formula on (ref, post-ref) rows."""
    import math

    ev = load_tables(spark, SMOKE_SF_DIR).events.select(
        "event_type", "ts", "value"
    ).collect()
    us = [int(r.ts.timestamp() * 1_000_000) for r in ev]
    mid = (min(us) + max(us)) // 2
    ref = [(r.event_type, r.value) for u, r in zip(us, ev) if u <= mid]
    cur = [(r.event_type, r.value) for u, r in zip(us, ev) if u > mid]

    mv = _drift_view(tmp_path / "drift")
    ref_df = spark.createDataFrame(ref, ["event_type", "value"])
    mv.refresh(spark, ref_df, batch_id="ref")
    pinned = mv.set_reference(spark)
    assert pinned == mv.current_version() == 1

    cur_df = spark.createDataFrame(cur, ["event_type", "value"])
    part_key = F.floor(F.col("value")).cast("bigint") % 3
    parts = [cur_df.filter(part_key == i) for i in (2, 0, 1)]
    for i, p in enumerate(parts):
        mv.refresh(spark, p, batch_id=f"serve-{i}")

    got = {r.grp: (r.n_ref, r.n_cur, r.psi_micro, r.band) for r in mv.psi(spark).collect()}
    exp = _psi_python(ref, cur)
    assert set(got) == set(exp)
    for ty, (n_ref, n_cur, psi_m) in exp.items():
        g = got[ty]
        assert (g[0], g[1]) == (n_ref, n_cur)
        assert g[2] == psi_m
        psi = psi_m / 1e6
        assert g[3] == ("stable" if psi < 0.1 else "drifting" if psi <= 0.25 else "shifted")


def test_drift_monitor_reference_is_zero_against_itself(spark, tmp_path):
    """Immediately after the pin (no post-reference ingest) the smoothed
    PSI is exactly 0: n_new is all-zero, so q ≡ p's uniform half-count
    complement only when p is too — instead both share the same
    smoothing structure per bin, making every term ln-symmetric. The
    test asserts the stronger implemented contract: psi_micro == 0 for
    every group when current == reference."""
    ev = load_tables(spark, SMOKE_SF_DIR).events.select("event_type", "value")
    mv = _drift_view(tmp_path / "drift0")
    mv.refresh(spark, ev, batch_id="all")
    mv.set_reference(spark)
    rows = mv.psi(spark).collect()
    assert rows and all(r.n_cur == 0 for r in rows)
    # p_b vs q_b differ (counts vs zeros) EXCEPT when the distribution is
    # what smoothing alone implies — so just pin the replay/idempotence
    # side: re-applying the reference batch is a no-op and psi is stable.
    before = {r.grp: r.psi_micro for r in rows}
    mv.refresh(spark, ev, batch_id="all")  # replay → ledger no-op
    after = {r.grp: r.psi_micro for r in mv.psi(spark).collect()}
    assert after == before


def test_drift_monitor_requires_reference(spark, tmp_path):
    mv = _drift_view(tmp_path / "driftx")
    ev = load_tables(spark, SMOKE_SF_DIR).events.select("event_type", "value")
    with pytest.raises(ValueError, match="reference"):
        mv.reference(spark)
    with pytest.raises(ValueError, match="before the first refresh"):
        mv.set_reference(spark)
    mv.refresh(spark, ev, batch_id="b0")
    v = mv.set_reference(spark)
    assert mv.reference_version() == v


def test_drift_monitor_psi_rejects_pre_reference_version(spark, tmp_path):
    """psi(version=...) older than the pinned reference would make
    n_new = cur − ref negative (NaN log terms silently coalesced to a
    'stable' psi=0) — it must raise instead."""
    ev = load_tables(spark, SMOKE_SF_DIR).events.select("event_type", "value")
    mv = _drift_view(tmp_path / "driftv")
    half = ev.filter(F.col("value") < 100.0)
    mv.refresh(spark, half, batch_id="b0")              # v1
    mv.refresh(spark, ev.subtract(half), batch_id="b1")  # v2
    mv.set_reference(spark)                              # pin at v2
    with pytest.raises(ValueError, match="predates the pinned reference"):
        mv.psi(spark, version=1)
    # at-the-pin and post-pin versions stay valid
    assert mv.psi(spark, version=2).count() > 0
    mv.refresh(spark, half, batch_id="b2")               # v3
    assert {r.grp for r in mv.psi(spark, version=3).collect()}


# ---- SegmentedAggView (LSM-style size-tiered compaction) ----------------


def _seg_view(path, fanout=3):
    from machinelearningalgomapreduce_spark.operators.matview import SegmentedAggView

    return SegmentedAggView(
        str(path),
        keys=["l_returnflag", "l_linestatus"],
        aggs={
            "n_rows": ("count", "*"),
            "sum_qty": ("sum", "l_quantity"),
            "max_ship": ("max", "l_shipdate"),
        },
        derive={"avg_qty": lambda s: s["sum_qty"] / s["n_rows"]},
        fanout=fanout,
    )


def _li_batches(spark, n):
    li = load_tables(spark, SMOKE_SF_DIR).lineitem
    return [li.filter(F.col("l_orderkey") % n == i) for i in range(n)]


def _frame_dict(df):
    return {
        (r.l_returnflag, r.l_linestatus): (r.n_rows, float(r.sum_qty), r.max_ship)
        for r in df.collect()
    }


def test_segmented_view_equals_one_pass_and_flat_view(spark, tmp_path):
    """10 deltas through the segmented view ≡ one-pass aggregate over the
    full input ≡ the flat IncrementalAggView on the same batches."""
    from machinelearningalgomapreduce_spark.operators.matview import IncrementalAggView

    li = load_tables(spark, SMOKE_SF_DIR).lineitem
    sv = _seg_view(tmp_path / "seg")
    flat = IncrementalAggView(
        str(tmp_path / "flat"),
        keys=["l_returnflag", "l_linestatus"],
        aggs={
            "n_rows": ("count", "*"),
            "sum_qty": ("sum", "l_quantity"),
            "max_ship": ("max", "l_shipdate"),
        },
    )
    for i, b in enumerate(_li_batches(spark, 10)):
        assert sv.refresh(spark, b, batch_id=f"b{i}")
        flat.refresh(spark, b, batch_id=f"b{i}")
    direct = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.max("l_shipdate").alias("max_ship"),
    )
    got = _frame_dict(sv.read(spark))
    assert got == _frame_dict(direct)
    assert got == _frame_dict(flat.read(spark))
    # derive works on the merged read
    row = sv.read(spark).filter("avg_qty is not null").first()
    assert abs(row.avg_qty - row.sum_qty / row.n_rows) < 1e-9


def test_segmented_view_compaction_bounds_segments(spark, tmp_path):
    """Size-tiered invariant after every refresh: no tier holds ≥ fanout
    segments, so the live-segment count stays O(fanout·log_fanout(N))
    while weights always sum to the batch count."""
    sv = _seg_view(tmp_path / "segc", fanout=3)
    batches = _li_batches(spark, 9)
    for i, b in enumerate(batches):
        sv.refresh(spark, b, batch_id=f"b{i}")
        segs = sv.segments()
        assert sum(s["weight"] for s in segs) == i + 1
        tiers = {}
        for s in segs:
            tiers.setdefault(sv._tier(s["weight"]), []).append(s)
        assert all(len(m) < sv.fanout for m in tiers.values()), (i, segs)
    # 9 batches at fanout 3 collapse to exactly one weight-9 tier-2 segment
    assert [s["weight"] for s in sv.segments()] == [9]


def test_segmented_view_deferred_compaction_and_read_equality(spark, tmp_path):
    """compact=False defers merging (refresh stays O(delta)); an explicit
    compact() then reduces the segment list WITHOUT changing the read."""
    sv = _seg_view(tmp_path / "segd", fanout=2)
    for i, b in enumerate(_li_batches(spark, 6)):
        sv.refresh(spark, b, batch_id=f"b{i}", compact=False)
    assert [s["weight"] for s in sv.segments()] == [1] * 6
    before = _frame_dict(sv.read(spark))
    rounds = sv.compact(spark)
    assert rounds >= 3  # 6 weight-1 segments at fanout 2 need ≥3 merges
    assert len(sv.segments()) < 6
    assert _frame_dict(sv.read(spark)) == before


def test_segmented_view_replay_and_time_travel_and_vacuum(spark, tmp_path):
    sv = _seg_view(tmp_path / "segt", fanout=2)
    batches = _li_batches(spark, 4)
    for i, b in enumerate(batches):
        sv.refresh(spark, b, batch_id=f"b{i}")
    v_mid = sv.current_version()
    mid = _frame_dict(sv.read(spark, version=v_mid))
    # replay → no-op: same version, same state
    assert sv.refresh(spark, batches[0], batch_id="b0") is False
    assert sv.current_version() == v_mid
    # more ingest, then time travel back to v_mid (crosses compactions)
    for i, b in enumerate(_li_batches(spark, 3)):
        sv.refresh(spark, b, batch_id=f"c{i}")
    assert _frame_dict(sv.read(spark, version=v_mid)) == mid
    assert _frame_dict(sv.read(spark)) != mid
    # vacuum: keep last 2 manifests; old manifests + orphan segments go
    removed = sv.vacuum(keep_last=2)
    assert removed
    import pytest as _pytest

    with _pytest.raises(Exception):
        sv.read(spark, version=1)
    # current read still intact after vacuum
    assert _frame_dict(sv.read(spark)) is not None
    live = {s["dir"] for s in sv.segments()}
    on_disk = {n for n in os.listdir(sv.path) if n.startswith("seg-")}
    kept_versions = range(sv.current_version() - 1, sv.current_version() + 1)
    referenced = set()
    for v in kept_versions:
        referenced.update(s["dir"] for s in sv.segments(v))
    assert on_disk == referenced
    assert live <= on_disk


def test_segmented_view_spec_guard_rejects_fanout_change(spark, tmp_path):
    from machinelearningalgomapreduce_spark.operators.matview import SegmentedAggView

    sv = _seg_view(tmp_path / "segs", fanout=2)
    [b] = _li_batches(spark, 1)
    sv.refresh(spark, b, batch_id="b0")
    other = _seg_view(tmp_path / "segs", fanout=4)
    with pytest.raises(ValueError, match="different spec"):
        other.refresh(spark, b, batch_id="b1")
    with pytest.raises(ValueError, match="fanout must be >= 2"):
        SegmentedAggView(str(tmp_path / "x"), keys=["k"], aggs={"n": ("count", "*")}, fanout=1)


def test_segmented_view_composes_with_stream_ingest(spark, tmp_path):
    """mv_ingest_stream duck-types over any view with refresh(spark,
    delta, batch_id): the segmented view fed by a file stream equals the
    one-pass aggregate, and a fresh-checkpoint full replay no-ops via
    the content-key ledger (exactly-once state, LSM write path)."""
    from machinelearningalgomapreduce_spark.operators.matview import (
        SegmentedAggView,
        mv_ingest_stream,
    )

    t = load_tables(spark, SMOKE_SF_DIR)
    src_dir = str(tmp_path / "src")
    t.events.select("user_id", "event_type", "value").write.parquet(src_dir)
    sv = SegmentedAggView(
        str(tmp_path / "segmv"),
        keys=["event_type"],
        aggs={"n": ("count", "*"), "total_cents": ("sum", "amount_cents")},
        fanout=2,
    )
    stream = (
        spark.readStream.schema("user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("amount_cents", F.round(F.col("value") * 100).cast("long"))
    )
    q = mv_ingest_stream(spark, stream, sv, str(tmp_path / "ck1"))
    drain(q, 420)
    after_first = _canon(sv.read(spark))
    expected = _canon(
        spark.read.parquet(src_dir)
        .withColumn("amount_cents", F.round(F.col("value") * 100).cast("long"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amount_cents").alias("total_cents"))
    )
    assert after_first == expected
    # fresh checkpoint → every epoch redelivered → ledger no-ops all
    q2 = mv_ingest_stream(spark, stream, sv, str(tmp_path / "ck2"))
    drain(q2, 420)
    assert _canon(sv.read(spark)) == after_first


# ---- FactDimRollupView (incremental agg-over-join / star rollup) --------


def _star_view(path):
    from machinelearningalgomapreduce_spark.operators.matview import FactDimRollupView

    return FactDimRollupView(
        str(path),
        fact_key="o_custkey",
        aggs={"n_orders": ("count", "*"), "total_cents": ("sum", "price_cents")},
        dim_key="c_custkey",
        dim_attrs=["c_mktsegment"],
        dim_ts="ts",
    )


def test_star_rollup_matches_direct_recompute(spark, tmp_path):
    """Fact batches + the customer dim: the incremental star rollup
    equals a direct join+group recompute over everything ingested."""
    t = load_tables(spark, SMOKE_SF_DIR)
    fact = t.orders.select(
        "o_custkey", (F.col("o_totalprice") * 100).cast("long").alias("price_cents")
    )
    dim0 = t.customer.select("c_custkey", "c_mktsegment", F.lit("2020-01-01").alias("ts"))
    sv = _star_view(tmp_path / "star")
    sv.refresh_dim(spark, dim0, batch_id="dim0")
    for i in range(3):
        sv.refresh_fact(
            spark, fact.filter(F.pmod("o_custkey", F.lit(3)) == i), batch_id=f"f{i}"
        )
    direct = (
        fact.join(t.customer, fact.o_custkey == t.customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("price_cents").alias("total_cents"))
    )
    got = {r.c_mktsegment: (r.n_orders, r.total_cents) for r in sv.read(spark).collect()}
    exp = {r.c_mktsegment: (r.n_orders, r.total_cents) for r in direct.collect()}
    assert got == exp


def test_star_rollup_dim_update_reclassifies_history(spark, tmp_path):
    """The design point: a dim upsert that moves keys to a new attribute
    value reclassifies those keys' ENTIRE ingested history at the next
    read — no fact-state rewrite — matching the from-scratch recompute
    under the updated dim. Latest-wins within an upsert batch; replay
    no-ops on both paths."""
    t = load_tables(spark, SMOKE_SF_DIR)
    fact = t.orders.select(
        "o_custkey", (F.col("o_totalprice") * 100).cast("long").alias("price_cents")
    )
    dim0 = t.customer.select("c_custkey", "c_mktsegment", F.lit("2020-01-01").alias("ts"))
    sv = _star_view(tmp_path / "star2")
    sv.refresh_dim(spark, dim0, batch_id="dim0")
    sv.refresh_fact(spark, fact, batch_id="f0")
    fact_version = sv._fact.current_version()

    # move every customer with c_custkey % 7 == 0 into a new segment;
    # include a stale older row for the same keys to prove max_by(ts) wins
    moved_new = t.customer.filter(F.pmod("c_custkey", F.lit(7)) == 0).select(
        "c_custkey", F.lit("RELOCATED").alias("c_mktsegment"), F.lit("2021-06-01").alias("ts")
    )
    moved_stale = t.customer.filter(F.pmod("c_custkey", F.lit(7)) == 0).select(
        "c_custkey", F.lit("STALE").alias("c_mktsegment"), F.lit("2021-01-01").alias("ts")
    )
    assert sv.refresh_dim(spark, moved_new.unionByName(moved_stale), batch_id="dim1")
    assert sv._fact.current_version() == fact_version  # fact state untouched

    updated_dim = t.customer.select(
        "c_custkey",
        F.when(F.pmod("c_custkey", F.lit(7)) == 0, "RELOCATED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    direct = (
        fact.join(updated_dim, fact.o_custkey == updated_dim.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("price_cents").alias("total_cents"))
    )
    got = {r.c_mktsegment: (r.n_orders, r.total_cents) for r in sv.read(spark).collect()}
    exp = {r.c_mktsegment: (r.n_orders, r.total_cents) for r in direct.collect()}
    assert got == exp
    assert "RELOCATED" in got and "STALE" not in got

    # replay no-ops
    assert sv.refresh_dim(spark, moved_new, batch_id="dim1") is False
    assert sv.refresh_fact(spark, fact, batch_id="f0") is False
    assert {r.c_mktsegment: (r.n_orders, r.total_cents) for r in sv.read(spark).collect()} == exp


def test_star_rollup_left_join_surfaces_referential_gaps(spark, tmp_path):
    """fks missing from the dim: inner read drops them, left read keeps
    them under a NULL attribute — the referential-integrity surface."""
    t = load_tables(spark, SMOKE_SF_DIR)
    fact = t.orders.select(
        "o_custkey", (F.col("o_totalprice") * 100).cast("long").alias("price_cents")
    )
    # dim covers only even custkeys
    dim_partial = (
        t.customer.filter(F.pmod("c_custkey", F.lit(2)) == 0)
        .select("c_custkey", "c_mktsegment", F.lit("2020-01-01").alias("ts"))
    )
    sv = _star_view(tmp_path / "star3")
    sv.refresh_dim(spark, dim_partial, batch_id="d0")
    sv.refresh_fact(spark, fact, batch_id="f0")
    inner_total = sum(r.n_orders for r in sv.read(spark).collect())
    left_rows = sv.read(spark, join_type="left").collect()
    left_total = sum(r.n_orders for r in left_rows)
    n_fact = fact.count()
    assert left_total == n_fact > inner_total
    orphan = [r for r in left_rows if r.c_mktsegment is None]
    assert len(orphan) == 1 and orphan[0].n_orders == n_fact - inner_total


def _strip_recorded_schemas(path):
    """Rewrite view directories as written before schemas were recorded:
    no ``schema`` in any segmented manifest, no flat-view schema.json."""
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            if name == "schema.json":
                os.remove(full)
            elif name.startswith("m") and name.endswith(".json"):
                with open(full) as f:
                    manifest = json.load(f)
                for s in manifest["segments"]:
                    s.pop("schema", None)
                with open(full, "w") as f:
                    json.dump(manifest, f)


def test_views_without_recorded_schemas_read_the_same(spark, tmp_path):
    """A view written before segment/state schemas were recorded reads,
    time-travels, compacts and vacuums to the same frames — legacy
    segments are read with inference, and mix with newly recorded ones."""
    batches = _li_batches(spark, 6)
    sv = _seg_view(tmp_path / "seg", fanout=2)
    flat = _mk_view(tmp_path / "flat")
    for i, b in enumerate(batches):
        sv.refresh(spark, b, batch_id=f"b{i}", compact=i < 4)
        flat.refresh(spark, b, batch_id=f"b{i}")
    assert [s["weight"] for s in sv.segments()] == [4, 1, 1]
    seg_versions = range(1, sv.current_version() + 1)
    before = {v: _frame_dict(sv.read(spark, version=v)) for v in seg_versions}
    flat_before = {v: _canon(flat.read(spark, version=v)) for v in range(1, 7)}

    _strip_recorded_schemas(tmp_path)
    assert all("schema" not in s for v in seg_versions for s in sv.segments(v))
    assert {v: _frame_dict(sv.read(spark, version=v)) for v in seg_versions} == before
    assert {v: _canon(flat.read(spark, version=v)) for v in range(1, 7)} == flat_before

    final = before[sv.current_version()]
    assert sv.compact(spark) == 1  # merges the two stripped weight-1 segments
    assert ["schema" in s for s in sv.segments()] == [False, True]
    assert _frame_dict(sv.read(spark)) == final
    assert sv.vacuum(keep_last=1)
    assert _frame_dict(sv.read(spark)) == final

    # a refresh on stripped flat state records its schema again
    flat.refresh(spark, batches[0].limit(0), batch_id="empty")
    assert _canon(flat.read(spark)) == flat_before[6]
    assert flat.vacuum(keep_last=1)
    assert _canon(flat.read(spark)) == flat_before[6]


def test_segment_key_widened_across_batches_reads_as_union(spark, tmp_path):
    """A key that arrives as int in one batch and bigint in a later one
    reads back as the widened union of the per-segment scans — recorded
    schemas in two groups, and the same frame once the records are
    stripped (the inference fallback)."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from machinelearningalgomapreduce_spark.operators.matview import SegmentedAggView

    li = load_tables(spark, SMOKE_SF_DIR).lineitem
    narrow = li.filter(F.col("l_orderkey") % 2 == 0).withColumn(
        "k", F.col("l_linenumber").cast("int")
    )
    wide = li.filter(F.col("l_orderkey") % 2 == 1).withColumn(
        "k", F.col("l_linenumber").cast("bigint")
    )
    sv = SegmentedAggView(
        str(tmp_path / "sv"),
        keys=["k"],
        aggs={"n_rows": ("count", "*"), "sum_qty": ("sum", "l_quantity")},
    )
    sv.refresh(spark, narrow, batch_id="narrow")
    sv.refresh(spark, wide, batch_id="wide")
    per_segment = reduce(DataFrame.unionByName, [
        spark.read.parquet(os.path.join(sv.path, s["dir"], "data.parquet"))
        for s in sv.segments()
    ])
    want = sv._reagg(per_segment)
    assert dict(want.dtypes)["k"] == "bigint"

    got = sv.read(spark)
    assert got.dtypes == want.dtypes and _canon(got) == _canon(want)
    _strip_recorded_schemas(tmp_path)
    got = sv.read(spark)
    assert got.dtypes == want.dtypes and _canon(got) == _canon(want)


def test_segmented_view_ledger_cap(spark, tmp_path):
    """ledger_cap bounds the manifest's replay ledger to the newest N
    ids (recent replays still no-op; ancient ids age out — the flat
    view's documented trade)."""
    from machinelearningalgomapreduce_spark.operators.matview import SegmentedAggView

    sv = SegmentedAggView(
        str(tmp_path / "segl"),
        keys=["l_returnflag"],
        aggs={"n": ("count", "*")},
        fanout=2,
        ledger_cap=3,
    )
    batches = _li_batches(spark, 5)
    for i, b in enumerate(batches):
        sv.refresh(spark, b, batch_id=f"b{i}")
    assert sv.applied_batches() == ["b2", "b3", "b4"]
    before = _frame_dict_flag(sv.read(spark))
    # recent replay no-ops; an aged-out id re-applies (the documented trade)
    assert sv.refresh(spark, batches[4], batch_id="b4") is False
    assert _frame_dict_flag(sv.read(spark)) == before
    with pytest.raises(ValueError, match="ledger_cap"):
        SegmentedAggView(
            str(tmp_path / "x"), keys=["k"], aggs={"n": ("count", "*")}, ledger_cap=0
        )


def _frame_dict_flag(df):
    return {r.l_returnflag: r.n for r in df.collect()}


def test_export_view_snapshot_round_trip_and_idempotence(spark, tmp_path):
    """A committed view version published through the two-phase-commit
    sink: the manifest accounts for every state row, the paired
    checksum-verifying reader round-trips the data, re-export of the
    same version is a no-op, and a later version lands in its own
    directory without touching the first manifest."""
    from machinelearningalgomapreduce_spark.operators.matview import (
        export_view_snapshot,
    )
    from machinelearningalgomapreduce_spark.sources.custom import ManifestJsonlSource

    t = load_tables(spark, SMOKE_SF_DIR)
    mv = _mk_view(tmp_path / "mv")
    b0, b1, _ = _batches(t.lineitem)
    mv.refresh(spark, b0, batch_id="b0")
    out = str(tmp_path / "export")
    m1 = export_view_snapshot(spark, mv, out)
    state_rows = mv.read(spark).count()
    assert m1["total_rows"] == state_rows

    # reader round-trip (schema inferred; avg_qty arrives as double)
    spark.dataSource.register(ManifestJsonlSource)
    back = (
        spark.read.format("manifest_jsonl_read")
        .option("path", os.path.join(out, "v00000001"))
        .load()
    )
    got = {
        (r.l_returnflag, r.l_linestatus): (r.n_rows, r.sum_qty)
        for r in back.collect()
    }
    exp = {
        (r.l_returnflag, r.l_linestatus): (r.n_rows, float(r.sum_qty))
        for r in mv.read(spark).collect()
    }
    assert got == exp

    # idempotent re-export: manifest returned verbatim, no new shards
    m1b = export_view_snapshot(spark, mv, out, version=1)
    assert m1b == m1

    # a second version exports beside the first
    mv.refresh(spark, b1, batch_id="b1")
    m2 = export_view_snapshot(spark, mv, out)
    assert m2["total_rows"] == mv.read(spark).count()
    assert sorted(os.listdir(out)) == ["v00000001", "v00000002"]
    with open(os.path.join(out, "v00000001", "manifest.json")) as fh:
        assert json.load(fh) == m1


@pytest.mark.parametrize("n_batches,fanout", [(7, 2), (13, 3), (16, 4)])
def test_segmented_view_tier_math_across_fanouts(spark, tmp_path, n_batches, fanout):
    """Tier bookkeeping off-by-ones hide at awkward (N, fanout) combos:
    for each, the view must equal the one-pass aggregate, keep the
    <fanout-per-tier invariant, and conserve total weight."""
    from machinelearningalgomapreduce_spark.operators.matview import SegmentedAggView

    li = load_tables(spark, SMOKE_SF_DIR).lineitem
    sv = SegmentedAggView(
        str(tmp_path / f"seg{n_batches}_{fanout}"),
        keys=["l_returnflag"],
        aggs={"n": ("count", "*"), "sum_qty": ("sum", "l_quantity")},
        fanout=fanout,
    )
    for i in range(n_batches):
        sv.refresh(
            spark,
            li.filter(F.pmod("l_orderkey", F.lit(n_batches)) == i),
            batch_id=f"b{i}",
        )
    segs = sv.segments()
    assert sum(s["weight"] for s in segs) == n_batches
    tiers: dict[int, int] = {}
    for s in segs:
        tiers[sv._tier(s["weight"])] = tiers.get(sv._tier(s["weight"]), 0) + 1
    assert all(n < fanout for n in tiers.values()), (n_batches, fanout, segs)
    got = {r.l_returnflag: (r.n, float(r.sum_qty)) for r in sv.read(spark).collect()}
    exp = {
        r.l_returnflag: (r.n, float(r.sum_qty))
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty"))
        .collect()
    }
    assert got == exp


def test_segmented_view_read_and_compact_enforce_spec(spark, tmp_path):
    """Review fix: the segmented read/compact RE-APPLY the merge algebra,
    so a wrong-spec instance must fail loudly there too (the flat view's
    read is a plain scan and needs no guard)."""
    from machinelearningalgomapreduce_spark.operators.matview import SegmentedAggView

    li = load_tables(spark, SMOKE_SF_DIR).lineitem
    path = str(tmp_path / "segspec")
    good = SegmentedAggView(
        path, keys=["l_returnflag"], aggs={"m": ("max", "l_quantity")}, fanout=2
    )
    good.refresh(spark, li, batch_id="b0")
    evil = SegmentedAggView(
        path, keys=["l_returnflag"], aggs={"m": ("sum", "l_quantity")}, fanout=2
    )
    with pytest.raises(ValueError, match="different spec"):
        evil.read(spark)
    with pytest.raises(ValueError, match="different spec"):
        evil.compact(spark)


def test_segmented_view_vacuum_survives_prior_stricter_vacuum(spark, tmp_path):
    """Review fix: a keep window that includes manifests removed by an
    earlier stricter vacuum must skip them, not crash."""
    sv = _seg_view(tmp_path / "segv2", fanout=2)
    for i, b in enumerate(_li_batches(spark, 5)):
        sv.refresh(spark, b, batch_id=f"b{i}")
    sv.vacuum(keep_last=1)
    sv.refresh(spark, _li_batches(spark, 5)[0], batch_id="extra")
    removed = sv.vacuum(keep_last=5)  # window spans already-removed manifests
    assert isinstance(removed, list)
    assert _frame_dict(sv.read(spark)) is not None


def test_star_rollup_dim_orphan_recovery(spark, tmp_path):
    """Review fix: a crash between the dim parquet write and the pointer
    flip leaves an orphan v{N+1} dir; the retried upsert must GC it
    instead of colliding with mode='error' forever."""
    t = load_tables(spark, SMOKE_SF_DIR)
    sv = _star_view(tmp_path / "starx")
    dim0 = t.customer.select(
        "c_custkey", "c_mktsegment", F.lit("2020-01-01").alias("ts")
    )
    sv.refresh_dim(spark, dim0, batch_id="d0")
    # simulate the crash: orphan v2 above the committed pointer (v1)
    orphan = os.path.join(sv._dim_dir, "v00000002")
    os.makedirs(os.path.join(orphan, "data.parquet"))
    assert sv._dim_version() == 1
    upd = t.customer.limit(10).select(
        "c_custkey", F.lit("MOVED").alias("c_mktsegment"), F.lit("2021-01-01").alias("ts")
    )
    assert sv.refresh_dim(spark, upd, batch_id="d1") is True
    assert sv._dim_version() == 2
    assert sv.dim(spark).filter("c_mktsegment = 'MOVED'").count() == 10


def test_export_view_snapshot_rejects_unversioned_views(spark, tmp_path):
    """Review fix: FactDimRollupView.read takes a join_type (not a
    version) and DriftMonitorView has no read at all — export must
    reject both loudly instead of mis-binding arguments."""
    from machinelearningalgomapreduce_spark.operators.matview import (
        export_view_snapshot,
    )

    star = _star_view(tmp_path / "stare")
    with pytest.raises(TypeError, match="version"):
        export_view_snapshot(spark, star, str(tmp_path / "oute"))
    drift = _drift_view(tmp_path / "drifte")
    with pytest.raises(TypeError, match="versioned read contract"):
        export_view_snapshot(spark, drift, str(tmp_path / "outd"))


def test_export_view_snapshot_cleans_orphan_shards(spark, tmp_path):
    """ADVICE r9: a crash after some shard tasks commit but before the
    manifest commit leaves orphan files in out_dir/vN. On re-entry with no
    manifest present the export must clear the target first, so the
    directory holds exactly the manifest's shards afterwards."""
    from machinelearningalgomapreduce_spark.operators.matview import (
        export_view_snapshot,
    )

    t = load_tables(spark, SMOKE_SF_DIR)
    mv = _mk_view(tmp_path / "mvo")
    b0, _, _ = _batches(t.lineitem)
    mv.refresh(spark, b0, batch_id="b0")
    out = tmp_path / "export_orphan"
    target = out / "v00000001"
    target.mkdir(parents=True)
    # realistic orphan: the sink's own write() names shards shard-*.jsonl
    (target / "shard-orphan-deadbeef.jsonl").write_text('{"stale": true}\n')

    m = export_view_snapshot(spark, mv, str(out))
    files = {p.name for p in target.iterdir()}
    assert "shard-orphan-deadbeef.jsonl" not in files
    listed = {s["path"] for s in m["shards"]}
    assert files == listed | {"manifest.json"}, (files, listed)


def test_export_view_snapshot_refuses_to_clear_foreign_directory(spark, tmp_path):
    """ADVICE r10: the orphan cleanup must not rmtree a directory that
    is NOT export debris — a mispointed out_dir (which necessarily lacks
    a manifest) raises instead of silently deleting the caller's data."""
    from machinelearningalgomapreduce_spark.operators.matview import (
        export_view_snapshot,
    )

    t = load_tables(spark, SMOKE_SF_DIR)
    mv = _mk_view(tmp_path / "mvf")
    b0, _, _ = _batches(t.lineitem)
    mv.refresh(spark, b0, batch_id="b0")
    out = tmp_path / "not_an_export"
    target = out / "v00000001"
    target.mkdir(parents=True)
    precious = target / "my_training_data.csv"
    precious.write_text("a,b\n1,2\n")

    with pytest.raises(ValueError, match="refusing to clear"):
        export_view_snapshot(spark, mv, str(out))
    assert precious.read_text() == "a,b\n1,2\n"  # untouched


def test_star_rollup_read_identical_without_broadcast_gate(spark, tmp_path, monkeypatch):
    """ADVICE r9: the star rollup's dim broadcast is size-gated. Past the
    cap (forced here) the join stays declarative and the rollup result is
    unchanged — the gate changes the physical strategy only."""
    import machinelearningalgomapreduce_spark.operators.matview as mvmod

    t = load_tables(spark, SMOKE_SF_DIR)
    fact = t.orders.select(
        "o_custkey", (F.col("o_totalprice") * 100).cast("long").alias("price_cents")
    )
    dim0 = t.customer.select("c_custkey", "c_mktsegment", F.lit("2020-01-01").alias("ts"))
    sv = _star_view(tmp_path / "star_gate")
    sv.refresh_dim(spark, dim0, batch_id="dim0")
    sv.refresh_fact(spark, fact, batch_id="f0")

    small = {tuple(r) for r in sv.read(spark).collect()}
    monkeypatch.setattr(mvmod, "_snapshot_is_small", lambda *_a, **_k: False)
    large = {tuple(r) for r in sv.read(spark).collect()}
    assert small == large and small


# ---- LeveledAggView (LSM leveled compaction policy, r10) -----------------


def _lev_view(path, fanout=3):
    from machinelearningalgomapreduce_spark.operators.matview import LeveledAggView

    return LeveledAggView(
        str(path),
        keys=["l_returnflag", "l_linestatus"],
        aggs={
            "n_rows": ("count", "*"),
            "sum_qty": ("sum", "l_quantity"),
            "max_ship": ("max", "l_shipdate"),
        },
        derive={"avg_qty": lambda s: s["sum_qty"] / s["n_rows"]},
        fanout=fanout,
    )


def test_leveled_view_equals_size_tiered_and_one_pass(spark, tmp_path):
    """10 deltas through the leveled policy ≡ the size-tiered twin ≡ a
    one-pass aggregate — the policies differ only in WHICH segments merge
    WHEN, never in the merge algebra."""
    li = load_tables(spark, SMOKE_SF_DIR).lineitem
    lev = _lev_view(tmp_path / "lev")
    tiered = _seg_view(tmp_path / "tiered")
    for i, b in enumerate(_li_batches(spark, 10)):
        assert lev.refresh(spark, b, batch_id=f"b{i}")
        tiered.refresh(spark, b, batch_id=f"b{i}")
    direct = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.max("l_shipdate").alias("max_ship"),
    )
    got = _frame_dict(lev.read(spark))
    assert got == _frame_dict(direct)
    assert got == _frame_dict(tiered.read(spark))


def test_leveled_view_invariants_and_amplification_trade(spark, tmp_path):
    """Leveled invariant after every refresh: < fanout segments at tier 0
    and AT MOST ONE resident per tier ≥ 1. Over the same 9 batches the
    leveled view must never expose MORE live segments than the
    size-tiered twin (the read-amp win it exists for), and must write at
    least as many segment files (the write-amp price)."""
    lev = _lev_view(tmp_path / "levi", fanout=3)
    tiered = _seg_view(tmp_path / "tieri", fanout=3)
    for i, b in enumerate(_li_batches(spark, 9)):
        lev.refresh(spark, b, batch_id=f"b{i}")
        tiered.refresh(spark, b, batch_id=f"b{i}")
        segs = lev.segments()
        assert sum(s["weight"] for s in segs) == i + 1
        tiers = {}
        for s in segs:
            tiers.setdefault(lev._tier(s["weight"]), []).append(s)
        assert len(tiers.get(0, [])) < lev.fanout, (i, segs)
        assert all(len(m) == 1 for t, m in tiers.items() if t >= 1), (i, segs)
        assert len(segs) <= len(tiered.segments()), (i, segs)
    # write-amp proxy: segment directories ever created (vacuum not run)
    lev_written = lev._next_seg_id() - 1
    tiered_written = tiered._next_seg_id() - 1
    assert lev_written >= tiered_written


def test_leveled_view_replay_time_travel_vacuum(spark, tmp_path):
    """The inherited machinery holds under the new policy: replayed batch
    ids are no-ops, old versions stay readable until vacuum frees them."""
    import pytest as _pytest

    lev = _lev_view(tmp_path / "levr", fanout=3)
    batches = _li_batches(spark, 4)
    for i, b in enumerate(batches):
        assert lev.refresh(spark, b, batch_id=f"b{i}")
    v_before = lev.current_version()
    assert lev.refresh(spark, batches[0], batch_id="b0") is False  # replay
    assert lev.current_version() == v_before
    old = _frame_dict(lev.read(spark, version=v_before))
    assert lev.refresh(spark, batches[0].limit(0), batch_id="b_empty")
    assert _frame_dict(lev.read(spark, version=v_before)) == old  # time travel
    removed = lev.vacuum(keep_last=1)
    assert removed
    with _pytest.raises(FileNotFoundError):
        lev.read(spark, version=1)


def test_mv_ingest_stream_compact_every_schedule(spark, tmp_path):
    """The compaction-schedule knob: refreshes stay pure O(delta) appends
    and one compact() pass runs every N applied batches. Final state must
    equal the one-pass aggregate; the deferred view may expose more live
    segments than an always-compact twin but never a different result."""
    from machinelearningalgomapreduce_spark.operators.matview import SegmentedAggView

    t = load_tables(spark, SMOKE_SF_DIR)
    src_dir = str(tmp_path / "src")
    # repartition(6): six source files → six micro-batches under
    # maxFilesPerTrigger=1
    t.events.select("user_id", "event_type", "value").repartition(6).write.parquet(src_dir)

    def mk(path):
        return SegmentedAggView(
            str(path), keys=["event_type"],
            aggs={"n": ("count", "*"), "total_cents": ("sum", "amount_cents")},
            fanout=3,
        )

    deferred, eager = mk(tmp_path / "mv_def"), mk(tmp_path / "mv_eag")
    stream = (
        spark.readStream.schema("user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("amount_cents", F.round(F.col("value") * 100).cast("long"))
    )
    q = mv_ingest_stream(spark, stream, deferred, str(tmp_path / "ck_d"), compact_every=3)
    drain(q, 420)
    q2 = mv_ingest_stream(spark, stream, eager, str(tmp_path / "ck_e"))
    drain(q2, 420)

    expected = _canon(
        spark.read.parquet(src_dir)
        .withColumn("amount_cents", F.round(F.col("value") * 100).cast("long"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amount_cents").alias("total_cents"))
    )
    assert _canon(deferred.read(spark)) == expected
    assert _canon(eager.read(spark)) == expected
    assert len(deferred.segments()) >= len(eager.segments())
    # the off-peak maintenance call finishes the job
    deferred.compact(spark)
    assert _canon(deferred.read(spark)) == expected


def test_mv_ingest_stream_compact_every_validation(spark, tmp_path):
    from machinelearningalgomapreduce_spark.operators.matview import mv_ingest_stream

    mv = _mk_view(tmp_path / "mvv")  # flat view: no compact()
    (tmp_path / "empty_src").mkdir()
    stream = spark.readStream.schema("user_id long").parquet(str(tmp_path / "empty_src"))
    with pytest.raises(TypeError, match="no compact"):
        mv_ingest_stream(spark, stream, mv, str(tmp_path / "ck"), compact_every=2)
    with pytest.raises(ValueError, match="compact_every"):
        mv_ingest_stream(spark, stream, mv, str(tmp_path / "ck"), compact_every=0)


def test_wrapper_reads_run_the_spec_guard(spark, tmp_path):
    """r10 review: a sketch wrapper constructed with a different
    width/depth must fail LOUDLY on its read path too — estimates derive
    from constructor params, so a mismatched instance would otherwise
    silently probe the wrong buckets."""
    from machinelearningalgomapreduce_spark.operators.matview import (
        FrequencySketchView,
    )

    t = load_tables(spark, SMOKE_SF_DIR)
    ev = t.events.select("event_type")
    fv = FrequencySketchView(str(tmp_path / "fs"), "event_type")
    fv.refresh(spark, ev, batch_id="b0")
    wrong = FrequencySketchView(str(tmp_path / "fs"), "event_type", width=64)
    with pytest.raises(ValueError, match="different spec"):
        wrong.cells(spark)


def test_drift_monitor_sees_null_drift(spark, tmp_path):
    """r10 review: serving data whose values go NULL post-pin is a classic
    upstream breakage — the NULL bin (−1) must participate in PSI instead
    of silently vanishing from the grid, and a no-null monitor's PSI is
    unchanged by the feature's existence."""
    from machinelearningalgomapreduce_spark.operators.matview import DriftMonitorView

    mv = DriftMonitorView(str(tmp_path / "dm"), "grp", "v", lo=0.0, hi=10.0, n_bins=5)
    ref = spark.createDataFrame(
        [("a", float(i % 10)) for i in range(100)], ["grp", "v"]
    )
    mv.refresh(spark, ref, batch_id="ref")
    mv.set_reference(spark)
    # post-pin: half the values go NULL
    broken = spark.createDataFrame(
        [("a", float(i % 10) if i % 2 == 0 else None) for i in range(100)],
        "grp string, v double",
    )
    mv.refresh(spark, broken, batch_id="serve")
    row = mv.psi(spark).collect()[0]
    assert row.band in ("drifting", "shifted"), row
    # the null bin carries the drift: without it the same serving data's
    # non-null half matches the reference shape exactly
    assert row.psi_micro > 100000  # PSI > 0.1


def test_set_reference_reclaims_superseded_snapshots(spark, tmp_path):
    import os as _os

    from machinelearningalgomapreduce_spark.operators.matview import DriftMonitorView

    mv = DriftMonitorView(str(tmp_path / "dm2"), "grp", "v", lo=0.0, hi=10.0)
    d = spark.createDataFrame([("a", 1.0), ("a", 2.0)], ["grp", "v"])
    mv.refresh(spark, d, batch_id="b0")
    mv.set_reference(spark)
    mv.refresh(spark, d, batch_id="b1")
    mv.set_reference(spark)
    refs = [n for n in _os.listdir(str(tmp_path / "dm2")) if n.startswith("_ref-v")]
    assert len(refs) == 1 and refs[0].endswith(f"{mv.reference_version():08d}")
    mv.psi(spark)  # still resolvable after the cleanup


def test_quantile_hist_estimate_empty_pcts_is_empty(spark, tmp_path):
    from machinelearningalgomapreduce_spark.operators.matview import (
        QuantileHistogramView,
    )

    t = load_tables(spark, SMOKE_SF_DIR)
    qv = QuantileHistogramView(str(tmp_path / "qh"), "o_totalprice")
    qv.refresh(spark, t.orders, batch_id="b0")
    assert qv.estimate(spark, pcts=()).count() == 0  # explicit empty ≠ defaults
    assert qv.estimate(spark).count() > 0


def test_content_key_carries_two_independent_sums(spark):
    from machinelearningalgomapreduce_spark.operators.matview import _content_key

    d1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "s"])
    d2 = spark.createDataFrame([(1, "a"), (2, "c")], ["k", "s"])
    k1, k1b, k2 = _content_key(d1), _content_key(d1), _content_key(d2)
    assert k1 == k1b and k1 != k2
    assert len(k1.split("-")) == 4  # content, n, s1, s2


def test_concurrent_version_commit_raises_instead_of_silent_drop(
    spark, tmp_path, monkeypatch
):
    """VERDICT r10 item 6: two writers racing the version counter must
    not silently drop one batch from the ledger (last pointer flip
    wins). The manifest is now created EXCLUSIVELY, so the losing commit
    raises a version-collision error and the final state equals exactly
    the winner's serialized order. Deterministic interleave: writer B
    reads a stale current_version (pinned via monkeypatch) while writer
    A commits the next version for real."""
    t = load_tables(spark, SMOKE_SF_DIR)
    b0, b1, b2 = _batches(t.lineitem)
    a = _seg_view(tmp_path / "race", fanout=99)  # no auto-compaction
    b = _seg_view(tmp_path / "race", fanout=99)
    a.refresh(spark, b0, batch_id="b0")  # v1 — both writers see it
    stale = a.current_version()
    a.refresh(spark, b1, batch_id="b1")  # A wins v2
    want = {tuple(r) for r in a.read(spark).collect()}
    monkeypatch.setattr(
        type(b), "current_version", lambda self: stale
    )  # B still believes v1
    with pytest.raises(ValueError, match="version collision"):
        b.refresh(spark, b2, batch_id="b2")
    monkeypatch.undo()
    assert b.current_version() == 2  # pointer untouched by the loser
    assert b.applied_batches() == ["b0", "b1"]  # A's ledger, nothing lost
    assert {tuple(r) for r in b.read(spark).collect()} == want


def test_crashed_commit_orphan_manifest_self_heals(spark, tmp_path, monkeypatch):
    """r11 review: a writer that crashed BETWEEN linking its manifest and
    flipping the pointer must not brick the view forever. An
    above-pointer manifest older than MANIFEST_ORPHAN_SECONDS is
    reclaimed (renamed aside) and the commit retries; a FRESH collision
    still raises (real concurrent writer)."""
    import os
    import time

    t = load_tables(spark, SMOKE_SF_DIR)
    b0, b1, b2 = _batches(t.lineitem)
    sv = _seg_view(tmp_path / "orph", fanout=99)
    sv.refresh(spark, b0, batch_id="b0")  # v1 committed
    # crashed commit: m2 exists, pointer still 1, mtime pushed stale
    orphan = sv._manifest_path(2)
    with open(orphan, "w") as f:
        f.write('{"segments": [], "batches": ["ghost"]}')
    old = time.time() - 3600
    os.utime(orphan, (old, old))
    assert sv.current_version() == 1
    assert sv.refresh(spark, b1, batch_id="b1") is True  # reclaims v2
    assert sv.current_version() == 2
    assert sv.applied_batches() == ["b0", "b1"]  # ghost ledger discarded

    # fresh above-pointer manifest = live concurrent writer → loud error
    with open(sv._manifest_path(3), "w") as f:
        f.write('{"segments": [], "batches": ["live"]}')
    with pytest.raises(ValueError, match="version collision"):
        sv.refresh(spark, b2, batch_id="b2")
    os.remove(sv._manifest_path(3))


def test_stale_committed_manifest_is_never_reclaimed(spark, tmp_path):
    """r12 ADVICE (medium): age alone must not prove orphanhood. A
    manifest that the pointer has COMMITTED stays committed even when
    >MANIFEST_ORPHAN_SECONDS old — a lagging writer whose own
    read-to-commit window exceeded 300s (long segment write) must raise
    the version collision and rebase, NOT reclaim the winner's
    acknowledged batch and rewrite history."""
    import os
    import time

    t = load_tables(spark, SMOKE_SF_DIR)
    b0, b1, _ = _batches(t.lineitem)
    sv = _seg_view(tmp_path / "committed", fanout=99)
    sv.refresh(spark, b0, batch_id="b0")  # v1 committed, pointer = 1
    committed = sv._manifest(1)
    # the committed manifest ages past the orphan horizon (normal for a
    # view refreshed less than once per 300s)
    m1 = sv._manifest_path(1)
    old = time.time() - 3600
    os.utime(m1, (old, old))
    # lagging writer derived its content from v0 → tries to commit v1
    seg = sv._write_segment(sv._partial(b1))
    with pytest.raises(ValueError, match="version collision"):
        sv._commit([seg], ["late"], base_v=0)
    # the winner's manifest survived untouched; pointer never moved
    assert sv.current_version() == 1
    assert sv._manifest(1) == committed
    assert sv.applied_batches() == ["b0"]


def test_two_racing_writers_both_land_serialized(spark, tmp_path, monkeypatch):
    """VERDICT r11 item 5: a version collision from a LIVE competing
    writer is no longer terminal — the loser waits for the winner's
    pointer flip, rebases on the committed manifest, and retries. Both
    batches must land (serialized), the ledger must carry both batch ids,
    and the state must equal one serialized order (the merge algebra is
    commutative, so both orders agree).

    The race is staged deterministically: writer B reads the empty
    manifest, and while writing its segment writer A's full refresh
    sneaks in and wins version 1 — exactly the interleaving that used to
    raise for B."""
    li = load_tables(spark, SMOKE_SF_DIR).lineitem
    da = li.filter(F.col("l_orderkey") % 2 == 0)
    db = li.filter(F.col("l_orderkey") % 2 == 1)

    a, b = _seg_view(tmp_path / "race"), _seg_view(tmp_path / "race")
    orig = type(b)._write_segment
    fired = {"done": False}

    def interleave(self, df):
        if not fired["done"]:
            fired["done"] = True
            a.refresh(spark, da, batch_id="batch-a")  # A wins version 1
        return orig(self, df)

    monkeypatch.setattr(type(b), "_write_segment", interleave)
    assert b.refresh(spark, db, batch_id="batch-b") is True
    monkeypatch.undo()

    assert b.applied_batches() == ["batch-a", "batch-b"]
    # state == one big refresh of the union (order-insensitive algebra)
    want = _seg_view(tmp_path / "ref")
    want.refresh(spark, li, batch_id="all")
    got = {
        (r.l_returnflag, r.l_linestatus, r.n_rows, r.sum_qty)
        for r in b.read(spark).collect()
    }
    assert got == {
        (r.l_returnflag, r.l_linestatus, r.n_rows, r.sum_qty)
        for r in want.read(spark).collect()
    }


def test_reclaimed_manifest_fails_post_commit_verification(spark, tmp_path):
    """r12 ADVICE: a writer paused past the orphan window between its
    manifest link and pointer flip can have its manifest swapped for a
    competitor's; the pointer flip must then fail POST-COMMIT verification
    loudly instead of silently dropping this writer's batch."""
    from machinelearningalgomapreduce_spark.operators import matview as M

    sv = _seg_view(tmp_path / "pcv")
    li = load_tables(spark, SMOKE_SF_DIR).lineitem
    sv.refresh(spark, li, batch_id="b0")  # v1 committed normally

    orig = M._write_json_durable

    def swap_after_link(path, obj, exclusive=False, **kw):
        orig(path, obj, exclusive=exclusive, **kw)
        if exclusive:
            # simulate the reclaim race: another writer replaced the
            # freshly-linked manifest with ITS OWN content
            orig(path, {"segments": obj["segments"], "batches": ["thief"]})

    M_orig = M._write_json_durable
    M._write_json_durable = swap_after_link
    try:
        with pytest.raises(ValueError, match="post-commit verification"):
            sv.refresh(spark, li, batch_id="b1")
    finally:
        M._write_json_durable = M_orig


_TWO_PROC_CHILD = r"""
import os, sys, time

view_dir, delta_path, batch_id, go_file = sys.argv[1:5]
sys.path.insert(0, {repo!r})
os.chdir(os.path.dirname(go_file))  # keep derby/warehouse dirs separate
from machinelearningalgomapreduce_spark.session import get_spark

spark = get_spark(
    app_name="race-" + batch_id, master="local[2]", shuffle_partitions=2
)
spark.conf.set("spark.sql.adaptive.enabled", "false")
from machinelearningalgomapreduce_spark.operators.matview import SegmentedAggView

sv = SegmentedAggView(
    view_dir,
    keys=["l_returnflag", "l_linestatus"],
    aggs={{"n_rows": ("count", "*"), "sum_qty": ("sum", "l_quantity")}},
    fanout=99,
)
delta = spark.read.parquet(delta_path)
deadline = time.monotonic() + 120
while not os.path.exists(go_file):  # barrier: maximize commit overlap
    if time.monotonic() > deadline:
        sys.exit(3)
    time.sleep(0.005)
ok = sv.refresh(spark, delta, batch_id=batch_id)
sys.exit(0 if ok else 4)
"""


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_two_os_process_commit_race_serializes(spark, tmp_path):
    """VERDICT r12 item 4: the r12 two-writer test interleaves within one
    process; this one races two real OS processes (separate JVMs, real
    os.link/O_EXCL semantics on a shared directory) through refresh() on
    the same SegmentedAggView. Both batches must land, serialized, and
    the state must equal a one-shot union — the single-writer-per-view
    documented mode is a deployment choice, not a correctness crutch."""
    import subprocess
    import sys as _sys

    li = load_tables(spark, SMOKE_SF_DIR).lineitem.limit(600)
    da = li.filter(F.col("l_orderkey") % 2 == 0)
    db = li.filter(F.col("l_orderkey") % 2 == 1)
    pa, pb = str(tmp_path / "da.parquet"), str(tmp_path / "db.parquet")
    da.coalesce(1).write.parquet(pa)
    db.coalesce(1).write.parquet(pb)
    view_dir = str(tmp_path / "race2p")
    go = str(tmp_path / "go")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _TWO_PROC_CHILD.format(repo=repo)
    procs = []
    for path, bid in ((pa, "proc-a"), (pb, "proc-b")):
        wd = tmp_path / f"wd-{bid}"
        wd.mkdir()
        procs.append(
            subprocess.Popen(
                [_sys.executable, "-c", script, view_dir, path, bid,
                 str(wd / os.path.basename(go))],
                env={**os.environ, "SPARK_LOCAL_IP": "127.0.0.1"},
            )
        )
    # release both barriers as close together as possible once both JVMs
    # are up (each child spins on its own go-file to avoid fs races)
    import time as _time

    _time.sleep(1)
    for bid in ("proc-a", "proc-b"):
        with open(tmp_path / f"wd-{bid}" / "go", "w") as f:
            f.write("go")
    codes = [p.wait(timeout=300) for p in procs]
    assert codes == [0, 0], f"child exit codes: {codes}"

    from machinelearningalgomapreduce_spark.operators.matview import (
        SegmentedAggView,
    )

    # same spec as the children (keys+aggs+fanout are spec-checked)
    sv = SegmentedAggView(
        view_dir,
        keys=["l_returnflag", "l_linestatus"],
        aggs={"n_rows": ("count", "*"), "sum_qty": ("sum", "l_quantity")},
        fanout=99,
    )
    assert sorted(sv.applied_batches()) == ["proc-a", "proc-b"]
    assert sv.current_version() == 2
    got = {
        (r.l_returnflag, r.l_linestatus): (r.n_rows, float(r.sum_qty))
        for r in sv.read(spark).collect()
    }
    want = {
        (r.l_returnflag, r.l_linestatus): (r.n_rows, float(r.sum_qty))
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
        )
        .collect()
    }
    assert got == want


def test_concurrent_replay_of_same_batch_reclaims_loser_segment(
    spark, tmp_path, monkeypatch
):
    """r12 review: when the rebase discovers a competitor already
    committed the SAME batch id (concurrent replay), the loser's written
    segment is referenced by no manifest — it must be reclaimed on the
    early return, not leaked until vacuum."""
    import os

    li = load_tables(spark, SMOKE_SF_DIR).lineitem
    a, b = _seg_view(tmp_path / "replay"), _seg_view(tmp_path / "replay")
    orig = type(b)._write_segment
    fired = {"done": False}

    def interleave(self, df):
        name = orig(self, df)
        if not fired["done"]:
            fired["done"] = True
            a.refresh(spark, li, batch_id="dup-batch")  # competitor wins
        return name

    monkeypatch.setattr(type(b), "_write_segment", interleave)
    assert b.refresh(spark, li, batch_id="dup-batch") is False  # replay no-op
    monkeypatch.undo()

    assert b.applied_batches() == ["dup-batch"]
    live = {s["dir"] for s in b.segments()}
    on_disk = {n for n in os.listdir(str(tmp_path / "replay")) if n.startswith("seg-")}
    assert on_disk == live, f"leaked segments: {sorted(on_disk - live)}"
