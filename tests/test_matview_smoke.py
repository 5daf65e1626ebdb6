"""Default-lane smoke test for the segmented materialized view: a read
builds its frame with no Spark job and one parquet scan, replays no-op,
and compaction preserves the one-pass rollup. The full matview battery is
in test_matview.py (slow lane)."""

from __future__ import annotations

from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.operators.matview import SegmentedAggView
from machinelearningalgomapreduce_spark.plans.inspect import scan_read_columns
from machinelearningalgomapreduce_spark.sources.catalog import load_tables
from tests.conftest import SMOKE_SF_DIR

_KEYS = ["l_returnflag", "l_linestatus"]


def _rows(df):
    return sorted(tuple(r) for r in df.select(*_KEYS, "n_rows", "sum_qty").collect())


def _jobs_while(spark, group, fn):
    """(fn(), number of Spark jobs fn launched), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_segmented_view_read_is_jobless_single_scan(spark, tmp_path):
    li = load_tables(spark, SMOKE_SF_DIR).lineitem
    batches = [li.filter(F.col("l_orderkey") % 4 == i) for i in range(4)]
    sv = SegmentedAggView(
        str(tmp_path / "sv"),
        keys=_KEYS,
        aggs={"n_rows": ("count", "*"), "sum_qty": ("sum", "l_quantity")},
        fanout=3,
    )
    for i, b in enumerate(batches[:3]):
        assert sv.refresh(spark, b, batch_id=f"b{i}", compact=False) is True
    assert len(sv.segments()) == 3

    df, jobs = _jobs_while(spark, "matview-smoke-read", lambda: sv.read(spark))
    assert jobs == 0
    assert len(scan_read_columns(df)) == 1

    assert sv.refresh(spark, batches[1], batch_id="b1") is False

    assert sv.compact(spark) == 1
    # the compacted segment (nullable sums) and a fresh count partial
    # (NOT NULL count) still read as one scan
    assert sv.refresh(spark, batches[3], batch_id="b3", compact=False) is True
    assert [s["weight"] for s in sv.segments()] == [3, 1]
    got = sv.read(spark)
    assert len(scan_read_columns(got)) == 1
    want = li.groupBy(*_KEYS).agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("l_quantity").alias("sum_qty")
    )
    assert _rows(got) == _rows(want)
