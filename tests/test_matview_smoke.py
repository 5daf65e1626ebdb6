"""Smoke tests for the segmented materialized view: a read builds its
frame with no Spark job and one parquet scan, replays no-op, compaction
preserves the one-pass rollup, and an append writes the partial aggregate
as its own exchange partitioned it. The full matview battery is in
test_matview.py."""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.operators.matview import SegmentedAggView
from machinelearningalgomapreduce_spark.plans.inspect import scan_read_columns
from machinelearningalgomapreduce_spark.sources.catalog import load_tables
from tests.conftest import SMOKE_SF_DIR, conf_scope, jobs_while

_KEYS = ["l_returnflag", "l_linestatus"]


def _rows(df):
    return sorted(tuple(r) for r in df.select(*_KEYS, "n_rows", "sum_qty").collect())


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

    df, jobs = jobs_while(spark, "matview-smoke-read", lambda: sv.read(spark))
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


def test_segment_write_keeps_the_aggregate_partitioning(spark, tmp_path):
    # The session width is pinned to 4 shuffle partitions: at 8, Spark
    # would plan away a repartition to 8 key buckets as redundant with the
    # aggregate's own exchange, so no layout could be told apart. A 1-byte
    # minimum partition size keeps AQE from coalescing the small delta
    # into one file, so the key-disjointness check has several files.
    li = load_tables(spark, SMOKE_SF_DIR).lineitem
    delta = li.filter(F.col("l_orderkey") % 2 == 0)
    aggs = {"n_rows": ("count", "*"), "sum_qty": ("sum", "l_quantity")}
    sv = SegmentedAggView(str(tmp_path / "sv"), keys=["l_orderkey"], aggs=aggs)
    with conf_scope(spark, {
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
    }):
        fresh, jobs = jobs_while(
            spark, "matview-smoke-append",
            lambda: sv.refresh(spark, delta, batch_id="b0", compact=False),
        )
    assert fresh is True
    # the partial aggregate's map stage, then the write: no second exchange
    assert jobs == 2

    seg = tmp_path / "sv" / sv.segments()[0]["dir"] / "data.parquet"
    files = sorted(seg.glob("part-*.parquet"))
    assert len(files) > 1
    tables = [pq.read_table(f) for f in files]
    keys = [set(t.column("l_orderkey").to_pylist()) for t in tables]
    assert sum(map(len, keys)) == len(set().union(*keys))  # each key in one file

    got = sorted(
        (r["l_orderkey"], r["n_rows"], r["sum_qty"])
        for t in tables for r in t.to_pylist()
    )
    want = delta.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("l_quantity").alias("sum_qty")
    )
    assert got == sorted(tuple(r) for r in want.collect())
