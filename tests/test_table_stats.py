"""Plan-by-measured-size: catalog.table_stats and the gates that read it.

Every tier-gated plan choice compares a Parquet-footer row count with a
named bound, so a directory's NAME never picks the plan: a mislabeled
directory must not force a small-tier plan onto big data, and an
unlabeled small directory must still get the small-tier plans. Plan-only
tests — nothing here executes a query.
"""

from __future__ import annotations

import math
import os

import pytest

from machinelearningalgomapreduce_spark.plans import inspect as P
from machinelearningalgomapreduce_spark.sources.catalog import TABLES, table_stats
from tests.conftest import SMOKE_SF_DIR, conf_scope, jobs_while


def _linked_dir(tmp_path, name: str) -> str:
    """`name`/ holding symlinks to every table of the smallest fixture."""
    d = tmp_path / name
    d.mkdir()
    for f in os.listdir(SMOKE_SF_DIR):
        os.symlink(os.path.join(SMOKE_SF_DIR, f), d / f)
    return str(d)


def test_table_stats_rows_match_spark_count(spark):
    stats = table_stats(spark, SMOKE_SF_DIR)
    assert set(stats) == set(TABLES)
    for name in TABLES:
        path = os.path.join(SMOKE_SF_DIR, f"{name}.parquet")
        assert stats[name].rows == spark.read.parquet(path).count(), name


def test_table_stats_reads_spark_part_directories(spark, tmp_path):
    """A Spark-written table is a directory of part files plus _SUCCESS
    and .crc side files; only the parts count. A table that is absent
    (or otherwise unreadable) counts as unbounded."""
    src = os.path.join(SMOKE_SF_DIR, "orders.parquet")
    out = tmp_path / "orders.parquet"
    spark.read.parquet(src).repartition(3).write.parquet(str(out))
    names = os.listdir(out)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    stats = table_stats(spark, str(tmp_path))
    assert stats["orders"].rows == spark.read.parquet(str(out)).count() == 1500
    assert math.isinf(stats["lineitem"].rows)


def test_table_stats_launches_no_jobs(spark, tmp_path):
    d = _linked_dir(tmp_path, "fresh")  # unseen path: not memoized yet
    stats, jobs = jobs_while(spark, "table_stats", lambda: table_stats(spark, d))
    assert jobs == 0
    assert stats["embeddings"].rows == 500


def test_mislabeled_dir_does_not_get_small_tier_plans(spark, tmp_path, monkeypatch):
    """A directory NAMED like the smallest tier whose tables measure above
    the bounds (bounds lowered below the fixture's row counts) plans the
    at-scale shapes: cell-pruned top-k, blocked dedup, wedge-closure
    triangles with no adjacency broadcast."""
    from machinelearningalgomapreduce_spark.operators import graph, similarity
    from machinelearningalgomapreduce_spark.operators.dedup import q_dedup_embedding

    d = _linked_dir(tmp_path, "sf0.001")
    monkeypatch.setattr(similarity, "BRUTE_MAX_ROWS", 100)  # 500 embeddings
    monkeypatch.setattr(graph, "TRIANGLE_BCAST_MAX_ROWS", 1000)  # 6000 lineitem
    assert "cluster" in P.formatted_plan(similarity.q_sim_topk(spark, d))
    with pytest.warns(UserWarning, match="approximate blocked path"):
        blocked = q_dedup_embedding(spark, d)
    assert "cell" in P.formatted_plan(blocked)
    tri = P.formatted_plan(graph.q_triangle_count(spark, d))
    assert "nbrs" not in tri and "array_intersect" not in tri


def test_unlabeled_small_dir_gets_small_tier_plans(spark, tmp_path):
    """A small corpus in a directory whose name says nothing about scale
    gets every small-tier plan the fixture tier gets."""
    from machinelearningalgomapreduce_spark.operators.graph import q_triangle_count
    from machinelearningalgomapreduce_spark.operators.similarity import q_sim_topk
    from machinelearningalgomapreduce_spark.operators.text import q_wordcount
    from machinelearningalgomapreduce_spark.operators.tpch import q_large_orders

    d = _linked_dir(tmp_path, "mycorpus")
    assert "cluster" not in P.formatted_plan(q_sim_topk(spark, d))  # brute
    assert "nbrs" in P.formatted_plan(q_triangle_count(spark, d))  # adjacency
    # with size-based auto-broadcast off, only the gate's hint broadcasts
    with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        assert P.count_broadcast_joins(q_large_orders(spark, d)) >= 1
    assert P.count_exchanges(q_wordcount(spark, d)) == 1  # pre-partitioned
