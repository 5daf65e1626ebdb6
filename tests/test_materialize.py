"""One way to materialize a reused frame: functions/storage.py::materialize_once.

- The package checkpoints only inside the helper, caches only the bench
  tier's input tables, and never persists (an AST walk of the source).
- No library loop leaves an entry in the session-wide CacheManager, so a
  later query's plan does not depend on which loop ran before it.
- With Spark's ``spark.checkpoint.dir`` set, a materialized frame survives
  losing the executor that computed it; without it, the read fails.

The two Spark checks run in a fresh interpreter: the CacheManager is
shared by every session of the pytest process, and the executor-loss
check needs its own ``local-cluster`` master.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "machinelearningalgomapreduce_spark")


def _calls(names):
    """(module path relative to the package, enclosing function, call name)
    for every call of an attribute or function named in ``names``."""
    found = []
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            tree = ast.parse(open(path).read())
            rel = os.path.relpath(path, PKG)

            def visit(node, fn):
                for child in ast.iter_child_nodes(node):
                    if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        visit(child, child.name)
                        continue
                    if isinstance(child, ast.Call):
                        f = child.func
                        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                        if name in names:
                            found.append((rel, fn, name))
                    visit(child, fn)

            visit(tree, None)
    return sorted(found)


def test_materialization_calls_only_in_materialize_once():
    helper = os.path.join("functions", "storage.py")
    assert _calls({"localCheckpoint", "checkpoint"}) == [
        (helper, "materialize_once", "checkpoint"),
        (helper, "materialize_once", "localCheckpoint"),
    ]
    # The bench tier's input cache relies on CacheManager matching scans;
    # it is the one cache() the package keeps.
    assert _calls({"cache"}) == [(os.path.join("sources", "catalog.py"), "load_tables", "cache")]
    assert _calls({"persist", "unpersist"}) == []


def _run(script: str, *args: str) -> dict:
    """Run ``script`` in a fresh interpreter at the repo root; it prints
    one JSON object as its last stdout line."""
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script), *args],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


LEAK_SCRIPT = """
    import json, sys
    from machinelearningalgomapreduce_spark.session import ensure_query_conf, get_spark
    from machinelearningalgomapreduce_spark.operators import graph, ml, similarity

    SF = sys.argv[1]
    spark = get_spark(app_name="materialize-leak", master="local[2]", shuffle_partitions=4)
    ensure_query_conf(spark)
    spark.sparkContext.setLogLevel("ERROR")
    graph.pagerank_iterate(spark, SF, n_iter=3).collect()
    edges = graph._edges(spark, SF)
    graph.personalized_pagerank(edges, [edges.first()["src"]], n_iter=3).collect()
    ml.kmeans_iterate(spark, SF, n_iter=2).collect()
    similarity.pq_fit(spark, SF, n_iter=2)[0].collect()

    def cached_plan(df):
        return df._jdf.queryExecution().withCachedData().toString()

    print(json.dumps({
        "cache_empty": spark._jsparkSession.sharedState().cacheManager().isEmpty(),
        "q_pagerank": "InMemoryRelation" in cached_plan(graph.q_pagerank(spark, SF)),
        "q_kmeans_recompute": "InMemoryRelation" in cached_plan(ml.q_kmeans_recompute(spark, SF)),
    }))
"""


def test_library_loops_leave_no_session_cache(sf_dir):
    """pagerank, personalized pagerank, k-means and PQ training leave the
    CacheManager empty, and the queries that share their subtrees plan
    against the source tables, not against a loop's leftover cache."""
    got = _run(LEAK_SCRIPT, sf_dir)
    assert got == {"cache_empty": True, "q_pagerank": False, "q_kmeans_recompute": False}


LOSS_SCRIPT = """
    import json, sys, time
    from pyspark.sql import SparkSession, functions as F
    from machinelearningalgomapreduce_spark.functions.storage import materialize_once

    ckpt_dir = sys.argv[1] or None
    builder = (
        SparkSession.builder.master("local-cluster[2,1,1024]")
        .appName("materialize-executor-loss")
        .config("spark.task.maxFailures", "2")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    if ckpt_dir:
        builder = builder.config("spark.checkpoint.dir", ckpt_dir)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("OFF")
    status = sc._jsc.sc().statusTracker()
    deadline = time.time() + 120
    while len(status.getExecutorInfos()) < 3 and time.time() < deadline:  # driver + 2
        time.sleep(0.5)

    agg = spark.range(200000).groupBy((F.col("id") % 97).alias("k")).agg(F.sum("id").alias("s"))
    sc.setJobGroup("materialize", "materialize")
    frame = materialize_once(agg)
    jobs = len(sc.statusTracker().getJobIdsForGroup("materialize"))
    ids = sc._jsc.sc().getExecutorIds()
    sc._jsc.sc().killExecutor(ids.apply(0))
    time.sleep(5)
    try:
        rows = frame.collect()
        out = {"ok": True, "rows": len(rows), "sum": sum(r["s"] for r in rows)}
    except Exception as e:  # noqa: BLE001 - the failure is the result
        out = {"ok": False, "error": type(e).__name__}
    out["materialize_jobs"] = jobs
    print(json.dumps(out))
"""


def test_checkpoint_dir_survives_executor_loss(tmp_path):
    """With spark.checkpoint.dir set, the materialized aggregate reads back
    exactly after the executor that computed part of it is killed; the
    durable path launches one job, like the local one."""
    got = _run(LOSS_SCRIPT, str(tmp_path / "ckpt"))
    assert got == {"ok": True, "rows": 97, "sum": 19_999_900_000, "materialize_jobs": 1}


def test_local_blocks_die_with_their_executor():
    """Without a checkpoint directory the blocks live on the executors
    that computed them: killing one fails the next read."""
    got = _run(LOSS_SCRIPT, "")
    assert got["ok"] is False and got["error"] == "Py4JJavaError", got
