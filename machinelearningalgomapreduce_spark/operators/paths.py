"""Graph traversal (SURVEY.md §2C graph tier): BFS frontier expansion —
the shortest-path kernel every iterative MapReduce graph job is built on
(frontier = this round's keys, expansion = one edge join, dedup = anti-join
against the visited set).

The checked query runs exactly TWO rounds (SQL-expressible, so the DuckDB
oracle can verify it); `bfs_levels` below is the general driver loop with
the same per-round body — the pagerank_iterate pattern applied to
reachability.

Scale notes: each round is one equi-join of the frontier against the edge
list (shuffle keyed on node id — never the whole graph state) plus an
anti-join against the visited set. Frontier size is the working set; at
100 TB the visited set lives as a bucketed table so the anti-join is
co-located. Unreached nodes are reported, not silently dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.functions.storage import materialize_once
from machinelearningalgomapreduce_spark.operators.graph import _copurchase_edges

BFS_SEED_MOD = 500  # p_partkey % 500 == 0 → seed node


def _undirected(edges: DataFrame) -> DataFrame:
    # unionByName discipline (the min_label_clusters r11 lesson): a
    # caller frame in (v, u) physical order — what a string-key join
    # produces — would positionally swap endpoints in one branch.
    edges = edges.select("u", "v")
    return edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def bfs_levels(spark: SparkSession, sf_dir: str, n_rounds: int = 2) -> DataFrame:
    """Per-node BFS distance (≤ n_rounds) from the seed set over the
    undirected co-purchase graph; returns (node, dist). Library API — the
    general loop; the fixed 2-round form is the oracle-checked query."""
    edges = materialize_once(_undirected(_copurchase_edges(spark, sf_dir)))
    nodes = edges.select(F.col("u").alias("node")).distinct()
    visited = nodes.filter(F.col("node") % BFS_SEED_MOD == 0).select(
        "node", F.lit(0).alias("dist")
    )
    frontier = visited.select("node")
    for r in range(1, n_rounds + 1):
        nxt = (
            edges.join(frontier, edges.u == frontier.node)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        visited = visited.union(nxt.select("node", F.lit(r).alias("dist")))
        frontier = nxt
    return visited


def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two BFS rounds from the seed parts, rolled up per distance —
    dist 0 (seeds), 1, 2, and -1 for nodes unreached within two rounds.
    Exact integer set algebra end to end (joins + anti-joins + counts)."""
    edges = materialize_once(_undirected(_copurchase_edges(spark, sf_dir)))
    nodes = edges.select(F.col("u").alias("node")).distinct()
    l0 = nodes.filter(F.col("node") % BFS_SEED_MOD == 0)
    l1 = (
        edges.join(l0, edges.u == l0.node)
        .select(F.col("v").alias("node"))
        .distinct()
        .join(l0, "node", "left_anti")
    )
    l2 = (
        edges.join(l1, edges.u == l1.node)
        .select(F.col("v").alias("node"))
        .distinct()
        .join(l0, "node", "left_anti")
        .join(l1, "node", "left_anti")
    )
    reached = (
        l0.select("node", F.lit(0).alias("dist"))
        .union(l1.select("node", F.lit(1).alias("dist")))
        .union(l2.select("node", F.lit(2).alias("dist")))
    )
    unreached = nodes.join(reached.select("node"), "node", "left_anti").select(
        "node", F.lit(-1).alias("dist")
    )
    return (
        reached.union(unreached)
        .groupBy("dist")
        .agg(F.count("*").alias("n_nodes"))
    )


def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected weighted co-purchase edges: w = max(1, 10 − co-count),
    so strongly co-purchased pairs are CHEAP to traverse. Exact integers
    (distinct-order counts), deterministic in both engines."""
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    t = load_tables(spark, sf_dir)
    # One shared l_orderkey exchange for dedup + self-join (r16 — the
    # _copurchase_edges shape; measured 1.53 → 0.69 s on the unweighted
    # analog at sf0.1).
    parts = (
        t.lineitem.select("l_orderkey", "l_partkey")
        .repartition(F.col("l_orderkey"))
        .dropDuplicates()
    )
    a, b = parts.alias("a"), parts.alias("b")
    weighted = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.greatest(F.lit(1), F.lit(10) - F.count("*")).alias("w"))
    )
    return weighted.union(
        weighted.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )


def _relax(dist: DataFrame, edges: DataFrame) -> DataFrame:
    """One Bellman-Ford relaxation: dist'(v) = min(dist(v), min over
    in-edges (dist(u) + w)). One equi-join keyed on node + one min
    aggregate — the per-round O(m) shape of every weighted-SSSP
    MapReduce job."""
    cand = (
        edges.join(dist, edges.u == dist.node)
        .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
    )
    return (
        dist.unionByName(cand)
        .groupBy("node")
        .agg(F.min("dist").alias("dist"))
    )


def sssp_iterate(spark: SparkSession, sf_dir: str, max_rounds: int = 20) -> DataFrame:
    """Weighted single-source-set shortest paths to convergence (library
    API): Bellman-Ford rounds until the (count, Σdist) pair stops moving —
    exact integer convergence detection, the bfs_levels/pagerank_iterate
    loop discipline (materialize_once lineage truncation, O(1) driver
    state). Returns (node, dist) for reached nodes."""
    edges = materialize_once(_weighted_edges(spark, sf_dir))
    dist = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .filter(F.col("node") % BFS_SEED_MOD == 0)
        .select("node", F.lit(0).cast("bigint").alias("dist"))
    )
    prev = None
    for _ in range(max_rounds):
        dist = materialize_once(_relax(dist, edges))
        row = dist.agg(F.count("*").alias("n"), F.sum("dist").alias("s")).collect()[0]
        cur = (row.n, row.s)
        if cur == prev:
            return dist
        prev = cur
    raise RuntimeError(f"sssp_iterate: not converged within {max_rounds} rounds")


def q_sssp_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO Bellman-Ford relaxation rounds from the seed parts over the
    weighted co-purchase graph (the SQL-expressible prefix of
    sssp_iterate), rolled up as (dist, n_nodes) with unreached = −1.
    All-integer arithmetic end to end; the weighted sibling of
    q_bfs_levels."""
    edges = materialize_once(_weighted_edges(spark, sf_dir))
    nodes = edges.select(F.col("u").alias("node")).distinct()
    dist = nodes.filter(F.col("node") % BFS_SEED_MOD == 0).select(
        "node", F.lit(0).cast("bigint").alias("dist")
    )
    dist = _relax(_relax(dist, edges), edges)
    unreached = nodes.join(dist.select("node"), "node", "left_anti").select(
        "node", F.lit(-1).cast("bigint").alias("dist")
    )
    return dist.unionByName(unreached).groupBy("dist").agg(
        F.count("*").alias("n_nodes")
    )


QUERIES = {"q_bfs_levels": q_bfs_levels, "q_sssp_step": q_sssp_step}

_EDGE_CTES = """parts AS MATERIALIZED (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), dir_edges AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM parts a JOIN parts b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ), edges AS MATERIALIZED (
            SELECT u, v FROM dir_edges
            UNION ALL
            SELECT v AS u, u AS v FROM dir_edges
        )"""
# MATERIALIZED (r15, VERDICT r14 item 4): DuckDB 1.0 inlines plain CTEs per
# reference, so the ~1.6e8-pair co-order join was recomputed for every l1/l2
# frontier reference at the 10x tier and the oracle blew a 27-min cap. The
# hint computes the pair graph ONCE per statement — the single-statement
# analog of "pre-materialize the pair graph as a temp table". Purely
# physical: results are byte-identical, and the sf0.01 driver gate keeps
# passing (re-checked r15). The frontier NOT INs are NOT EXISTS (hash
# anti-joins) for the same reason; node is non-null so semantics match.
# NB: oracle SQL must never contain `--` comments — the harness collapses
# the string to one line, and a comment swallows the rest of the query.

ORACLES = {
    "q_bfs_levels": f"""
        WITH {_EDGE_CTES},
        nodes AS MATERIALIZED (
            SELECT DISTINCT u AS node FROM edges
        ), l0 AS MATERIALIZED (
            SELECT node FROM nodes WHERE node % {BFS_SEED_MOD} = 0
        ), l1 AS MATERIALIZED (
            SELECT DISTINCT e.v AS node
            FROM edges e JOIN l0 ON e.u = l0.node
            WHERE NOT EXISTS (SELECT 1 FROM l0 x WHERE x.node = e.v)
        ), l2 AS MATERIALIZED (
            SELECT DISTINCT e.v AS node
            FROM edges e JOIN l1 ON e.u = l1.node
            WHERE NOT EXISTS (SELECT 1 FROM l0 x WHERE x.node = e.v)
              AND NOT EXISTS (SELECT 1 FROM l1 y WHERE y.node = e.v)
        ), reached AS MATERIALIZED (
            SELECT node, 0 AS dist FROM l0
            UNION ALL SELECT node, 1 FROM l1
            UNION ALL SELECT node, 2 FROM l2
        ), allnodes AS (
            SELECT r.node, r.dist FROM reached r
            UNION ALL
            SELECT n.node, -1 AS dist FROM nodes n
            WHERE NOT EXISTS (SELECT 1 FROM reached x WHERE x.node = n.node)
        )
        SELECT dist, count(*) AS n_nodes FROM allnodes GROUP BY dist
    """,
    "q_sssp_step": f"""
        WITH parts AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), wdir AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v,
                   greatest(1, 10 - count(*)) AS w
            FROM parts a JOIN parts b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        ), edges AS (
            SELECT u, v, w FROM wdir
            UNION ALL
            SELECT v AS u, u AS v, w FROM wdir
        ), nodes AS (
            SELECT DISTINCT u AS node FROM edges
        ), d0 AS (
            SELECT node, CAST(0 AS BIGINT) AS dist
            FROM nodes WHERE node % {BFS_SEED_MOD} = 0
        ), d1 AS (
            SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
                SELECT node, dist FROM d0
                UNION ALL
                SELECT e.v AS node, d0.dist + e.w AS dist
                FROM edges e JOIN d0 ON e.u = d0.node)
            GROUP BY node
        ), d2 AS (
            SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
                SELECT node, dist FROM d1
                UNION ALL
                SELECT e.v AS node, d1.dist + e.w AS dist
                FROM edges e JOIN d1 ON e.u = d1.node)
            GROUP BY node
        ), allnodes AS (
            SELECT node, dist FROM d2
            UNION ALL
            SELECT n.node, CAST(-1 AS BIGINT) AS dist FROM nodes n
            WHERE n.node NOT IN (SELECT node FROM d2)
        )
        SELECT dist, count(*) AS n_nodes FROM allnodes GROUP BY dist
    """,
}
