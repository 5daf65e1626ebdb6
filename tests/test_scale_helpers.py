"""Scale-path helpers: salted join equivalence, iterative k-means loop,
approx-percentile twin, canopy coverage."""

from __future__ import annotations

import pytest

# Scale-probe lane (~minutes): slow-marked, run with -m slow (pytest.ini r16).
pytestmark = pytest.mark.slow

from pyspark.sql import Row
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.functions.joins import salted_join
from machinelearningalgomapreduce_spark.sources.catalog import load_tables


def test_salted_join_matches_plain_join(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    big = t.orders.withColumnRenamed("o_custkey", "c_custkey")
    small = t.customer
    plain = big.join(small, "c_custkey").count()
    salted = salted_join(big, small, "c_custkey", n_salts=4).count()
    assert salted == plain


def test_salted_join_skewed_key(spark):
    # One hot key with 1000 rows — exactly the case AQE/salting exists for.
    big = spark.range(1000).select(F.lit(1).alias("k"), F.col("id"))
    small = spark.createDataFrame([Row(k=1, name="hot"), Row(k=2, name="cold")])
    out = salted_join(big, small, "k", n_salts=8)
    assert out.count() == 1000
    assert out.columns == ["k", "id", "name"]


def test_salted_join_left_keeps_unmatched(spark):
    big = spark.createDataFrame([Row(k=1, v=10), Row(k=3, v=30)])
    small = spark.createDataFrame([Row(k=1, name="a")])
    rows = {r.k: r.name for r in salted_join(big, small, "k", n_salts=4, how="left").collect()}
    assert rows == {1: "a", 3: None}


def test_kmeans_iterate_converges_shape(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators.ml import kmeans_iterate

    cents = kmeans_iterate(spark, sf_dir, n_iter=3).collect()
    assert 1 <= len(cents) <= 10  # clusters may empty out, never exceed k
    for r in cents:
        assert len(r.centroid) == 64


def _wcss(spark, sf_dir, cents_df) -> float:
    from machinelearningalgomapreduce_spark.operators.ml import assign_nearest

    emb = load_tables(spark, sf_dir).embeddings.select(
        "vec_id", "embedding", F.lit(0).alias("label")
    )
    assigned = assign_nearest(emb, cents_df)
    return assigned.agg(F.sum("dist2")).first()[0]


def test_kmeans_iterations_do_not_increase_wcss(spark, sf_dir):
    # Lloyd's algorithm is monotone: within-cluster sum of squares must not
    # increase across iterations (tiny slack for the 1e-6 centroid rounding).
    from machinelearningalgomapreduce_spark.operators.ml import kmeans_iterate, label_centroids

    emb = load_tables(spark, sf_dir).embeddings
    w0 = _wcss(spark, sf_dir, label_centroids(emb))
    w2 = _wcss(spark, sf_dir, kmeans_iterate(spark, sf_dir, n_iter=2))
    assert w2 <= w0 * (1 + 1e-6)


def test_percentiles_approx_close_to_exact(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators.stats import (
        percentiles_approx,
        q_percentiles,
    )

    exact = {r.event_type: r.p50 for r in q_percentiles(spark, sf_dir).collect()}
    approx = {
        r.event_type: r.p50
        for r in percentiles_approx(load_tables(spark, sf_dir).events).collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) <= max(0.05 * abs(v), 0.5), k


def test_canopy_every_center_covers_itself(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators.ml import CANOPY_STRIDE, q_canopy

    out = q_canopy(spark, sf_dir)
    self_rows = out.filter(
        (F.col("vec_id") == F.col("canopy_id")) & (F.col("dist2") == 0.0)
    ).count()
    n_centers = (
        load_tables(spark, sf_dir)
        .embeddings.filter(F.col("vec_id") % CANOPY_STRIDE == 0)
        .count()
    )
    assert self_rows == n_centers


def test_bfs_levels_loop_matches_checked_query(spark, sf_dir):
    """The general bfs_levels loop at n_rounds=2 must produce exactly the
    per-distance counts the oracle-checked q_bfs_levels reports (minus the
    unreached bucket, which the loop leaves out of its frontier state)."""
    from machinelearningalgomapreduce_spark.operators.paths import bfs_levels, q_bfs_levels

    loop = {
        r.dist: r.n
        for r in bfs_levels(spark, sf_dir, n_rounds=2)
        .groupBy("dist")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    checked = {
        r.dist: r.n_nodes for r in q_bfs_levels(spark, sf_dir).collect() if r.dist >= 0
    }
    assert loop == checked


def test_bfs_levels_monotone_frontiers(spark, sf_dir):
    """More rounds never shrink the reached set, and each node appears
    exactly once (min-dist semantics)."""
    from machinelearningalgomapreduce_spark.operators.paths import bfs_levels

    v2 = bfs_levels(spark, sf_dir, n_rounds=2)
    v3 = bfs_levels(spark, sf_dir, n_rounds=3)
    assert v3.count() >= v2.count()
    assert v2.select("node").distinct().count() == v2.count()


# ------------------------------------------------- distributed total order

def _ltv(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return t.orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("ltv"),
        F.count("*").alias("n_orders"),
    )


def test_distributed_rank_matches_global_window(spark, sf_dir):
    """distributed_rank is bit-identical to the single-window row_number —
    the exactness claim that lets it replace q_gini/q_customer_segments'
    global windows at scale."""
    from pyspark.sql.window import Window as W

    from machinelearningalgomapreduce_spark.functions.ranking import distributed_rank

    ltv = _ltv(spark, sf_dir)
    w = W.orderBy("ltv", "o_custkey")
    want = {r.o_custkey: r.i for r in ltv.withColumn("i", F.row_number().over(w)).collect()}
    got = {
        r.o_custkey: r.i
        for r in distributed_rank(ltv, ["ltv", "o_custkey"], n_partitions=8).collect()
    }
    assert got == want
    # The frame itself is range-partitioned, never funneled to one task.
    plan = distributed_rank(ltv, ["ltv", "o_custkey"], n_partitions=8)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan


def test_distributed_ntile_matches_window_ntile(spark, sf_dir):
    """Exact NTILE semantics (first n%k buckets one row larger) from the
    distributed rank — per-customer segment assignments identical to the
    global-window form q_customer_segments uses."""
    from pyspark.sql.window import Window as W

    from machinelearningalgomapreduce_spark.functions.ranking import distributed_ntile

    ltv = _ltv(spark, sf_dir)
    w = W.orderBy(F.desc("ltv"), "o_custkey")
    want = {r.o_custkey: r.segment for r in ltv.withColumn("segment", F.ntile(4).over(w)).collect()}
    got = {
        r.o_custkey: r.segment
        for r in distributed_ntile(ltv, 4, [F.desc("ltv"), "o_custkey"], n_partitions=8).collect()
    }
    assert got == want


def test_distributed_ntile_uneven_buckets(spark):
    """n=10, k=4 -> bucket sizes [3, 3, 2, 2], big buckets first (the case
    a floor((i-1)*k/n) shortcut gets wrong)."""
    from machinelearningalgomapreduce_spark.functions.ranking import distributed_ntile

    df = spark.range(1, 11).select(F.col("id").alias("v"))
    out = distributed_ntile(df, 4, ["v"], n_partitions=3)
    sizes = {r.segment: r.n for r in out.groupBy("segment").agg(F.count("*").alias("n")).collect()}
    assert sizes == {1: 3, 2: 3, 3: 2, 4: 2}


def test_gini_distributed_bit_identical_to_checked_query(spark, sf_dir):
    """The shipped scale path for q_gini: same DECIMAL accumulation, same
    rounding, rank from distributed_rank — output rows must be equal."""
    from machinelearningalgomapreduce_spark.functions.ranking import gini_distributed
    from machinelearningalgomapreduce_spark.operators.stats import q_gini

    ltv = _ltv(spark, sf_dir).select("o_custkey", "ltv")
    got = gini_distributed(ltv, n_partitions=8).collect()
    want = q_gini(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_quantile_cutpoint_segments_balanced_and_ordered(spark, sf_dir):
    """The approximate segmentation twin: every row assigned exactly one
    segment in [1, k], segment value bands are disjoint and descending
    (segment 1 = highest), and sizes are within 25% of n/k on the fixture."""
    from machinelearningalgomapreduce_spark.functions.ranking import (
        segment_by_quantile_cutpoints,
    )

    ltv = _ltv(spark, sf_dir)
    k = 4
    seg = segment_by_quantile_cutpoints(ltv, "ltv", k)
    n = ltv.count()
    assert seg.count() == n
    rollup = {
        r.segment: r
        for r in seg.groupBy("segment")
        .agg(F.count("*").alias("n"), F.min("ltv").alias("lo"), F.max("ltv").alias("hi"))
        .collect()
    }
    assert set(rollup) == set(range(1, k + 1))
    for s in range(1, k):
        assert rollup[s].lo >= rollup[s + 1].hi  # descending, non-overlapping bands
    for s, r in rollup.items():
        assert abs(r.n - n / k) <= 0.25 * n / k, (s, r.n, n)


def test_sim_topk_routes_to_cell_plan_above_brute_bound(spark, sf_dir, monkeypatch):
    """VERDICT r4 item 5: the O(n²) brute pair scan must REFUSE to run
    above BRUTE_MAX_ROWS embeddings and route to the cell-pruned plan —
    enforced by code, not docstrings. The brute plan never mentions the
    quantizer; the cell plan joins on it."""
    from machinelearningalgomapreduce_spark.operators import similarity
    from machinelearningalgomapreduce_spark.operators.similarity import q_sim_topk
    from machinelearningalgomapreduce_spark.plans import inspect as P

    brute_plan = P.formatted_plan(q_sim_topk(spark, sf_dir))
    assert "cluster" not in brute_plan  # fixture tier: exact brute baseline

    monkeypatch.setattr(similarity, "BRUTE_MAX_ROWS", 100)  # 500 embeddings now over
    cell_df = q_sim_topk(spark, sf_dir)
    cell_plan = P.formatted_plan(cell_df)
    assert "cluster" in cell_plan  # routed: candidates must share a cell
    assert cell_df.columns == ["id_a", "id_b", "cos_sim"]  # same contract
    assert cell_df.count() > 0


def test_dedup_embedding_routes_to_cell_plan_above_brute_bound(spark, sf_dir, monkeypatch):
    from machinelearningalgomapreduce_spark.operators import similarity
    from machinelearningalgomapreduce_spark.operators.dedup import (
        embedding_dedup_blocked,
        q_dedup_embedding,
    )
    from machinelearningalgomapreduce_spark.plans import inspect as P

    brute_plan = P.formatted_plan(q_dedup_embedding(spark, sf_dir))
    assert "cluster" not in brute_plan and "cell" not in brute_plan

    monkeypatch.setattr(similarity, "BRUTE_MAX_ROWS", 100)  # 500 embeddings now over
    with pytest.warns(UserWarning, match="approximate blocked path"):
        routed = q_dedup_embedding(spark, sf_dir)
    assert "cell" in P.formatted_plan(routed)
    # Routed result IS the learned-cell blocked path's result (r11: the
    # SemDeDup-style composition — recall 1.0 vs brute on the fixtures —
    # replaced the label-cell variant as the big-tier route).
    got = {tuple(r) for r in routed.collect()}
    want = {tuple(r) for r in embedding_dedup_blocked(spark, sf_dir).collect()}
    assert got == want


def test_sim_ann_second_probe_strictly_improves_recall(spark):
    """VERDICT r4 item 6: nprobe=2 must buy recall the single-cell probe
    does not have, measured against the exact brute-force top-k at sf0.01
    (the fixture where the 1-probe recall gap is known)."""
    from pyspark.sql.window import Window as W

    from machinelearningalgomapreduce_spark.functions.vectors import dot, norm
    from machinelearningalgomapreduce_spark.operators import similarity as S
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM

    sf = "/root/testdata/sf0.01"
    t = load_tables(spark, sf)
    e = t.embeddings.select(
        "vec_id", "embedding", norm(F.col("embedding"), EMBEDDING_DIM).alias("vnorm")
    )
    q = e.filter(F.col("vec_id") % S.ANN_QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("vnorm").alias("qnorm"),
    )
    cos = F.round(
        dot(F.col("qv"), F.col("embedding"), EMBEDDING_DIM)
        / (F.col("qnorm") * F.col("vnorm")),
        6,
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    brute_topk = (
        F.broadcast(q)
        .join(e, F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= S.ANN_K)
        .select("query_id", "neighbor_id")
    )

    def hits(n_probe: int) -> int:
        ann = S.q_sim_ann(spark, sf, n_probe=n_probe).select("query_id", "neighbor_id")
        return brute_topk.join(ann, ["query_id", "neighbor_id"], "left_semi").count()

    r1, r2 = hits(1), hits(2)
    assert r2 > r1, f"2-probe recall must strictly beat 1-probe: {r2} vs {r1}"


def test_pre_partition_small_tier_inert_above_bound(spark, sf_dir, monkeypatch):
    """Above the row bound the helper must return the input UNCHANGED —
    no repartition node, no forfeited map-side combine at scale."""
    from machinelearningalgomapreduce_spark.functions import joins
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    ev = load_tables(spark, sf_dir).events
    small = joins.pre_partition_small_tier(ev, sf_dir, ["event_type"], "events")
    assert small is not ev
    monkeypatch.setitem(joins.PRE_PARTITION_MAX_ROWS, "events", 100)  # 1000 events now over
    assert joins.pre_partition_small_tier(ev, sf_dir, ["event_type"], "events") is ev


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_blocked_dedup_recall_holds_at_10x_tier(spark, tmp_path_factory):
    """VERDICT r11 item 2 done-criteria: at the 10× tier
    (tools/scale_probe.build_tier over sf0.1) the blocked embedding dedup
    DEFAULTS must hold recall ≥0.95 against the brute copy-0 ground truth
    with 0 invented pairs, and the rep-level candidate volume must stay
    far under raw all-pairs (linear-in-n budget). Measured 2026-08-16:
    recall 0.9653, 0 invented, 58.5 s end-to-end — the r11 decay
    (0.778 at fixed n_probe=3) was exact copies straddling finer cells,
    eliminated by the r12 rep-collapse."""
    from machinelearningalgomapreduce_spark.operators.dedup import (
        embedding_dedup_blocked,
        q_dedup_embedding,
    )
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from tools.scale_probe import OFF, SRC, build_tier

    big = str(tmp_path_factory.mktemp("tier") / "sf1.0")
    build_tier(spark, 10, big)

    truth = {(r.id_a, r.id_b) for r in q_dedup_embedding(spark, SRC).collect()}
    assert truth, "sf0.1 should contain embedding near-dup pairs"
    found = {
        (r.id_a, r.id_b) for r in embedding_dedup_blocked(spark, big).collect()
    }
    copy0 = {p for p in found if p[0] < OFF and p[1] < OFF}
    recall = len(copy0 & truth) / len(truth)
    assert recall >= 0.95, f"recall {recall:.4f} below target"
    assert not (copy0 - truth), f"invented pairs: {sorted(copy0 - truth)[:5]}"

    # Candidate budget: rep-level candidates (verify=False) must sit far
    # under raw all-pairs — the collapse means the blocked join sees
    # n_reps participants, so the budget is ~n_probe²/k of C(n_reps, 2),
    # orders of magnitude under C(n, 2).
    n = load_tables(spark, big).embeddings.count()
    cands = embedding_dedup_blocked(spark, big, verify=False).count()
    assert cands < 0.02 * (n * (n - 1) // 2), (cands, n)
