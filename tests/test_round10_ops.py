"""Round-10 library differentials (VERDICT r9 item 4): the last two §2C
library helpers without dedicated tests — pagerank_frame's damped power
iteration vs a pure-Python twin to convergence, and reachable_from's
frontier BFS on a diamond + cycle + unreachable-island fixture."""

from __future__ import annotations

import pytest


def _python_pagerank(edges, n_iter, damping=0.85):
    """Reference damped power iteration (dangling mass dropped — the same
    simplification q_pagerank/pagerank_frame document)."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    outdeg: dict[str, int] = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        in_sum = {v: 0.0 for v in nodes}
        for u, v in edges:
            in_sum[v] += rank[u] / outdeg[u]
        rank = {v: (1 - damping) / n + damping * in_sum[v] for v in nodes}
    return rank


TOY_EDGES = [
    # a hub, a 3-cycle, a dangling sink, and a 2-node tail
    ("a", "b"), ("a", "c"), ("a", "d"),
    ("b", "c"), ("c", "a"),            # cycle a→b→c→a (plus a→c chord)
    ("d", "e"),                        # e is dangling (no out-edges)
    ("f", "a"), ("g", "f"),            # tail g→f→a
]


@pytest.mark.parametrize("n_iter", [1, 5, 25])
@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_pagerank_frame_matches_python_power_iteration(spark, n_iter):
    from machinelearningalgomapreduce_spark.operators.graph import pagerank_frame

    edges = spark.createDataFrame(TOY_EDGES, ["src", "dst"])
    got = {r.node: r.rank for r in pagerank_frame(edges, n_iter=n_iter).collect()}
    want = _python_pagerank(TOY_EDGES, n_iter)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), (v, n_iter)


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_pagerank_frame_converges_to_fixpoint(spark):
    """At 50 iterations the toy graph is converged (contraction is the
    0.85 damping per pass, so the 25-iter residual ~1.3e-5 shrinks to
    ~2e-7): one more pass moves no rank by more than 1e-6, and total
    non-dangling mass behaves (sums to ≤ 1, > 0 — dangling leakage is the
    documented simplification)."""
    from machinelearningalgomapreduce_spark.operators.graph import pagerank_frame

    edges = spark.createDataFrame(TOY_EDGES, ["src", "dst"])
    r50 = {r.node: r.rank for r in pagerank_frame(edges, n_iter=50).collect()}
    r51 = {r.node: r.rank for r in pagerank_frame(edges, n_iter=51).collect()}
    assert max(abs(r50[v] - r51[v]) for v in r50) < 1e-6
    total = sum(r50.values())
    assert 0.0 < total <= 1.0 + 1e-9


DIAMOND_CYCLE_ISLAND = [
    # diamond s→{l,r}→t
    ("s", "l"), ("s", "r"), ("l", "t"), ("r", "t"),
    # cycle hanging off t: t→c1→c2→c3→t (re-entry must not loop forever)
    ("t", "c1"), ("c1", "c2"), ("c2", "c3"), ("c3", "t"),
    # edge INTO the seed side (must not make its source reachable)
    ("x", "s"),
    # unreachable island with its own cycle
    ("i1", "i2"), ("i2", "i1"), ("i2", "i3"),
]


def test_reachable_from_diamond_cycle_island(spark):
    from machinelearningalgomapreduce_spark.operators.graph import reachable_from

    edges = spark.createDataFrame(DIAMOND_CYCLE_ISLAND, ["src", "dst"])
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {r.node for r in reachable_from(edges, seeds).collect()}
    # seed included; diamond + cycle closed over; x and the island excluded
    assert got == {"s", "l", "r", "t", "c1", "c2", "c3"}

    island = {r.node for r in reachable_from(
        edges, spark.createDataFrame([("i1",)], "node string")).collect()}
    assert island == {"i1", "i2", "i3"}


def test_reachable_from_multi_seed_and_no_out_edges(spark):
    from machinelearningalgomapreduce_spark.operators.graph import reachable_from

    edges = spark.createDataFrame(DIAMOND_CYCLE_ISLAND, ["src", "dst"])
    # multi-seed union; duplicate seed rows must not duplicate output
    seeds = spark.createDataFrame([("x",), ("i3",), ("i3",)], "node string")
    got = {r.node for r in reachable_from(edges, seeds).collect()}
    assert got == {"x", "s", "l", "r", "t", "c1", "c2", "c3", "i3"}


def test_reachable_from_raises_past_round_budget(spark):
    """A 5-node path needs 5 rounds; max_rounds=2 must raise, not silently
    truncate the closure (the non-convergence discipline)."""
    from machinelearningalgomapreduce_spark.operators.graph import reachable_from

    path = [(f"p{i}", f"p{i+1}") for i in range(5)]
    edges = spark.createDataFrame(path, ["src", "dst"])
    seeds = spark.createDataFrame([("p0",)], "node string")
    with pytest.raises(RuntimeError, match="did not converge"):
        reachable_from(edges, seeds, max_rounds=2)


def test_learned_ivf_recall_beats_label_cells(spark, sf_dir):
    """VERDICT r9 item 6a: swapping q_sim_ann's label-derived coarse cells
    for kmeans_fit centroids (the quantizer an IVF index actually trains
    at scale) must recall at least as well in q_sim_recall's harness.
    Measured on the fixture: 0.80 vs 0.40 mean recall@3."""
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.operators.similarity import (
        ann_recall_frame,
        learned_ivf_ann,
        q_sim_ann,
    )

    label_recall = (
        ann_recall_frame(spark, sf_dir, q_sim_ann(spark, sf_dir))
        .agg(F.avg("recall")).collect()[0][0]
    )
    learned_recall = (
        ann_recall_frame(spark, sf_dir, learned_ivf_ann(spark, sf_dir, k=10))
        .agg(F.avg("recall")).collect()[0][0]
    )
    assert learned_recall >= label_recall
    assert learned_recall >= 0.6  # pin the measured level, not just the order


def test_learned_ivf_output_contract_matches_q_sim_ann(spark, sf_dir):
    """Same schema and per-query top-k discipline as the oracle-checked
    q_sim_ann: ≤ ANN_K ranked rows per query, rank dense from 1, no
    self-matches."""
    from machinelearningalgomapreduce_spark.operators.similarity import (
        ANN_K,
        learned_ivf_ann,
        q_sim_ann,
    )

    ann = learned_ivf_ann(spark, sf_dir, k=10)
    assert ann.columns == q_sim_ann(spark, sf_dir).columns
    rows = ann.collect()
    by_q: dict = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= ANN_K


def test_kmeans_parallel_init_matches_pp_quality(spark, sf_dir):
    """VERDICT r9 'What's wrong' #3: k-means‖ oversampling seeding runs
    O(log k) full passes instead of kmeans_pp_init's k−1, and must not
    give up coverage: deterministic, k distinct seeds, and a k-center
    objective (max point→nearest-seed distance) within 1.5× of the
    farthest-first baseline (measured 1.01× on the fixture)."""
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.operators.ml import (
        assign_nearest,
        kmeans_parallel_init,
        kmeans_pp_init,
    )
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    k = 10
    par = kmeans_parallel_init(spark, sf_dir, k=k)
    assert len(par) == k and len(set(par)) == k
    assert par == kmeans_parallel_init(spark, sf_dir, k=k)  # deterministic

    t = load_tables(spark, sf_dir)

    def k_center_obj(seeds):
        cents = (
            t.embeddings.filter(F.col("vec_id").isin(seeds))
            .select(F.col("vec_id").alias("label"), F.col("embedding").alias("centroid"))
        )
        return (
            assign_nearest(t.embeddings, cents, 64)
            .agg(F.max("dist2")).collect()[0][0]
        )

    pp = kmeans_pp_init(spark, sf_dir, k=k)
    assert k_center_obj(par) <= 1.5 * k_center_obj(pp)


def test_user_type_mix_matches_batch(spark, sf_dir, tmp_path):
    """Map-state operator: the per-user event-type mix equals the batch
    countDistinct/count/modal-type aggregate, NULL type included. Three
    source files split by event_id, so the map state crosses
    micro-batches."""
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from machinelearningalgomapreduce_spark.streaming.stateful import user_type_mix
    from tests.conftest import file_stream, run_stream

    # every 4th event gets a NULL type: the batch groupBy keeps that group
    events = load_tables(spark, sf_dir).events.select(
        "user_id",
        "event_id",
        F.when(F.col("event_id") % 4 != 0, F.col("event_type")).alias("event_type"),
    )
    # modal type: max count, smallest type (NULL first) on ties
    per_ty = events.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt_ty"))
    batch = per_ty.groupBy("user_id").agg(
        F.count("*").alias("n_types"),
        F.sum("cnt_ty").alias("n_events"),
        F.min_by(
            "event_type", F.struct((-F.col("cnt_ty")).alias("neg"), F.col("event_type"))
        ).alias("top_type"),
        F.max("cnt_ty").alias("top_count"),
    )
    expected = {
        r.user_id: (r.n_types, r.n_events, r.top_type, r.top_count)
        for r in batch.collect()
    }

    stream = file_stream(
        spark, tmp_path, [events.filter(F.col("event_id") % 3 == i) for i in range(3)]
    )
    rows, _q = run_stream(
        user_type_mix(stream.select("user_id", "event_type")), "t_typemix", tmp_path / "ck"
    )
    # later emissions overwrite earlier ones (n_events grows per key)
    got = {
        r.user_id: (r.n_types, r.n_events, r.top_type, r.top_count)
        for r in sorted(rows, key=lambda r: r.n_events)
    }
    assert got == expected


# ---- fold chunk-invariance (hypothesis) -----------------------------------
# The property that makes BOTH stateful generations correct across arbitrary
# micro-batch boundaries: folding a series in any chunking equals folding it
# in one shot, for any values including constants, spikes, and negatives.

from hypothesis import given, settings
from hypothesis import strategies as st

_series = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
    min_size=0,
    max_size=40,
)
_cuts = st.lists(st.integers(min_value=0, max_value=40), max_size=4)


def _chunked_fold(fold, zero, xs, cuts):
    bounds = sorted({min(c, len(xs)) for c in cuts})
    st_, alarm = zero, 0
    prev = 0
    for b in [*bounds, len(xs)]:
        if b > prev:
            st_, alarm = fold(st_, xs[prev:b])
            prev = b
    return st_, alarm


@settings(max_examples=60, deadline=None)
@given(xs=_series, cuts=_cuts)
def test_fold_cusum_chunk_invariant(xs, cuts):
    from machinelearningalgomapreduce_spark.streaming.stateful import (
        CUS_ZERO_STATE,
        fold_cusum,
    )

    whole = fold_cusum(CUS_ZERO_STATE, xs)
    chunked = _chunked_fold(fold_cusum, CUS_ZERO_STATE, xs, cuts)
    assert whole == chunked


@settings(max_examples=60, deadline=None)
@given(xs=_series, cuts=_cuts)
def test_fold_ewma_control_chunk_invariant(xs, cuts):
    from machinelearningalgomapreduce_spark.streaming.stateful import (
        EWC_ZERO_STATE,
        fold_ewma_control,
    )

    whole = fold_ewma_control(EWC_ZERO_STATE, xs)
    chunked = _chunked_fold(fold_ewma_control, EWC_ZERO_STATE, xs, cuts)
    assert whole == chunked


def test_user_recent_window_matches_batch(spark, sf_dir, tmp_path):
    """Array-state operator: the per-user last-N rolling window equals the
    batch row_number-over-(us desc, event_id desc) ≤ N aggregate — exact
    integers both sides. Three source files split by event_id, so older
    events keep arriving after newer ones across micro-batches."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from machinelearningalgomapreduce_spark.streaming.stateful import (
        RECENT_N,
        user_recent_window,
    )
    from tests.conftest import file_stream, run_stream

    events = load_tables(spark, sf_dir).events.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy(F.desc("us"), F.desc("event_id"))
    batch = (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RECENT_N)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_recent"),
            F.sum("cents").alias("recent_cents"),
            F.max("cents").alias("max_cents"),
            F.max("us").alias("last_us"),
        )
    )
    expected = {
        r.user_id: (r.n_recent, r.recent_cents, r.max_cents, r.last_us)
        for r in batch.collect()
    }

    stream = file_stream(
        spark, tmp_path, [events.filter(F.col("event_id") % 3 == i) for i in range(3)]
    )
    rows, _q = run_stream(user_recent_window(stream), "t_recent", tmp_path / "ck")
    # the memory sink keeps batch order: a user's last row is its final window
    got = {r.user_id: (r.n_recent, r.recent_cents, r.max_cents, r.last_us) for r in rows}
    assert got == expected


def test_user_recent_window_late_event_displacement(spark, tmp_path):
    """A late (old) event arriving in a later micro-batch, once the window
    is full, is evicted at once and never displaces a newer row."""
    from machinelearningalgomapreduce_spark.streaming.stateful import (
        RECENT_N,
        user_recent_window,
    )
    from tests.conftest import file_stream, run_stream

    schema = "user_id long, us long, event_id long, cents long"
    fresh = [(7, 10 * i, i, 100 * i) for i in range(1, RECENT_N + 1)]
    frames = [
        spark.createDataFrame(fresh, schema),
        spark.createDataFrame([(7, 5, 0, 9999)], schema),
    ]
    stream = file_stream(spark, tmp_path, frames)
    rows, _q = run_stream(user_recent_window(stream), "t_recent_late", tmp_path / "ck")
    # one emission per micro-batch, both the window of the five fresh rows
    assert [tuple(r) for r in rows] == [(7, RECENT_N, 1500, 500, 50)] * 2


def test_knn_ann_twin_matches_brute_task_contract(spark, sf_dir):
    """r13 (VERDICT r12 item 3): knn_ann is q_knn's ANN twin — same
    output schema, one prediction per query point, same vote tie-break
    discipline — over IVF cell-pruned candidates. At a generous probe
    budget on the fixture it must agree with brute on a solid majority
    of predictions and recall most true neighbors (the bench-tier
    numbers live in BENCH_NOTES via tools/ann_twin_bench.py)."""
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.operators.ml import (
        KNN_K,
        KNN_QUERY_STRIDE,
        knn_ann,
        q_knn,
    )
    from machinelearningalgomapreduce_spark.operators.similarity import (
        ann_recall_frame,
        learned_ivf_ann,
    )

    brute = q_knn(spark, sf_dir)
    twin = knn_ann(spark, sf_dir, n_probe=6)
    assert twin.columns == brute.columns
    brute_pred = {r.query_id: r.pred_label for r in brute.collect()}
    twin_rows = twin.collect()
    assert {r.query_id for r in twin_rows} == set(brute_pred)  # one per query
    agree = sum(1 for r in twin_rows if brute_pred[r.query_id] == r.pred_label)
    assert agree >= 0.6 * len(twin_rows), (agree, len(twin_rows))

    rec = (
        ann_recall_frame(
            spark, sf_dir,
            learned_ivf_ann(
                spark, sf_dir, k=10, n_probe=6,
                stride=KNN_QUERY_STRIDE, topk=KNN_K,
            ),
            stride=KNN_QUERY_STRIDE, k=KNN_K,
        )
        .agg(F.avg("recall")).first()[0]
    )
    assert rec >= 0.6, rec


def test_knn_ann_serving_lane_equals_cold_lane_on_same_centroids(
    spark, sf_dir
):
    """The centroids= serving lane (pre-trained quantizer — the
    persisted-IVFIndexView shape) must produce EXACTLY the cold lane's
    predictions when handed the same centroids the cold lane trains."""
    from machinelearningalgomapreduce_spark.operators.ml import kmeans_fit, knn_ann

    model, _cost = kmeans_fit(spark, sf_dir, k=10, seed=42)
    cents = spark.createDataFrame(
        [
            (int(i), [round(float(x), 6) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ],
        "label bigint, centroid array<double>",
    )
    cold = {tuple(r) for r in knn_ann(spark, sf_dir, 10, 4, seed=42).collect()}
    served = {
        tuple(r)
        for r in knn_ann(spark, sf_dir, 10, 4, centroids=cents).collect()
    }
    assert cold == served and cold


def test_knn_ann_index_lane_full_probe_equals_brute(spark, sf_dir, tmp_path):
    """r14 (VERDICT r13 item 2): knn_ann(index=IVFIndexView) — the
    fully-amortized serving shape — must produce EXACTLY brute q_knn's
    predictions when the index probes every cell (full probe budget ⇒
    the cell prune drops nothing, and the twin shares q_knn's rounding,
    top-k and vote tie-break discipline bit-for-bit)."""
    from machinelearningalgomapreduce_spark.operators.ivf_index import IVFIndexView
    from machinelearningalgomapreduce_spark.operators.ml import (
        kmeans_fit,
        knn_ann,
        q_knn,
    )
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM

    model, _cost = kmeans_fit(spark, sf_dir, k=10, seed=42)
    cents = [
        (int(i), [round(float(x), 6) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    idx = IVFIndexView(
        str(tmp_path / "knn_ivf"), cents, dim=EMBEDDING_DIM, n_probe=len(cents)
    )
    emb = load_tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    idx.refresh(spark, emb, batch_id="b0")

    brute = {tuple(r) for r in q_knn(spark, sf_dir).collect()}
    served = {tuple(r) for r in knn_ann(spark, sf_dir, index=idx).collect()}
    assert served == brute and served

    # the quantizer knobs describe what the index spec already pins —
    # accepting them alongside index= would silently ignore them
    with pytest.raises(ValueError, match="mutually exclusive"):
        knn_ann(spark, sf_dir, k_cells=10, index=idx)


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_knn_ann_pq_index_lane_agreement(spark, sf_dir, tmp_path):
    """r14 (VERDICT r13 item 2): knn_ann(index=IVFPQIndexView) serves the
    KNN task end-to-end off the COMPRESSED index — full vectors touched
    only through the callable semi-join re-rank. At a rerank budget that
    covers every probed candidate the ADC cut drops nothing and the lane
    must equal brute q_knn BIT-EXACTLY (the re-rank is the same rounded
    cosine + tie-breaks); at the default budget the contract shape holds
    (same schema, one prediction per query point). Prediction agreement
    at the default budget is NOT pinned: the fixture's vectors are near-
    random, so brute's own vote margins are 2–3/10 and any candidate cut
    scrambles them — the recall/latency dial is ``rerank_mult``."""
    from machinelearningalgomapreduce_spark.operators.ivf_pq import IVFPQIndexView
    from machinelearningalgomapreduce_spark.operators.ml import (
        kmeans_fit,
        knn_ann,
        q_knn,
    )
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM

    emb = load_tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    model, _cost = kmeans_fit(spark, sf_dir, k=10, seed=42)
    cents = [
        (int(i), [round(float(x), 6) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    # deterministic codebooks: subvectors of the first 25 corpus vectors
    # (the test_ivf_pq recipe — enough codewords to rank within a cell)
    pq_m, pq_k = 16, 25
    sub = EMBEDDING_DIM // pq_m
    first = [
        r.embedding
        for r in emb.orderBy("vec_id").limit(pq_k).collect()
    ]
    cbs = [
        (m, c, [round(float(x), 6) for x in first[c][m * sub:(m + 1) * sub]])
        for m in range(pq_m)
        for c in range(pq_k)
    ]
    idx = IVFPQIndexView(
        str(tmp_path / "knn_pq"), cents, cbs, dim=EMBEDDING_DIM,
        n_probe=len(cents),
    )
    idx.refresh(spark, emb, batch_id="b0")

    brute = q_knn(spark, sf_dir)
    n_corpus = emb.count()
    # full budget: rerank_mult·k ≥ every probed candidate ⇒ exact
    full = knn_ann(
        spark, sf_dir, index=idx, rerank_mult=-(-n_corpus // 10),
    )
    assert {tuple(r) for r in full.collect()} == {
        tuple(r) for r in brute.collect()
    }

    served = knn_ann(spark, sf_dir, index=idx)  # default ADC budget
    assert served.columns == brute.columns
    rows = served.collect()
    assert {r.query_id for r in rows} == {
        r.query_id for r in brute.collect()
    }

    with pytest.raises(ValueError, match="rerank_mult"):
        knn_ann(spark, sf_dir, rerank_mult=5)
