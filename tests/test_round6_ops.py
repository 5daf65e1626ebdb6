"""Round-6 library-tier additions: sequence models (HMM forward / Viterbi),
personalized PageRank, Louvain local moves, SCD2 merge, and the streaming
incremental-dedup ingestion sink."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.operators import sequence as seq
from machinelearningalgomapreduce_spark.operators.graph import (
    louvain_move_step,
    modularity,
    personalized_pagerank,
)
from machinelearningalgomapreduce_spark.operators.incremental import scd2_apply
from machinelearningalgomapreduce_spark.sources.catalog import load_tables

from tests.conftest import drain


# ------------------------------------------------------------------ HMM

def test_hmm_forward_matches_reference(spark, sf_dir):
    """JVM-side scaled forward == pure-Python forward, every user."""
    events = load_tables(spark, sf_dir).events
    got = {r["user_id"]: r for r in seq.hmm_forward(events).collect()}
    seqs = {r["user_id"]: r["obs"] for r in seq.user_sequences(events).collect()}
    assert set(got) == set(seqs) and len(got) >= 10
    for uid, obs in seqs.items():
        ref = seq.hmm_loglik_reference(obs)
        assert got[uid]["n_obs"] == len(obs)
        assert math.isclose(got[uid]["loglik"], ref, rel_tol=1e-9), uid
        alpha = got[uid]["alpha"]
        assert math.isclose(sum(alpha), 1.0, rel_tol=1e-9)
        assert all(a >= 0 for a in alpha)


def test_hmm_forward_single_observation(spark):
    """T=1 sequence: loglik = log Σ_i init_i · emit_i(o)."""
    ev = spark.createDataFrame(
        [Row(user_id=1, ts=None, event_id=1, event_type="click")],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    row = seq.hmm_forward(ev).collect()[0]
    j = seq.HMM_TYPES.index("click")
    expect = math.log(
        sum(seq.HMM_INIT[i] * seq.HMM_EMIT[i][j] for i in range(seq.HMM_STATES))
    )
    assert math.isclose(row["loglik"], expect, rel_tol=1e-12)


def test_viterbi_matches_bruteforce(spark):
    """Decoded path == exhaustive argmax over K^T paths (short seqs)."""
    import itertools

    rows = []
    cases = {
        101: ["click", "purchase", "purchase", "signup"],
        102: ["error", "error", "view", "click", "view"],
        103: ["signup"],
        104: ["purchase", "click", "signup", "error", "purchase", "view"],
    }
    eid = 0
    for uid, obs in cases.items():
        for t, o in enumerate(obs):
            eid += 1
            rows.append(Row(user_id=uid, ts=None, event_id=eid, event_type=o))
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = seq.viterbi_decode(ev).collect()
    by_user = {}
    for r in sorted(out, key=lambda r: (r["user_id"], r["pos"])):
        by_user.setdefault(r["user_id"], []).append(r["state"])
    for uid, obs in cases.items():
        assert by_user[uid] == seq.viterbi_path_reference(obs), uid


def test_viterbi_fixture_shape(spark, sf_dir):
    """Every event gets exactly one decoded state; path prob is positive
    under the model (all states/emissions reachable)."""
    events = load_tables(spark, sf_dir).events
    out = seq.viterbi_decode(events)
    n_events = events.count()
    assert out.count() == n_events
    st = out.agg(F.min("state"), F.max("state")).collect()[0]
    assert 0 <= st[0] and st[1] < seq.HMM_STATES


def test_baum_welch_monotone_and_stochastic(spark, sf_dir):
    """EM guarantee: per-round total log-likelihood is non-decreasing;
    every re-estimated distribution stays a distribution."""
    events = load_tables(spark, sf_dir).events
    model, lls = seq.baum_welch_fit(events, rounds=3)
    assert len(lls) == 3
    assert lls[1] >= lls[0] - 1e-6 and lls[2] >= lls[1] - 1e-6
    assert math.isclose(sum(model["init"]), 1.0, rel_tol=1e-9)
    for row in model["trans"]:
        assert math.isclose(sum(row), 1.0, rel_tol=1e-9)
        assert all(x >= 0 for x in row)
    for row in model["emit"]:
        assert math.isclose(sum(row), 1.0, rel_tol=1e-9)
        assert all(x >= 0 for x in row)


def test_baum_welch_round_ll_matches_forward(spark, sf_dir):
    """The ll the E-step reports under the INPUT model equals the sum of
    hmm_forward logliks (two independent implementations of the same
    quantity: scaled-scan JVM vs numpy forward-backward)."""
    events = load_tables(spark, sf_dir).events
    _model, ll = seq.baum_welch_round(events, None)
    total = seq.hmm_forward(events).agg(F.sum("loglik")).collect()[0][0]
    assert math.isclose(ll, total, rel_tol=1e-9)


def test_temperature_mix_shares(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators.export import temperature_mix

    docs = load_tables(spark, sf_dir).documents
    rows = temperature_mix(docs, temperature=2.0).collect()
    nat = {r["source"]: r["natural_share"] for r in rows}
    tgt = {r["source"]: r["target_share"] for r in rows}
    assert math.isclose(sum(nat.values()), 1.0, rel_tol=1e-9)
    assert math.isclose(sum(tgt.values()), 1.0, rel_tol=1e-9)
    # Temperature flattens: the biggest source loses share, smallest gains.
    big = max(nat, key=nat.get)
    small = min(nat, key=nat.get)
    assert tgt[big] < nat[big] and tgt[small] > nat[small]
    for r in rows:
        assert 0.0 < r["sample_rate"] <= 1.0
        assert math.isclose(
            min(1.0, r["repeat_factor"]), r["sample_rate"], rel_tol=1e-12
        )
    # T=1 is the identity mix.
    for r in temperature_mix(docs, temperature=1.0).collect():
        assert math.isclose(r["natural_share"], r["target_share"], rel_tol=1e-9)


# ----------------------------------------------------- personalized PPR

def _toy_edges(spark):
    # a -> b -> c -> a  triangle plus dangling d reachable from a.
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
        "src string, dst string",
    )


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_ppr_probability_vector(spark):
    ranks = personalized_pagerank(_toy_edges(spark), seeds=["a"], n_iter=20)
    rows = {r["node"]: r["rank"] for r in ranks.collect()}
    assert math.isclose(sum(rows.values()), 1.0, rel_tol=1e-9)
    # Seed holds the restart mass: strictly the largest here.
    assert rows["a"] == max(rows.values())
    assert all(v > 0 for v in rows.values())


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_ppr_localizes_to_seed_component(spark):
    """Two disconnected triangles; seeding one leaves the other at 0."""
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")],
        "src string, dst string",
    )
    rows = {r["node"]: r["rank"] for r in personalized_pagerank(e, ["a"], n_iter=15).collect()}
    assert rows["x"] == rows["y"] == rows["z"] == 0.0
    assert math.isclose(rows["a"] + rows["b"] + rows["c"], 1.0, rel_tol=1e-9)


def test_ppr_fixture_runs(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators.graph import _edges

    edges = _edges(spark, sf_dir)
    seeds = [r["src"] for r in edges.select("src").distinct().limit(2).collect()]
    ranks = personalized_pagerank(edges, seeds, n_iter=6)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert math.isclose(total, 1.0, rel_tol=1e-6)


# -------------------------------------------------------------- Louvain

def _two_cliques(spark):
    """K4 ∪ K4 joined by one bridge edge — canonical 2-community graph."""
    a = ["a1", "a2", "a3", "a4"]
    b = ["b1", "b2", "b3", "b4"]
    edges = [(x, y) for i, x in enumerate(a) for y in a[i + 1:]]
    edges += [(x, y) for i, x in enumerate(b) for y in b[i + 1:]]
    edges += [("a1", "b1")]
    return spark.createDataFrame(edges, "u string, v string")


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_louvain_finds_cliques(spark):
    e = _two_cliques(spark)
    comm = louvain_move_step(e)
    for _ in range(3):
        comm = louvain_move_step(e, comm)
    got = {r["node"]: r["comm"] for r in comm.collect()}
    a_comms = {got[n] for n in ["a1", "a2", "a3", "a4"]}
    b_comms = {got[n] for n in ["b1", "b2", "b3", "b4"]}
    assert len(a_comms) == 1 and len(b_comms) == 1 and a_comms != b_comms


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_louvain_improves_modularity(spark):
    e = _two_cliques(spark)
    identity = e.select(F.col("u").alias("node")).union(
        e.select(F.col("v").alias("node"))
    ).distinct().select("node", F.col("node").alias("comm"))
    q0 = modularity(e, identity)
    comm = louvain_move_step(e)
    for _ in range(3):
        comm = louvain_move_step(e, comm)
    q1 = modularity(e, comm)
    assert q1 > q0
    assert q1 > 0.3  # two-clique partition scores ≈ 0.41


def test_louvain_deterministic(spark):
    e = _two_cliques(spark)
    c1 = sorted(map(tuple, louvain_move_step(e).collect()))
    c2 = sorted(map(tuple, louvain_move_step(e).collect()))
    assert c1 == c2


# ----------------------------------------------------------------- SCD2

def _dim(spark):
    return spark.createDataFrame(
        [
            ("k1", "NYC", "gold", "2020-01-01", "2021-01-01"),
            ("k1", "SF", "gold", "2021-01-01", None),
            ("k2", "LA", "silver", "2020-06-01", None),
        ],
        "key string, city string, tier string, valid_from string, valid_to string",
    )


def test_scd2_change_new_and_noop(spark):
    updates = spark.createDataFrame(
        [
            ("k1", "SEA", "gold", "2022-01-01"),   # changed city -> close + insert
            ("k2", "LA", "silver", "2022-01-01"),  # identical -> no-op
            ("k3", "CHI", "bronze", "2022-01-01"),  # new key -> insert
        ],
        "key string, city string, tier string, ts string",
    )
    out = scd2_apply(_dim(spark), updates, "key", ["city", "tier"], "ts")
    rows = sorted(map(tuple, out.collect()))
    assert rows == sorted(
        [
            ("k1", "NYC", "gold", "2020-01-01", "2021-01-01"),
            ("k1", "SF", "gold", "2021-01-01", "2022-01-01"),
            ("k1", "SEA", "gold", "2022-01-01", None),
            ("k2", "LA", "silver", "2020-06-01", None),
            ("k3", "CHI", "bronze", "2022-01-01", None),
        ]
    )
    # Exactly one open row per key.
    open_counts = (
        out.filter(F.col("valid_to").isNull()).groupBy("key").count().collect()
    )
    assert all(r["count"] == 1 for r in open_counts)


def test_scd2_idempotent(spark):
    updates = spark.createDataFrame(
        [("k1", "SEA", "gold", "2022-01-01")],
        "key string, city string, tier string, ts string",
    )
    once = scd2_apply(_dim(spark), updates, "key", ["city", "tier"], "ts")
    twice = scd2_apply(once, updates, "key", ["city", "tier"], "ts")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


# ------------------------------------------------ count-min / JL sketch

def test_count_min_never_underestimates(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators import sketches as sk

    events = load_tables(spark, sf_dir).events.select("event_type")
    truth = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    sketch = sk.count_min_build(events, "event_type")
    ests = {
        r["item"]: r["est_count"]
        for r in sk.count_min_estimate(
            sketch, events.select("event_type").distinct(), "event_type"
        ).collect()
    }
    n_total = sum(truth.values())
    assert set(ests) == set(truth)
    for item, true_n in truth.items():
        assert ests[item] >= true_n, item            # CM never underestimates
        assert ests[item] <= true_n + 2 * n_total / sk.CM_WIDTH, item

    # Sketch size is bounded by depth × width regardless of input size.
    assert sketch.count() <= sk.CM_DEPTH * sk.CM_WIDTH


def test_count_min_mergeable(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators import sketches as sk

    docs = load_tables(spark, sf_dir).documents.select("source", "doc_id")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 != 0)
    merged = sk.count_min_merge(
        sk.count_min_build(a, "source"), sk.count_min_build(b, "source")
    )
    whole = sk.count_min_build(docs, "source")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_heavy_hitters_full_recall(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators import sketches as sk

    events = load_tables(spark, sf_dir).events.select("event_type")
    phi = 0.05
    n = events.count()
    true_heavy = {
        r["event_type"]
        for r in events.groupBy("event_type")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= phi * n)
        .collect()
    }
    got = {r["event_type"] for r in sk.heavy_hitters(events, "event_type", phi).collect()}
    assert true_heavy <= got  # overestimate-only ⇒ recall 1


def test_hll_day_sketch_union_close_to_exact(spark, sf_dir):
    """Union of per-day HLL sketches ≈ exact distinct over the range —
    without rescanning raw data; the merged estimate must also match a
    direct whole-range sketch exactly (same algorithm, same state)."""
    from machinelearningalgomapreduce_spark.operators import sketches as sk

    events = load_tables(spark, sf_dir).events
    day = F.date_trunc("day", "ts")
    daily = sk.hll_daily_sketches(events, "user_id", day)
    assert daily.count() >= 2  # fixture spans multiple days
    est_row = sk.hll_range_distinct(daily).collect()[0]
    exact = events.select("user_id").distinct().count()
    assert est_row["n_rows"] == events.count()
    assert abs(est_row["est_distinct"] - exact) <= max(2, 0.05 * exact)
    direct = events.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")
    ).collect()[0]["e"]
    assert est_row["est_distinct"] == direct


def test_random_projection_preserves_distances(spark, sf_dir):
    import itertools
    import math as m

    from machinelearningalgomapreduce_spark.functions import vectors as V

    emb = load_tables(spark, sf_dir).embeddings.limit(30)
    projected = emb.select(
        "vec_id",
        F.col("embedding").alias("orig"),
        V.random_project(F.col("embedding"), "jl", out_dim=16, in_dim=64).alias("proj"),
    ).collect()
    assert all(len(r["proj"]) == 16 for r in projected)

    def dist(a, b):
        return m.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    ratios = []
    for r1, r2 in itertools.combinations(projected[:15], 2):
        d_orig = dist(r1["orig"], r2["orig"])
        d_proj = dist(r1["proj"], r2["proj"])
        if d_orig > 0:
            ratios.append(d_proj / d_orig)
    # JL with k=16: distortion concentrated around 1 — generous envelope,
    # but tight enough that a broken projection (wrong scale, collapsed
    # dims) fails decisively.
    assert 0.4 < min(ratios) and max(ratios) < 1.8
    assert 0.8 < sum(ratios) / len(ratios) < 1.25

    # Deterministic: same seed → identical matrix, different seed → not.
    assert V.jl_signs("jl", 4, 8) == V.jl_signs("jl", 4, 8)
    assert V.jl_signs("jl", 4, 8) != V.jl_signs("other", 4, 8)


# ------------------------------------------------------ plan assertions

def test_hmm_forward_single_exchange(spark, sf_dir):
    """The docstring's scale claim holds in the physical plan: ONE
    user-keyed shuffle, recursion in the projection (no second agg pass,
    no Python stage)."""
    from machinelearningalgomapreduce_spark.plans import inspect as P

    events = load_tables(spark, sf_dir).events
    df = seq.hmm_forward(events)
    assert P.count_exchanges(df) <= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # fully JVM-side


def test_viterbi_single_exchange(spark, sf_dir):
    from machinelearningalgomapreduce_spark.plans import inspect as P

    events = load_tables(spark, sf_dir).events
    assert P.count_exchanges(seq.viterbi_decode(events)) <= 1


# ------------------------------- timer-closed sessionizer (user_sessions)

def _gap_sessions(rows):
    """Reference fold: per-user gap sessions (start, end, n) over
    time-ordered (user_id, us) rows."""
    from machinelearningalgomapreduce_spark.streaming.stateful import SESSION_GAP_US

    per_user: dict[int, list[int]] = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r["us"])
    expected: dict[int, list[tuple[int, int, int]]] = {}
    for uid, times in per_user.items():
        sessions = []
        start = last = times[0]
        n = 1
        for t in times[1:]:
            if t - last <= SESSION_GAP_US:
                last, n = t, n + 1
            else:
                sessions.append((start, last, n))
                start, last, n = t, t, 1
        sessions.append((start, last, n))
        expected[uid] = sessions
    return expected


def _fixture_halves(spark, sf_dir):
    """(sorted rows, [events ≤ cut, events > cut]) split at the median
    event time, as (user_id, ts) frames."""
    events = load_tables(spark, sf_dir).events.select(
        "user_id", "ts", F.unix_micros("ts").alias("us")
    )
    rows = sorted(events.collect(), key=lambda r: (r["us"], r["user_id"]))
    cut = rows[len(rows) // 2]["us"]
    halves = [
        events.filter(pred).select("user_id", "ts")
        for pred in (F.col("us") <= cut, F.col("us") > cut)
    ]
    return rows, halves


def _sessions(got, closed_by):
    return [
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in got
        if r["closed_by"] == closed_by
    ]


def test_sessionizer_timers_match_batch_fold(spark, sf_dir, tmp_path):
    """Every session user_sessions emits matches the plain Python gap-fold
    of the same events exactly: all non-final sessions close inline
    ('gap'), final ones only through event-time timeouts ('timer'). Two
    source files split by event time, one per micro-batch, so the
    watermark advances and timeouts can fire."""
    from machinelearningalgomapreduce_spark.streaming.stateful import user_sessions
    from tests.conftest import file_stream, run_stream

    rows, halves = _fixture_halves(spark, sf_dir)
    stream = file_stream(spark, tmp_path, halves)
    got, _q = run_stream(
        user_sessions(stream), "t_sessions", tmp_path / "ck", output_mode="append"
    )

    expected = _gap_sessions(rows)
    exp_all = {(u, *s) for u, ss in expected.items() for s in ss}
    exp_final = {(u, *ss[-1]) for u, ss in expected.items()}
    got_gap = set(_sessions(got, "gap"))
    got_timer = set(_sessions(got, "timer"))
    assert got_gap == exp_all - exp_final
    assert got_timer <= exp_final
    assert len(got_gap) > 0 and len(got_timer) > 0


# ------------------------- two-stage retrieval (JL project + re-rank)

def _clustered_vectors(n=500, dim=64, n_clusters=5):
    """Deterministic well-clustered embeddings: hash-derived centers in
    [-1,1]^dim plus small hash-derived noise — real neighbor structure,
    no RNG state."""
    import hashlib

    def u(tag):  # uniform in [-1, 1)
        h = int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)
        return h / 2**31 - 1.0

    centers = [[u(f"c:{c}:{d}") for d in range(dim)] for c in range(n_clusters)]
    rows = []
    for i in range(n):
        c = i % n_clusters
        vec = [centers[c][d] + 0.05 * u(f"n:{i}:{d}") for d in range(dim)]
        rows.append((i, [float(x) for x in vec], c))
    return rows


def test_projected_rerank_recall_on_clustered_data(spark):
    """Where neighbor structure is real, the 4×-compressed two-stage
    search recovers ≥0.9 of the exact full-dim top-3 given a 20·k
    candidate budget (measured sweep: recall 5/15 → 11/15 → 15/15 at
    budgets 3·k / 10·k / 20·k — the standard recall-vs-budget knob;
    within a tight cluster the ordering signal is noise-scale, so the
    projected stage needs headroom to contain the exact top-k)."""
    import math as m

    from machinelearningalgomapreduce_spark.operators.similarity import (
        ANN_QUERY_STRIDE,
        ann_projected_rerank_frame,
    )

    rows = _clustered_vectors()
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = ann_projected_rerank_frame(emb, in_dim=64, rerank_mult=20).collect()
    vecs = {i: v for i, v, _c in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (m.sqrt(sum(x * x for x in a)) * m.sqrt(sum(x * x for x in b)))

    hits = total = 0
    queries = [i for i in vecs if i % ANN_QUERY_STRIDE == 0]
    assert len(queries) >= 5
    for qid in queries:
        truth = {
            v
            for _s, v in sorted(
                ((cos(vecs[qid], vecs[v]), v) for v in vecs if v != qid),
                reverse=True,
            )[:3]
        }
        found = {r["neighbor_id"] for r in got if r["query_id"] == qid}
        hits += len(truth & found)
        total += 3
    assert hits / total >= 0.9


def test_projected_rerank_final_stage_exact(spark, sf_dir):
    """Stage-2 exactness on ANY input (the noisy fixture here): the
    emitted top-k ≡ brute full-dim cosine ranking restricted to each
    query's candidate set — the re-rank adds no approximation."""
    import math as m

    from machinelearningalgomapreduce_spark.operators.similarity import (
        ann_projected_rerank,
    )

    got = ann_projected_rerank(spark, sf_dir, rerank_mult=4).collect()
    emb = {
        r["vec_id"]: r["embedding"]
        for r in load_tables(spark, sf_dir).embeddings.collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(
            d / (m.sqrt(sum(x * x for x in a)) * m.sqrt(sum(x * x for x in b))), 6
        )

    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows_q in by_q.items():
        assert [r["rank"] for r in rows_q] == list(range(1, len(rows_q) + 1))
        for r in rows_q:
            assert r["cos_sim"] == pytest.approx(
                cos(emb[qid], emb[r["neighbor_id"]]), abs=2e-6
            )
        sims = [r["cos_sim"] for r in rows_q]
        assert sims == sorted(sims, reverse=True)


# ------------------------------------- small classics (levene / HRW)

def test_levene_matches_python(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators.evaluation import levene_test

    events = load_tables(spark, sf_dir).events.select("event_type", "value")
    row = levene_test(events, "event_type", "value").collect()[0]

    data = {}
    for r in events.collect():
        data.setdefault(r["event_type"], []).append(float(r["value"]))

    def median(xs):
        s = sorted(xs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

    z = {g: [abs(x - median(xs)) for x in xs] for g, xs in data.items()}
    n = sum(len(v) for v in z.values())
    k = len(z)
    zbar = sum(sum(v) for v in z.values()) / n
    ss_between = sum(len(v) * (sum(v) / len(v) - zbar) ** 2 for v in z.values())
    ss_within = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in z.values()
    )
    w = (n - k) / (k - 1) * ss_between / ss_within
    assert row["n_groups"] == k and row["n_obs"] == n
    assert row["df1"] == k - 1 and row["df2"] == n - k
    assert row["w_stat"] == pytest.approx(w, rel=1e-6)
    assert row["ss_between"] == pytest.approx(ss_between, rel=1e-6)
    assert row["ss_within"] == pytest.approx(ss_within, rel=1e-6)


def test_rendezvous_minimal_movement(spark, sf_dir):
    """The HRW property, exactly: adding a node moves keys ONLY onto the
    new node; removing a node moves only that node's keys."""
    from machinelearningalgomapreduce_spark.operators.export import rendezvous_assign

    docs = load_tables(spark, sf_dir).documents.select("doc_id")
    nodes = [f"node-{i}" for i in range(4)]
    a = {r["doc_id"]: r["assigned_node"]
         for r in rendezvous_assign(docs, "doc_id", nodes).collect()}
    b = {r["doc_id"]: r["assigned_node"]
         for r in rendezvous_assign(docs, "doc_id", nodes + ["node-4"]).collect()}
    moved = {k for k in a if a[k] != b[k]}
    assert all(b[k] == "node-4" for k in moved)
    # Expected share ≈ 1/5 of keys; generous band.
    assert 0.05 < len(moved) / len(a) < 0.40
    # Removal symmetry: dropping node-4 restores the original assignment.
    c = {r["doc_id"]: r["assigned_node"]
         for r in rendezvous_assign(docs, "doc_id", nodes).collect()}
    assert c == a
    # Balance: every node gets a non-trivial share under 4 nodes.
    from collections import Counter

    shares = Counter(a.values())
    assert set(shares) == set(nodes)
    assert min(shares.values()) > 0.1 * len(a) / len(nodes)


# ------------------------------- property-based checks (new surfaces)

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_batches = st.lists(
    st.dictionaries(
        st.sampled_from(["k0", "k1", "k2", "k3"]),
        st.sampled_from(["AMS", "BER", "CPH", "DUB"]),
        min_size=1,
        max_size=4,
    ),
    min_size=1,
    max_size=3,
)


@given(batches=_batches)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_scd2_matches_model_under_random_batches(spark, batches):
    """Applying arbitrary update batches in sequence keeps SCD2 exactly
    equal to a plain-Python dimension model: identical full history,
    exactly one open row per live key, closed intervals immutable."""
    dim = spark.createDataFrame(
        [("k0", "AMS", "2019-01-01", None)],
        "key string, city string, valid_from string, valid_to string",
    )
    model = {"k0": [["AMS", "2019-01-01", None]]}
    for i, batch in enumerate(batches):
        ts = f"2020-01-{i + 1:02d}"
        updates = spark.createDataFrame(
            [(k, c, ts) for k, c in sorted(batch.items())],
            "key string, city string, ts string",
        )
        dim = scd2_apply(dim, updates, "key", ["city"], "ts")
        for k, c in sorted(batch.items()):
            hist = model.setdefault(k, [])
            if hist and hist[-1][2] is None:
                if hist[-1][0] == c:
                    continue  # identical → no-op
                hist[-1][2] = ts
            hist.append([c, ts, None])
    got = sorted(map(tuple, dim.collect()))
    want = sorted(
        (k, c, vf, vt) for k, hist in model.items() for c, vf, vt in hist
    )
    assert got == want
    open_per_key = {}
    for k, _c, _vf, vt in got:
        if vt is None:
            open_per_key[k] = open_per_key.get(k, 0) + 1
    assert all(v == 1 for v in open_per_key.values())


@given(vals=st.lists(st.integers(min_value=0, max_value=30), min_size=2, max_size=60))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_count_min_bounds_hold_on_random_multisets(spark, vals):
    """CM guarantees on arbitrary multisets: estimate ≥ exact for every
    value, and a random split merges to exactly the whole-set sketch."""
    from collections import Counter

    from machinelearningalgomapreduce_spark.operators import sketches as sk

    df = spark.createDataFrame([(str(v),) for v in vals], "item string")
    sketch = sk.count_min_build(df, "item", depth=3, width=32)
    ests = {
        r["item"]: r["est_count"]
        for r in sk.count_min_estimate(
            sketch, df.distinct(), "item", depth=3, width=32
        ).collect()
    }
    truth = Counter(str(v) for v in vals)
    for item, n in truth.items():
        assert ests[item] >= n
    half = max(1, len(vals) // 2)  # min_size=2 ⇒ both halves non-empty
    a = spark.createDataFrame([(str(v),) for v in vals[:half]], "item string")
    b = spark.createDataFrame([(str(v),) for v in vals[half:]], "item string")
    merged = sk.count_min_merge(
        sk.count_min_build(a, "item", depth=3, width=32),
        sk.count_min_build(b, "item", depth=3, width=32),
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, sketch.collect()))


def test_hmm_forward_bit_equal_across_layouts(spark, sf_dir):
    """The float-emitting forward pass is bit-identical under a different
    partition layout (the classicml cross-layout discipline): each user's
    fold happens in one task over a deterministically ordered array, so
    partitioning must not touch any emitted double."""
    import struct

    events = load_tables(spark, sf_dir).events

    def snapshot():
        rows = {}
        for r in seq.hmm_forward(events).collect():
            rows[r["user_id"]] = (
                struct.pack("<d", r["loglik"]).hex(),
                tuple(struct.pack("<d", a).hex() for a in r["alpha"]),
            )
        return rows

    base = snapshot()
    shuffle0 = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        assert snapshot() == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle0)


def test_register_views_full_sql_surface(spark, sf_dir):
    """All ten tables are queryable via plain spark.sql after one
    register_views call; SQL results match the DataFrame API exactly."""
    from machinelearningalgomapreduce_spark.sources.catalog import register_views

    names = register_views(spark, sf_dir)
    assert len(names) == 10
    sql = spark.sql(
        """
        SELECT c.c_mktsegment AS seg, count(*) AS n,
               round(sum(o.o_totalprice), 2) AS total
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment ORDER BY seg
        """
    ).collect()
    t = load_tables(spark, sf_dir)
    df = (
        t.customer.join(t.orders, t.orders.o_custkey == t.customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("seg")
        .collect()
    )
    assert list(map(tuple, sql)) == list(map(tuple, df))
    # Every registered view answers a trivial probe.
    for name in names:
        assert spark.sql(f"SELECT count(*) AS n FROM {name}").collect()[0]["n"] >= 0


# -------------------------- SCC / decomposition / survival / isotonic

def test_scc_forward_backward(spark):
    """SCC(pivot) = forward-reach ∩ backward-reach on a digraph with two
    cycles joined one-way."""
    from machinelearningalgomapreduce_spark.operators.graph import scc_members

    e = spark.createDataFrame(
        [("a1", "a2"), ("a2", "a3"), ("a3", "a1"), ("a3", "b1"),
         ("b1", "b2"), ("b2", "b1"), ("b2", "c1")],
        "src string, dst string",
    )
    assert {r["node"] for r in scc_members(e, "a1").collect()} == {"a1", "a2", "a3"}
    assert {r["node"] for r in scc_members(e, "b1").collect()} == {"b1", "b2"}
    assert {r["node"] for r in scc_members(e, "c1").collect()} == {"c1"}


def test_decompose_series_matches_python(spark, sf_dir):
    """Additive decomposition: exact differential vs a Python re-fold for
    one event type, seasonal zero-sum per type, exact additivity."""
    from machinelearningalgomapreduce_spark.operators.timeseries import decompose_series

    rows = decompose_series(spark, sf_dir).collect()
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r["hour"])
        # Additivity is exact by construction.
        for r in rs:
            assert r["y"] == pytest.approx(
                r["trend"] + r["seasonal"] + r["residual"], abs=1e-9
            )
        s_by_hod = {}
        for r in rs:
            s_by_hod[r["hour"].hour] = r["seasonal"]
        assert sum(s_by_hod.values()) == pytest.approx(0.0, abs=1e-9)
    # Python re-fold of the trend + seasonal pipeline for one type.
    et, rs = next(iter(by_type.items()))
    y = [r["y"] for r in rs]
    half = 12
    trend = [
        sum(y[max(0, i - half): i + half + 1]) / len(y[max(0, i - half): i + half + 1])
        for i in range(len(y))
    ]
    for r, tr in zip(rs, trend):
        assert r["trend"] == pytest.approx(tr, rel=1e-12)


def test_kaplan_meier_matches_python(spark, sf_dir):
    """KM curve vs a pure-Python estimator over the same per-user
    (duration, event) frame: risk sets, death counts and survival match;
    survival is non-increasing from 1."""
    from machinelearningalgomapreduce_spark.operators.behavior import kaplan_meier

    got = sorted(kaplan_meier(spark, sf_dir).collect(), key=lambda r: r["t_s"])
    assert got

    events = load_tables(spark, sf_dir).events
    us = F.unix_micros("ts")
    clicks = {}
    purchases = {}
    last = {}
    for r in events.select("user_id", "event_type", us.alias("us")).collect():
        u = r["user_id"]
        last[u] = max(last.get(u, 0), r["us"])
        if r["event_type"] == "click":
            clicks[u] = min(clicks.get(u, 1 << 62), r["us"])
        elif r["event_type"] == "purchase":
            purchases.setdefault(u, []).append(r["us"])
    durations = []
    for u, c in clicks.items():
        after = [p for p in purchases.get(u, []) if p > c]
        if after:
            durations.append(((min(after) - c) // 1_000_000, True))
        else:
            durations.append(((last[u] - c) // 1_000_000, False))
    durations = [(t, e) for t, e in durations if t >= 0]
    times = sorted({t for t, _e in durations})
    n_risk = len(durations)
    s = 1.0
    expect = {}
    for t in times:
        d = sum(1 for tt, e in durations if tt == t and e)
        c = sum(1 for tt, e in durations if tt == t and not e)
        if d:
            s *= 1.0 - d / n_risk
        expect[t] = (n_risk, d, c, s)
        n_risk -= d + c
    assert [r["t_s"] for r in got] == times
    prev = 1.0
    for r in got:
        nr, d, c, s = expect[r["t_s"]]
        assert (r["n_risk"], r["n_events"], r["n_censored"]) == (nr, d, c)
        assert r["survival"] == pytest.approx(s, rel=1e-6)
        assert r["survival"] <= prev + 1e-12
        prev = r["survival"]


def test_isotonic_fit_monotone(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators.ml import isotonic_fit

    _model, calibrated = isotonic_fit(spark, sf_dir)
    rows = sorted(calibrated.collect(), key=lambda r: r["score"])
    preds = [r["prediction"] for r in rows]
    assert all(b >= a - 1e-12 for a, b in zip(preds, preds[1:]))
    assert 0.0 <= min(preds) and max(preds) <= 1.0


# ----------------------------------- review-pass regression coverage

def test_scd2_stale_update_ignored(spark):
    """An out-of-order update older than the open version is ignored —
    no inverted validity interval, the newer version stays open."""
    dim = spark.createDataFrame(
        [("k1", "CPH", "2022-03-01", None)],
        "key string, city string, valid_from string, valid_to string",
    )
    stale = spark.createDataFrame(
        [("k1", "AMS", "2022-01-01")], "key string, city string, ts string"
    )
    out = sorted(map(tuple, scd2_apply(dim, stale, "key", ["city"], "ts").collect()))
    assert out == [("k1", "CPH", "2022-03-01", None)]


def test_ppr_isolated_seed_keeps_mass(spark):
    """A seed with no edges still carries its restart mass (Σpi = 1)."""
    rows = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(_toy_edges(spark), ["a", "zz"], n_iter=10).collect()
    }
    assert "zz" in rows and rows["zz"] > 0
    assert math.isclose(sum(rows.values()), 1.0, rel_tol=1e-9)


def test_sessionizer_late_events(spark, tmp_path):
    """Out-of-order arrivals, three micro-batches with a watermark delay
    wider than the gap: an in-gap late event extends the open session
    BACKWARDS (start = min); one older than start − gap is emitted as its
    own closed 'gap' singleton, never folded into a session it predates.
    An event that reaches the operator when its session's timeout is
    already below the watermark (user 2: the engine filters late rows by
    the previous batch's watermark, the timeout is checked against the
    current one) closes at once as 'timer'."""
    from machinelearningalgomapreduce_spark.streaming.stateful import (
        SESSION_GAP_US,
        user_sessions,
    )
    from tests.conftest import file_stream, run_stream

    base = 1_700_000_000_000_000
    batches = [
        [(1, base)],
        [(1, base - SESSION_GAP_US // 2), (2, base - 10 * SESSION_GAP_US)],
        # the old event, and one past the gap that closes the open session
        [(1, base - 5 * SESSION_GAP_US), (1, base + 3 * SESSION_GAP_US)],
    ]
    frames = [
        spark.createDataFrame(rows, "user_id long, us long").select(
            "user_id", F.timestamp_micros("us").alias("ts")
        )
        for rows in batches
    ]
    stream = file_stream(spark, tmp_path, frames)
    got, q = run_stream(
        user_sessions(stream, watermark_delay="4 hours"),
        "t_sessions_late",
        tmp_path / "ck",
        output_mode="append",
    )
    assert sorted(
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"], r["closed_by"])
        for r in got
    ) == [
        (1, base - 5 * SESSION_GAP_US, base - 5 * SESSION_GAP_US, 1, "gap"),
        (1, base - SESSION_GAP_US // 2, base, 2, "gap"),
        (2, base - 10 * SESSION_GAP_US, base - 10 * SESSION_GAP_US, 1, "timer"),
    ]
    # only the session opened by the last event is still in state
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 1


def test_plan_lint_single_partition_detector(spark):
    """The lint's structural check: a global unpartitioned Window is
    flagged; a partial→final global rollup is not."""
    from pyspark.sql import Window as W2

    from tools.plan_lint import single_partition_violations

    bad = spark.range(1000).withColumn("rn", F.row_number().over(W2.orderBy("id")))
    assert single_partition_violations(
        bad._jdf.queryExecution().executedPlan().toString()
    )
    good = spark.range(1000).agg(F.sum("id"))
    assert not single_partition_violations(
        good._jdf.queryExecution().executedPlan().toString()
    )


def test_manifest_append_extends_manifest(spark, sf_dir, tmp_path):
    """A second append job EXTENDS manifest.json instead of dropping the
    first job's shards from it."""
    import json

    from machinelearningalgomapreduce_spark.sources.custom import ManifestJsonlSink

    spark.dataSource.register(ManifestJsonlSink)
    out = str(tmp_path / "exp")
    docs = load_tables(spark, sf_dir).documents.select("doc_id").repartition(2)
    docs.write.format("manifest_jsonl").option("path", out).mode("append").save()
    docs.write.format("manifest_jsonl").option("path", out).mode("append").save()
    manifest = json.loads((tmp_path / "exp" / "manifest.json").read_text())
    n = docs.count()
    assert manifest["total_rows"] == 2 * n
    assert len(manifest["shards"]) == 4


# ------------------------------------------- custom DataSource writer

def test_manifest_jsonl_sink_round_trip(spark, sf_dir, tmp_path):
    """Two-phase-commit custom writer: shards + manifest agree with the
    input exactly (row count, per-shard counts, order-insensitive
    checksums), and reading the shards back recovers the same rows."""
    import json

    from machinelearningalgomapreduce_spark.sources.custom import ManifestJsonlSink

    spark.dataSource.register(ManifestJsonlSink)
    out = str(tmp_path / "export")
    docs = (
        load_tables(spark, sf_dir)
        .documents.select("doc_id", "source")
        .repartition(3)
    )
    docs.write.format("manifest_jsonl").option("path", out).mode("append").save()

    manifest = json.loads((tmp_path / "export" / "manifest.json").read_text())
    n = docs.count()
    assert manifest["total_rows"] == n
    assert len(manifest["shards"]) == 3
    assert sum(s["n_rows"] for s in manifest["shards"]) == n

    back = []
    for s in manifest["shards"]:
        with open(tmp_path / "export" / s["path"], encoding="utf-8") as fh:
            lines = [json.loads(line) for line in fh]
        assert len(lines) == s["n_rows"]
        back.extend(lines)
    assert sorted(r["doc_id"] for r in back) == sorted(
        r["doc_id"] for r in docs.collect()
    )

    # Checksum is content-derived: same data re-exported → same totals.
    out2 = str(tmp_path / "export2")
    docs.write.format("manifest_jsonl").option("path", out2).mode("append").save()
    manifest2 = json.loads((tmp_path / "export2" / "manifest.json").read_text())
    assert manifest2["total_checksum"] == manifest["total_checksum"]


# ------------------------------------------------- streaming dedup sink

def test_dedup_ingest_replay_is_deterministic(spark, sf_dir, tmp_path):
    """The crash-replay contract of the index log: re-running the SAME
    epoch after its index commit landed is a ledger no-op, so the output
    is unchanged — no loss, no duplication."""
    from machinelearningalgomapreduce_spark.streaming.sinks import _ingest_batch

    index_dir = str(tmp_path / "idx")
    out_dir = str(tmp_path / "out")
    docs = load_tables(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
    ingest = _ingest_batch(spark, index_dir, out_dir, "runA")

    ingest(docs, 0)
    first = sorted(
        r["doc_id"] for r in spark.read.parquet(out_dir).select("doc_id").collect()
    )
    ingest(docs, 0)  # simulated replay of the same epoch
    again = sorted(
        r["doc_id"] for r in spark.read.parquet(out_dir).select("doc_id").collect()
    )
    assert again == first
    # A LATER epoch over the same docs admits nothing (index now holds them).
    ingest(docs, 1)
    final = spark.read.parquet(out_dir).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in final) == first


def test_scd2_ingest_stream_merges_batches(spark, tmp_path):
    """Streaming SCD2 maintenance: two availableNow runs of update batches
    produce the same dimension as applying the batches in order."""
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        read_scd2_dimension,
        scd2_ingest_stream,
    )

    dim_dir = str(tmp_path / "dim")
    src = tmp_path / "updates"
    src.mkdir()

    u1 = spark.createDataFrame(
        [("k1", "AMS", "2022-01-01"), ("k2", "BER", "2022-01-01")],
        "key string, city string, ts string",
    )
    u1.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "u1"))
    import shutil

    part = next(p for p in (tmp_path / "u1").iterdir() if p.name.endswith(".parquet"))
    shutil.copy(part, src / "b1.parquet")

    stream = spark.readStream.schema("key string, city string, ts string").parquet(
        str(src)
    )
    q = scd2_ingest_stream(
        spark, stream, dim_dir, str(tmp_path / "ck1"), "key", ["city"]
    )
    drain(q, 420)

    u2 = spark.createDataFrame(
        [("k1", "CPH", "2022-02-01"), ("k3", "DUB", "2022-02-01")],
        "key string, city string, ts string",
    )
    u2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "u2"))
    part2 = next(p for p in (tmp_path / "u2").iterdir() if p.name.endswith(".parquet"))
    shutil.copy(part2, src / "b2.parquet")

    stream2 = spark.readStream.schema("key string, city string, ts string").parquet(
        str(src)
    )
    q2 = scd2_ingest_stream(
        spark, stream2, dim_dir, str(tmp_path / "ck2"), "key", ["city"]
    )
    drain(q2, 420)

    rows = sorted(map(tuple, read_scd2_dimension(spark, dim_dir).collect()))
    assert rows == sorted(
        [
            ("k1", "AMS", "2022-01-01", "2022-02-01"),
            ("k1", "CPH", "2022-02-01", None),
            ("k2", "BER", "2022-01-01", None),
            ("k3", "DUB", "2022-02-01", None),
        ]
    )


def test_streaming_dedup_ingest(spark, sf_dir, tmp_path):
    from machinelearningalgomapreduce_spark.streaming.sinks import dedup_ingest_stream

    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "out")

    q = dedup_ingest_stream(
        spark, sf_dir, index_dir, out_dir, str(tmp_path / "ck1")
    )
    drain(q, 420)
    first = spark.read.parquet(out_dir)
    n_distinct = (
        load_tables(spark, sf_dir)
        .documents.select(F.md5("text")).distinct().count()
    )
    assert first.select("content_hash").distinct().count() == first.count() == n_distinct

    # Second run over the SAME source (fresh checkpoint => everything is
    # re-delivered as new data): the persistent index must reject all of it.
    q2 = dedup_ingest_stream(
        spark, sf_dir, index_dir, out_dir, str(tmp_path / "ck2")
    )
    drain(q2, 420)
    again = spark.read.parquet(out_dir)
    assert again.count() == n_distinct


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_streaming_semantic_dedup_ingest(spark, sf_dir, tmp_path):
    """r11: streaming SEMANTIC dedup ingestion over a persisted IVF
    index — admitted set has no within-run near-dup pair; a second run
    over the same source (fresh checkpoint = everything re-delivered)
    admits NOTHING (every vector now has an indexed near-dup: itself);
    the admitted set equals the index state."""
    from machinelearningalgomapreduce_spark.operators.dedup import (
        EMBEDDING_COSINE_THRESHOLD,
        embedding_dedup_blocked_frame,
    )
    from machinelearningalgomapreduce_spark.operators.ml import label_centroids
    from machinelearningalgomapreduce_spark.operators.ivf_index import IVFIndexView
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        semantic_dedup_ingest_stream,
    )

    t = load_tables(spark, sf_dir)
    cents = [
        (r.label, list(r.centroid)) for r in label_centroids(t.embeddings).collect()
    ]
    idx = IVFIndexView(str(tmp_path / "sivf"), cents, dim=EMBEDDING_DIM, n_probe=2)
    out_dir = str(tmp_path / "sout")

    q = semantic_dedup_ingest_stream(
        spark, sf_dir, idx, out_dir, str(tmp_path / "sck1")
    )
    drain(q, 420)
    admitted = spark.read.parquet(out_dir).select("vec_id", "embedding")
    n_admitted = admitted.count()
    assert 0 < n_admitted <= t.embeddings.count()
    # admitted set == index state (the two writes commit together)
    assert {r.vec_id for r in admitted.collect()} == {
        r.vec_id for r in idx.read(spark).collect()
    }
    # no near-dup pair SURVIVES among the admitted (blocked-path check —
    # the same candidate generator the sink used)
    leftover = embedding_dedup_blocked_frame(spark, admitted).filter(
        F.col("cos_sim") >= EMBEDDING_COSINE_THRESHOLD
    )
    assert leftover.isEmpty()

    # Second run, fresh checkpoint (= fresh run_key, so every epoch is
    # NEW, not a ledger replay): the same vec_ids re-arrive. A re-sent
    # vec_id is an UPSERT by the index contract (exclude_self drops the
    # identity match; newest-wins at compaction), NOT a near-dup drop —
    # so re-admission of isolated vectors is by design, and the invariant
    # to pin is that the compacted index still holds exactly one row per
    # vec_id (no duplicate identity rows pile up across runs).
    q2 = semantic_dedup_ingest_stream(
        spark, sf_dir, idx, out_dir, str(tmp_path / "sck2")
    )
    drain(q2, 420)
    idx.compact(spark)
    state = idx.read(spark).collect()
    assert len(state) == len({r.vec_id for r in state})


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_semantic_ingest_nondefault_threshold_governs_both_stages(
    spark, sf_dir, tmp_path
):
    """r11 review: a caller-supplied threshold must bind the WITHIN-BATCH
    collapse too, not only the index probe. The fixture drains in ONE
    batch, so both runs train the same quantizer on the same frame and
    see the SAME candidate pairs — at 0.30 every ≥0.45 edge is still an
    edge plus the [0.30, 0.45) band (non-empty, asserted), so clusters
    only merge and min-id survivorship gives admitted(0.30) a STRICT
    subset of admitted(0.45). (Admission recall across independently
    trained blockings is approximate by IVF construction — the operator
    docstrings own that — so the test pins the threshold plumbing via
    this same-candidates subset relation, not a global no-pair claim.)"""
    from machinelearningalgomapreduce_spark.operators.dedup import (
        embedding_dedup_blocked_frame,
    )
    from machinelearningalgomapreduce_spark.operators.ivf_index import IVFIndexView
    from machinelearningalgomapreduce_spark.operators.ml import label_centroids
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        semantic_dedup_ingest_stream,
    )

    t = load_tables(spark, sf_dir)
    band = embedding_dedup_blocked_frame(
        spark, t.embeddings.select("vec_id", "embedding"), verify=False
    ).filter((F.col("cos_sim") >= 0.30) & (F.col("cos_sim") < 0.45))
    assert not band.isEmpty(), "fixture should exercise the [0.30, 0.45) band"

    cents = [
        (r.label, list(r.centroid)) for r in label_centroids(t.embeddings).collect()
    ]

    def run(tag, threshold):
        idx = IVFIndexView(
            str(tmp_path / f"ivf_{tag}"), cents, dim=EMBEDDING_DIM, n_probe=2
        )
        out = str(tmp_path / f"out_{tag}")
        q = semantic_dedup_ingest_stream(
            spark, sf_dir, idx, out, str(tmp_path / f"ck_{tag}"),
            threshold=threshold,
        )
        drain(q, 420)
        return {r.vec_id for r in spark.read.parquet(out).collect()}

    loose = run("l", 0.45)
    tight = run("t", 0.30)
    assert tight < loose  # strict subset: the band edges merged clusters


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_streaming_semantic_dedup_ingest_pq_backed(spark, sf_dir, tmp_path):
    """VERDICT r11 item 3: the semantic sink runs over an IVFPQIndexView —
    the index that fits the 100 TB storage budget (codes-only segments) —
    with the SAME admitted-set assertions as the full-vector run: no
    surviving near-dup among the admitted, admitted ≡ index state,
    re-sent ids are upserts resolved to one row by compaction, and the
    upsert/membership invariant holds under rebuild_pq (retrain from the
    admission log)."""
    from machinelearningalgomapreduce_spark.operators.dedup import (
        EMBEDDING_COSINE_THRESHOLD,
        embedding_dedup_blocked_frame,
    )
    from machinelearningalgomapreduce_spark.operators.ivf_pq import IVFPQIndexView
    from machinelearningalgomapreduce_spark.operators.ml import label_centroids
    from machinelearningalgomapreduce_spark.operators.similarity import pq_fit
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        semantic_dedup_ingest_stream,
    )

    t = load_tables(spark, sf_dir)
    cents = [
        (r.label, list(r.centroid)) for r in label_centroids(t.embeddings).collect()
    ]
    books, _err = pq_fit(spark, sf_dir, k=8, n_iter=2)
    cbs = [(r.sub, r.code, list(r.centroid)) for r in books.collect()]
    idx = IVFPQIndexView(
        str(tmp_path / "spq"), cents, cbs, dim=EMBEDDING_DIM, n_probe=2
    )
    out = str(tmp_path / "pqout")
    q = semantic_dedup_ingest_stream(
        spark, sf_dir, idx, out, str(tmp_path / "pqck1")
    )
    drain(q, 420)
    admitted = spark.read.parquet(out).select("vec_id", "embedding")
    assert 0 < admitted.count() <= t.embeddings.count()
    # admitted set == index state (the two writes commit together)
    assert {r.vec_id for r in admitted.collect()} == {
        r.vec_id for r in idx.read(spark).collect()
    }
    # no near-dup pair SURVIVES among the admitted
    leftover = embedding_dedup_blocked_frame(spark, admitted).filter(
        F.col("cos_sim") >= EMBEDDING_COSINE_THRESHOLD
    )
    assert leftover.isEmpty()

    # Second run, fresh checkpoint: re-sent ids are UPSERTS (the index
    # contract); compaction must resolve the codes to one row per vec_id.
    q2 = semantic_dedup_ingest_stream(
        spark, sf_dir, idx, out, str(tmp_path / "pqck2")
    )
    drain(q2, 420)
    idx.compact(spark)
    state = idx.read(spark).collect()
    assert len(state) == len({r.vec_id for r in state})

    # rebuild_pq from the admission log (the sink's own full-vector
    # corpus): membership must be exactly the compacted index's vec_ids.
    fv = (
        spark.read.parquet(out)
        .groupBy("vec_id")
        .agg(F.max("embedding").alias("embedding"))
    )
    new = idx.rebuild_pq(spark, cents, cbs, fv, str(tmp_path / "spq2"))
    assert {r.vec_id for r in new.read(spark).collect()} == {
        r.vec_id for r in state
    }


def test_sessionizer_state_bounded_by_timer_cleanup(spark, sf_dir, tmp_path):
    """State is bounded by open sessions: a timeout emits its session and
    removes the state. After the two fixture halves, a sentinel event for
    another user far enough in the future moves the watermark past every
    fixture session, so each session comes out exactly once and the
    sentinel's is the only state row left."""
    from machinelearningalgomapreduce_spark.streaming.stateful import user_sessions
    from tests.conftest import file_stream, run_stream

    rows, halves = _fixture_halves(spark, sf_dir)
    sentinel_us = rows[-1]["us"] + 86_400_000_000
    sentinel = spark.createDataFrame(
        [(-1, sentinel_us)], "user_id long, us long"
    ).select("user_id", F.timestamp_micros("us").alias("ts"))
    stream = file_stream(spark, tmp_path, [*halves, sentinel])
    got, q = run_stream(
        user_sessions(stream), "t_sessions_cleanup", tmp_path / "ck",
        output_mode="append",
    )

    expected = _gap_sessions(rows)
    emitted = _sessions(got, "gap") + _sessions(got, "timer")
    assert sorted(emitted) == sorted(
        (u, *s) for u, ss in expected.items() for s in ss
    )
    assert sorted(_sessions(got, "timer")) == sorted(
        (u, *ss[-1]) for u, ss in expected.items()
    )
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 1


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_pq_sink_refuses_uncovered_index(spark, sf_dir, tmp_path):
    """r12 review: a PQ index populated OUTSIDE the sink has no admission
    log to re-rank against — its vectors would silently drop from the
    re-rank join and their near-dups be admitted. The sink must refuse
    loudly and name the full_vectors= escape hatch; supplying
    full_vectors= makes the same setup work."""
    import pytest

    from machinelearningalgomapreduce_spark.operators.ivf_pq import IVFPQIndexView
    from machinelearningalgomapreduce_spark.operators.ml import label_centroids
    from machinelearningalgomapreduce_spark.operators.similarity import pq_fit
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        semantic_dedup_ingest_stream,
    )

    t = load_tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "embedding")
    cents = [
        (r.label, list(r.centroid)) for r in label_centroids(t.embeddings).collect()
    ]
    books, _err = pq_fit(spark, sf_dir, k=8, n_iter=2)
    cbs = [(r.sub, r.code, list(r.centroid)) for r in books.collect()]
    idx = IVFPQIndexView(
        str(tmp_path / "extpq"), cents, cbs, dim=EMBEDDING_DIM, n_probe=2
    )
    idx.refresh(spark, emb, batch_id="external-bootstrap")  # outside the sink

    q = semantic_dedup_ingest_stream(
        spark, sf_dir, idx, str(tmp_path / "extout"), str(tmp_path / "extck")
    )
    with pytest.raises(Exception, match="admission log"):
        drain(q, 420)

    q2 = semantic_dedup_ingest_stream(
        spark, sf_dir, idx, str(tmp_path / "extout2"), str(tmp_path / "extck2"),
        full_vectors=emb,
    )
    drain(q2, 420)
    # every re-delivered vector has an indexed near-dup (itself is
    # excluded, but exact copies aren't present) — isolated ones re-admit
    # as upserts; the invariant is simply that the run completes and the
    # compacted index holds one row per vec_id
    idx.compact(spark)
    state = idx.read(spark).collect()
    assert len(state) == len({r.vec_id for r in state})


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_pq_sink_refuses_on_deleted_log_epoch(spark, sf_dir, tmp_path):
    """r12 ADVICE: the pruned-log re-rank must fail LOUDLY when admission
    log epochs were deleted out from under the index — the silent
    failure mode is near-duplicates of the uncovered vectors getting
    admitted. First run builds index+log; we delete the log epoch and
    re-deliver: candidates the index surfaces now have no full vectors
    in the log, and the batch must raise instead of under-covering."""
    import os
    import shutil

    import pytest

    from machinelearningalgomapreduce_spark.operators.ivf_pq import IVFPQIndexView
    from machinelearningalgomapreduce_spark.operators.ml import label_centroids
    from machinelearningalgomapreduce_spark.operators.similarity import pq_fit
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        semantic_dedup_ingest_stream,
    )

    t = load_tables(spark, sf_dir)
    cents = [
        (r.label, list(r.centroid)) for r in label_centroids(t.embeddings).collect()
    ]
    books, _err = pq_fit(spark, sf_dir, k=8, n_iter=2)
    cbs = [(r.sub, r.code, list(r.centroid)) for r in books.collect()]
    idx = IVFPQIndexView(
        str(tmp_path / "gap_pq"), cents, cbs, dim=EMBEDDING_DIM, n_probe=2
    )
    out = str(tmp_path / "gap_out")
    q = semantic_dedup_ingest_stream(
        spark, sf_dir, idx, out, str(tmp_path / "gap_ck1")
    )
    drain(q, 420)
    epochs = [d for d in os.listdir(out) if d.startswith("batch=")]
    assert epochs  # the first run admitted something
    for d in epochs:
        shutil.rmtree(os.path.join(out, d))

    q2 = semantic_dedup_ingest_stream(
        spark, sf_dir, idx, out, str(tmp_path / "gap_ck2")
    )
    with pytest.raises(Exception, match="no full vectors for"):
        drain(q2, 420)


def test_hash_sink_crash_between_output_and_index_replays_identically(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r12 item 5 (kill-point, hash sink): crash INSIDE the
    two-write window — after the epoch output lands, before the index
    log's segment write — then restart on the same checkpoint. The replayed epoch
    must converge bit-identically to a clean one-shot run: no document
    admitted twice, no document lost, one index row per content hash."""
    import os

    import pyspark.sql.readwriter as RW
    import pytest

    from machinelearningalgomapreduce_spark.operators.matview import _read_pointer
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        dedup_ingest_stream,
        read_dedup_index,
    )

    idx_dir = str(tmp_path / "cidx")
    out = str(tmp_path / "cout")
    fired = {"done": False}
    orig = RW.DataFrameWriter.parquet

    def boom(self, path, *a, **kw):
        if path.startswith(os.path.join(idx_dir, "seg-")) and not fired["done"]:
            fired["done"] = True
            raise RuntimeError("injected crash before index segment write")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(RW.DataFrameWriter, "parquet", boom)
    q = dedup_ingest_stream(spark, sf_dir, idx_dir, out, str(tmp_path / "cck"))
    with pytest.raises(Exception, match="injected crash"):
        drain(q, 420)
    monkeypatch.undo()
    assert fired["done"]  # the kill-point actually fired
    # the crash window state: output epoch dir written, nothing committed
    assert any(d.startswith("epoch=") for d in os.listdir(out))
    assert _read_pointer(idx_dir) == 0

    # restart on the SAME checkpoint: Structured Streaming replays epoch 0
    q2 = dedup_ingest_stream(spark, sf_dir, idx_dir, out, str(tmp_path / "cck"))
    drain(q2, 420)

    # clean one-shot twin for the bit-identical comparison
    q3 = dedup_ingest_stream(
        spark, sf_dir, str(tmp_path / "tidx"), str(tmp_path / "tout"),
        str(tmp_path / "tck"),
    )
    drain(q3, 420)

    got = spark.read.parquet(out).select("doc_id", "text").collect()
    want = spark.read.parquet(str(tmp_path / "tout")).select(
        "doc_id", "text"
    ).collect()
    assert {tuple(r) for r in got} == {tuple(r) for r in want}
    assert len(got) == len({r.doc_id for r in got})  # no dup admission
    idx = read_dedup_index(spark, idx_dir).select("content_hash", "doc_id").collect()
    tidx = read_dedup_index(spark, str(tmp_path / "tidx")).select(
        "content_hash", "doc_id"
    ).collect()
    assert {tuple(r) for r in idx} == {tuple(r) for r in tidx}
    assert len(idx) == len({r.content_hash for r in idx})  # one row per hash


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_semantic_sink_crash_between_output_and_refresh_replays_identically(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r12 item 5 (kill-point, semantic sink): crash between the
    epoch output write and the index refresh commit, restart on the same
    checkpoint, and assert the replay converges to a clean run's state —
    same admitted vec_ids in the log, same index membership, the epoch
    committed exactly once to the ledger."""
    import os

    import pytest

    from machinelearningalgomapreduce_spark.operators.ivf_index import IVFIndexView
    from machinelearningalgomapreduce_spark.operators.ml import label_centroids
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        semantic_dedup_ingest_stream,
    )

    t = load_tables(spark, sf_dir)
    cents = [
        (r.label, list(r.centroid)) for r in label_centroids(t.embeddings).collect()
    ]
    idx = IVFIndexView(str(tmp_path / "sidx"), cents, dim=EMBEDDING_DIM, n_probe=2)
    out = str(tmp_path / "sout")
    orig_refresh = idx.refresh
    fired = {"done": False}

    def boom(*a, **kw):
        fired["done"] = True
        raise RuntimeError("injected crash before index refresh")

    monkeypatch.setattr(idx, "refresh", boom)
    q = semantic_dedup_ingest_stream(
        spark, sf_dir, idx, out, str(tmp_path / "sck")
    )
    with pytest.raises(Exception, match="injected crash"):
        drain(q, 420)
    monkeypatch.undo()
    assert fired["done"]
    # crash window: the epoch output landed, the index never committed
    assert any(d.startswith("batch=") for d in os.listdir(out))
    assert idx.current_version() == 0

    q2 = semantic_dedup_ingest_stream(
        spark, sf_dir, idx, out, str(tmp_path / "sck")
    )
    drain(q2, 420)

    idx2 = IVFIndexView(str(tmp_path / "tidx"), cents, dim=EMBEDDING_DIM, n_probe=2)
    q3 = semantic_dedup_ingest_stream(
        spark, sf_dir, idx2, str(tmp_path / "tout"), str(tmp_path / "tck")
    )
    drain(q3, 420)

    got = spark.read.parquet(out).select("vec_id", "embedding").collect()
    want = spark.read.parquet(str(tmp_path / "tout")).select(
        "vec_id", "embedding"
    ).collect()
    assert {(r.vec_id, tuple(r.embedding)) for r in got} == {
        (r.vec_id, tuple(r.embedding)) for r in want
    }
    assert len(got) == len({r.vec_id for r in got})  # no dup admission
    assert {r.vec_id for r in idx.read(spark).collect()} == {
        r.vec_id for r in idx2.read(spark).collect()
    }
    assert len(idx.applied_batches()) == 1  # the epoch committed ONCE
