"""IVFIndexView: the persisted IVF index must equal the recomputed
assignment/query path, survive replays and crashes, prune its scans to
the probed cells, and keep old versions readable until vacuum."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.operators.ivf_index import IVFIndexView
from machinelearningalgomapreduce_spark.operators.ml import label_centroids
from machinelearningalgomapreduce_spark.sources.catalog import load_tables
from tests.conftest import SMOKE_SF_DIR

from tests.conftest import drain

DIM = 64


@functools.cache  # one quantizer per session: label_centroids runs a Spark job
def _centroids(spark):
    t = load_tables(spark, SMOKE_SF_DIR)
    return [
        (r.label, list(r.centroid))
        for r in label_centroids(t.embeddings).collect()
    ]


def _batches(spark, n=3):
    e = load_tables(spark, SMOKE_SF_DIR).embeddings.select("vec_id", "embedding")
    return e, [e.filter(F.pmod("vec_id", F.lit(n)) == i) for i in range(n)]


def test_index_state_equals_recomputed_assignment(spark, tmp_path):
    full, batches = _batches(spark)
    idx = IVFIndexView(str(tmp_path / "ivf"), _centroids(spark), dim=DIM)
    for i, b in enumerate(batches):
        assert idx.refresh(spark, b, batch_id=f"b{i}") is True
    got = {(r.vec_id, r.cell) for r in idx.read(spark).collect()}
    want = {(r.vec_id, r.cell) for r in idx.assign_cells(spark, full).collect()}
    assert got == want and len(got) == full.count()


def test_replay_is_noop_and_compact_preserves_state(spark, tmp_path):
    _, batches = _batches(spark)
    idx = IVFIndexView(str(tmp_path / "ivf"), _centroids(spark), dim=DIM)
    for i, b in enumerate(batches):
        idx.refresh(spark, b, batch_id=f"b{i}")
    v = idx.current_version()
    assert idx.refresh(spark, batches[0], batch_id="b0") is False
    assert idx.current_version() == v
    before = {(r.vec_id, r.cell) for r in idx.read(spark).collect()}
    assert idx.compact(spark) == 1
    assert len(idx.segments()) == 1
    assert {(r.vec_id, r.cell) for r in idx.read(spark).collect()} == before
    assert idx.compact(spark) == 0  # single segment: no-op


def test_query_matches_recomputed_ivf_search(spark, tmp_path):
    """Index-backed search ≡ the same multi-probe IVF search recomputed
    from scratch on the same centroids (the q_sim_ann-shaped expected
    side, built from assign_cells + a brute per-probed-cell top-k)."""
    full, batches = _batches(spark)
    idx = IVFIndexView(str(tmp_path / "ivf"), _centroids(spark), dim=DIM, n_probe=2)
    for i, b in enumerate(batches):
        idx.refresh(spark, b, batch_id=f"b{i}")
    queries = full.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in idx.query(spark, queries, k=3).collect()
    }

    # expected: per query, probe the 2 nearest centroids, rank candidates
    # from the recomputed assignment by (rounded cosine desc, id)
    import math

    cents = _centroids(spark)
    assign = {r.vec_id: r.cell for r in idx.assign_cells(spark, full).collect()}
    vecs = {r.vec_id: list(r.embedding) for r in full.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))), 6)

    want = {}
    for qid in [r.query_id for r in queries.collect()]:
        qv = vecs[qid]
        by_cell = sorted(
            cents,
            key=lambda c: (round(sum((x - y) ** 2 for x, y in zip(qv, c[1])), 6), c[0]),
        )[:2]
        probed = {c[0] for c in by_cell}
        cands = [v for v in vecs if v != qid and assign[v] in probed]
        ranked = sorted(cands, key=lambda v: (-cos(qv, vecs[v]), v))[:3]
        for pos, nid in enumerate(ranked, start=1):
            want[(qid, pos)] = nid
    assert got == want


def test_query_scan_is_partition_pruned(spark, tmp_path):
    """The probed-cell filter must reach the segment scans as a PARTITION
    filter — the executed plan reads only the probed cells' directories."""
    full, batches = _batches(spark)
    idx = IVFIndexView(str(tmp_path / "ivf"), _centroids(spark), dim=DIM, n_probe=2)
    for i, b in enumerate(batches):
        idx.refresh(spark, b, batch_id=f"b{i}")
    queries = full.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = idx.query(spark, queries, k=3)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan.replace("#", " #").replace(
        "cell #", "cell#"
    ) or "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_spec_guard_and_version_travel_and_vacuum(spark, tmp_path):
    _, batches = _batches(spark)
    cents = _centroids(spark)
    idx = IVFIndexView(str(tmp_path / "ivf"), cents, dim=DIM)
    idx.refresh(spark, batches[0], batch_id="b0")
    v1 = {(r.vec_id, r.cell) for r in idx.read(spark, version=1).collect()}
    idx.refresh(spark, batches[1], batch_id="b1")
    assert {(r.vec_id, r.cell) for r in idx.read(spark, version=1).collect()} == v1
    with pytest.raises(ValueError, match="not committed"):
        idx.read(spark, version=9)

    # a different quantizer at the same path must be rejected loudly
    other = [(lbl, [x + 1.0 for x in vec]) for lbl, vec in cents]
    with pytest.raises(ValueError, match="different"):
        IVFIndexView(str(tmp_path / "ivf"), other, dim=DIM).refresh(
            spark, batches[2], batch_id="b2"
        )

    idx.compact(spark)
    removed = idx.vacuum(keep_last=1)
    assert removed
    with pytest.raises(FileNotFoundError):
        idx.read(spark, version=1)


def test_constructor_validation(spark):
    with pytest.raises(ValueError, match="at least one centroid"):
        IVFIndexView("/tmp/x", [], dim=DIM)
    with pytest.raises(ValueError, match="n_probe"):
        IVFIndexView("/tmp/x", [(0, [0.0] * DIM)], dim=DIM, n_probe=0)
    with pytest.raises(ValueError, match="dim"):
        IVFIndexView("/tmp/x", [(0, [0.0] * 3)], dim=DIM)


def test_index_maintained_from_a_stream(spark, tmp_path):
    """Composition with the streaming MV maintainer: embeddings streamed
    through mv_ingest_stream land in the index exactly once (content-
    keyed ledger), and a fresh-checkpoint full replay changes nothing."""
    from machinelearningalgomapreduce_spark.operators.matview import mv_ingest_stream

    full, _ = _batches(spark)
    src = str(tmp_path / "src")
    full.repartition(3).write.parquet(src)
    idx = IVFIndexView(str(tmp_path / "ivf_s"), _centroids(spark), dim=DIM)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = mv_ingest_stream(spark, stream, idx, str(tmp_path / "ck1"))
    drain(q, 420)
    state = {(r.vec_id, r.cell) for r in idx.read(spark).collect()}
    assert len(state) == full.count()
    # fresh checkpoint → every epoch redelivered → ledger must no-op all
    q2 = mv_ingest_stream(spark, stream, idx, str(tmp_path / "ck2"))
    drain(q2, 420)
    assert {(r.vec_id, r.cell) for r in idx.read(spark).collect()} == state
    want = {(r.vec_id, r.cell) for r in idx.assign_cells(spark, full).collect()}
    assert state == want


def test_empty_delta_advances_ledger_without_bricking_reads(spark, tmp_path):
    """A zero-row delta writes no parquet files (dynamic-partition write):
    it must advance ONLY the ledger, never commit a schema-less segment —
    and an index whose only batches were empty reads as an empty frame."""
    full, batches = _batches(spark)
    idx = IVFIndexView(str(tmp_path / "ivf_e"), _centroids(spark), dim=DIM)
    empty = full.limit(0)
    assert idx.refresh(spark, empty, batch_id="e0") is True
    assert idx.applied_batches() == ["e0"]
    assert idx.segments() == []
    assert idx.read(spark).count() == 0
    assert idx.query(
        spark, full.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    ).count() == 0
    # real data after the empty batch works normally
    idx.refresh(spark, batches[0], batch_id="b0")
    assert idx.read(spark).count() == batches[0].count()
    # replaying the EMPTY batch id is also a no-op
    assert idx.refresh(spark, empty, batch_id="e0") is False


def test_reingested_vector_resolves_newest_wins(spark, tmp_path):
    """Upsert-at-compaction: a vec_id re-sent with a MOVED embedding is
    visible twice in read() until compact, but query() resolves to the
    newest row, and compact() materializes exactly one (newest) row."""
    full, _ = _batches(spark)
    cents = _centroids(spark)
    idx = IVFIndexView(str(tmp_path / "ivf_u"), cents, dim=DIM, n_probe=2)
    first = full.filter(F.col("vec_id") < 100)
    idx.refresh(spark, first, batch_id="b0")
    # move vector 0 onto centroid 3 exactly
    moved = spark.createDataFrame(
        [(0, [float(x) for x in dict(cents)[3]])],
        "vec_id long, embedding array<double>",
    )
    idx.refresh(spark, moved, batch_id="b1")
    assert idx.read(spark).filter("vec_id = 0").count() == 2  # documented window
    # a query AT centroid 3 must see the moved vector with cos 1.0
    probe_q = spark.createDataFrame(
        [(999, [float(x) for x in dict(cents)[3]])],
        "query_id long, embedding array<double>",
    )
    got = {r.neighbor_id: r.cos_sim for r in idx.query(spark, probe_q, k=3).collect()}
    assert got.get(0) == 1.0
    idx.compact(spark)
    rows = idx.read(spark).filter("vec_id = 0").collect()
    assert len(rows) == 1 and rows[0].cell == 3


def test_streaming_maintenance_with_compaction_schedule(spark, tmp_path):
    """mv_ingest_stream(compact_every=2) drives the index: refreshes stay
    deferred appends, compaction runs on schedule, state is exact."""
    from machinelearningalgomapreduce_spark.operators.matview import mv_ingest_stream

    full, _ = _batches(spark)
    src = str(tmp_path / "src_ce")
    full.repartition(4).write.parquet(src)
    idx = IVFIndexView(str(tmp_path / "ivf_ce"), _centroids(spark), dim=DIM)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = mv_ingest_stream(spark, stream, idx, str(tmp_path / "ck_ce"), compact_every=2)
    drain(q, 420)
    got = {(r.vec_id, r.cell) for r in idx.read(spark).collect()}
    want = {(r.vec_id, r.cell) for r in idx.assign_cells(spark, full).collect()}
    assert got == want
    # 4 batches with a compact every 2 applied: at most 2 live segments
    assert len(idx.segments()) <= 2


def test_external_query_id_space_keeps_coincidental_ids(spark, tmp_path):
    """exclude_self=False: a query whose external id collides with a
    corpus vec_id must still retrieve that vector."""
    full, batches = _batches(spark)
    idx = IVFIndexView(str(tmp_path / "ivf_x"), _centroids(spark), dim=DIM, n_probe=2)
    idx.refresh(spark, batches[0], batch_id="b0")
    some = batches[0].orderBy("vec_id").first()
    queries = spark.createDataFrame(
        [(int(some.vec_id), list(some.embedding))],
        "query_id long, embedding array<double>",
    )
    with_self = idx.query(spark, queries, k=3, exclude_self=False).collect()
    assert any(r.neighbor_id == some.vec_id and r.cos_sim == 1.0 for r in with_self)
    without = idx.query(spark, queries, k=3).collect()
    assert all(r.neighbor_id != some.vec_id for r in without)


def test_within_batch_duplicate_vec_ids_are_deterministic(spark, tmp_path):
    """One delta containing the same vec_id twice keeps the array-max
    embedding — never two rows, never a row-order-dependent pick."""
    cents = _centroids(spark)
    idx = IVFIndexView(str(tmp_path / "ivf_d"), cents, dim=DIM)
    a = [0.0] * DIM
    b = [1.0] + [0.0] * (DIM - 1)  # array-max of {a, b} is b
    delta = spark.createDataFrame(
        [(5, a), (5, b)], "vec_id long, embedding array<double>"
    )
    idx.refresh(spark, delta, batch_id="b0")
    rows = idx.read(spark).collect()
    assert len(rows) == 1 and list(rows[0].embedding) == b


def test_rebuild_retrains_under_learned_centroids(spark, tmp_path):
    """rebuild(): a new index under a kmeans_fit quantizer, seeded from
    the old index's resolved corpus — equal to an index built fresh from
    the same vectors and centroids; the old index is untouched and the
    same-path misuse is rejected."""
    from machinelearningalgomapreduce_spark.operators.ml import kmeans_fit

    full, batches = _batches(spark)
    idx = IVFIndexView(str(tmp_path / "ivf_r"), _centroids(spark), dim=DIM)
    for i, b in enumerate(batches):
        idx.refresh(spark, b, batch_id=f"b{i}")
    old_state = {(r.vec_id, r.cell) for r in idx.read(spark).collect()}

    model, _ = kmeans_fit(spark, SMOKE_SF_DIR, k=10, seed=42)
    learned = [
        (i, [round(float(x), 6) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    with pytest.raises(ValueError, match="NEW path"):
        idx.rebuild(spark, learned, str(tmp_path / "ivf_r"))

    new = idx.rebuild(spark, learned, str(tmp_path / "ivf_r2"))
    fresh = IVFIndexView(str(tmp_path / "ivf_r3"), learned, dim=DIM)
    fresh.refresh(spark, full, batch_id="all")
    assert {(r.vec_id, r.cell) for r in new.read(spark).collect()} == {
        (r.vec_id, r.cell) for r in fresh.read(spark).collect()
    }
    # old index untouched, rebuild is ledgered on the new one
    assert {(r.vec_id, r.cell) for r in idx.read(spark).collect()} == old_state
    assert new.applied_batches() == [f"rebuild-v{idx.current_version():08d}"]


def test_query_gate_parity_collected_vs_distributed(spark, tmp_path):
    """The probe size gate must not change results: the same query frame
    run below the cap (collected-broadcast probe) and above it (probe
    kept distributed, shuffle join on cell) returns the identical
    (query_id, rank) → (neighbor_id, cos_sim) map — the
    FactDimRollupView gate-parity discipline applied to the index."""
    full, batches = _batches(spark)
    idx = IVFIndexView(str(tmp_path / "ivf_g"), _centroids(spark), dim=DIM, n_probe=2)
    for i, b in enumerate(batches):
        idx.refresh(spark, b, batch_id=f"b{i}")
    queries = full.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    small = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in idx.query(spark, queries, k=3, probe_collect_cap=10**6).collect()
    }
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        big = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in idx.query(spark, queries, k=3, probe_collect_cap=1).collect()
        }
    assert small and small == big
    # r12 ADVICE: crossing the gate downgrades the single-evaluation
    # guarantee — callers must get a runtime signal, not a docstring note
    assert any("RE-EVALUATES" in str(x.message) for x in w)


def test_query_zero_norm_vectors_take_null_cosine_not_nan(spark, tmp_path):
    """A zero-norm indexed vector must NOT become the rank-1 neighbor of
    every query probing its cell (0/0 = NaN sorts above all doubles under
    desc); with try_divide it takes NULL cosine and sorts last."""
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    idx = IVFIndexView(str(tmp_path / "ivf_z"), cents, dim=4, n_probe=2)
    delta = spark.createDataFrame(
        [
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 0.0]),  # zero-norm degenerate
            (4, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    idx.refresh(spark, delta, batch_id="b0")
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    rows = sorted(idx.query(spark, queries, k=3).collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [2, 4, 3]
    assert rows[0].cos_sim == pytest.approx(0.993884)
    assert rows[2].cos_sim is None  # NULL, never NaN
    # a zero-norm QUERY vector likewise returns NULL cosines, id-ordered
    zq = spark.createDataFrame(
        [(9, [0.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    zrows = sorted(idx.query(spark, zq, k=3).collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in zrows] == [2, 3, 4]
    assert all(r.cos_sim is None for r in zrows)


def test_query_empty_corner_schema_matches_nonempty(spark, tmp_path):
    """Empty query frame (or empty index) must return the SAME schema as
    the non-empty case — including a caller-typed query_id — so the
    empty corner unions cleanly downstream."""
    full, batches = _batches(spark)
    idx = IVFIndexView(str(tmp_path / "ivf_e"), _centroids(spark), dim=DIM)
    idx.refresh(spark, batches[0], batch_id="b0")
    some = batches[0].orderBy("vec_id").first()
    nonempty_q = spark.createDataFrame(
        [(f"id-{some.vec_id}", list(some.embedding))],
        "query_id string, embedding array<double>",
    )
    empty_q = nonempty_q.limit(0)
    nonempty = idx.query(spark, nonempty_q, k=3, exclude_self=False)
    empty = idx.query(spark, empty_q, k=3, exclude_self=False)
    assert [(f.name, f.dataType) for f in empty.schema.fields] == [
        (f.name, f.dataType) for f in nonempty.schema.fields
    ]
    assert nonempty.unionByName(empty).count() == nonempty.count()


def test_concurrent_index_commit_raises_instead_of_silent_drop(
    spark, tmp_path, monkeypatch
):
    """VERDICT r10 item 6 (index flavor): a second writer racing the
    version counter raises a loud version-collision error; the winner's
    ledger and state are untouched."""
    _, batches = _batches(spark)
    a = IVFIndexView(str(tmp_path / "ivf_race"), _centroids(spark), dim=DIM)
    b = IVFIndexView(str(tmp_path / "ivf_race"), _centroids(spark), dim=DIM)
    a.refresh(spark, batches[0], batch_id="b0")
    stale = a.current_version()
    a.refresh(spark, batches[1], batch_id="b1")  # A wins the next version
    want = {(r.vec_id, r.cell) for r in a.read(spark).collect()}
    monkeypatch.setattr(b._log, "current_version", lambda: stale)
    with pytest.raises(ValueError, match="version collision"):
        b.refresh(spark, batches[2], batch_id="b2")
    monkeypatch.undo()
    assert b.applied_batches() == ["b0", "b1"]
    assert {(r.vec_id, r.cell) for r in b.read(spark).collect()} == want
