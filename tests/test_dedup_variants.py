"""MLlib MinHashLSH variant recalls the deterministic pipeline's pairs."""

from __future__ import annotations

import pytest


def test_mllib_minhash_recalls_true_pairs(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators.dedup import (
        minhash_lsh_candidates,
        q_dedup_minhash,
    )

    truth = {(r.doc_a, r.doc_b) for r in q_dedup_minhash(spark, sf_dir).collect()}
    found = {
        (r.doc_a, r.doc_b) for r in minhash_lsh_candidates(spark, sf_dir, 0.35).collect()
    }
    assert truth, "fixture should contain near-dup pairs"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"recall {recall:.2f}; missed {sorted(truth - found)[:5]}"


def test_brp_lsh_neighbors_overlap_brute_force(spark, sf_dir):
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.functions.vectors import sq_dist
    from machinelearningalgomapreduce_spark.operators.similarity import brp_lsh_neighbors
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    approx = {r.vec_id for r in brp_lsh_neighbors(spark, sf_dir, key_id=0, k=10).collect()}
    e = load_tables(spark, sf_dir).embeddings
    key = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("kv"))
    brute = {
        r.vec_id
        for r in (
            e.crossJoin(F.broadcast(key))
            .filter(F.col("vec_id") != 0)
            .select("vec_id", sq_dist(F.col("embedding"), F.col("kv")).alias("d"))
            .orderBy("d", "vec_id")
            .limit(10)
            .collect()
        )
    }
    # Euclidean-LSH recall on the true 10-NN set; seed fixed → deterministic.
    assert len(approx & brute) >= 5, sorted(approx & brute)


def test_profile_counts(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators.stats import q_profile
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    orders = load_tables(spark, sf_dir).orders
    prof = {r.col_name: r for r in q_profile(spark, sf_dir).collect()}
    assert set(prof) == set(orders.columns)
    n = orders.count()
    for r in prof.values():
        assert r.n_rows == n
        assert 0 <= r.n_distinct <= n


def test_salted_join_rejects_outer_forms(spark, sf_dir):
    import pytest

    from machinelearningalgomapreduce_spark.functions.joins import salted_join
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    t = load_tables(spark, sf_dir)
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(t.orders, t.customer, "o_custkey", how=how)


def test_ngram_banding_splits_skewed_block(spark):
    """A constructed hot-shingle corpus: every doc shares the same leading
    3-shingle (one global block), doc lengths span bands. The compound
    (block, log2-size-band) key must cut the biggest candidate group well
    below the unbanded n^2/2, and banding must lose no qualifying pair."""
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.functions.hashing import shingles

    # The shared leading 3-shingle was brute-forced so its md5 (000002…)
    # is deterministically the minimum — every doc lands in the same block.
    docs = spark.createDataFrame(
        [(i, "hot1949883 header boilerplate "
          + " ".join(f"w{i}x{j}" for j in range(2 ** (2 + i % 6))))
         for i in range(60)],
        "doc_id long, text string",
    )
    base = docs.select(
        "doc_id",
        F.array_min(F.transform(shingles(F.col("text"), k=3), F.md5)).alias("block"),
        F.array_distinct(shingles(F.col("text"), k=2)).alias("ng"),
    )
    # All docs share ONE unbanded block (the hot min-shingle)...
    assert base.select("block").distinct().count() == 1
    banded_sizes = (
        base.withColumn("band", F.floor(F.log2(F.size("ng"))).cast("int"))
        .groupBy("block", "band")
        .count()
    )
    # ...but the banded key splits it into several groups, biggest far
    # below 60 (unbanded puts all 60 docs in one quadratic block).
    assert banded_sizes.count() >= 4
    assert banded_sizes.agg(F.max("count")).first()[0] <= 20


def test_cross_source_dups_partitions_minhash_pairs(spark, sf_dir):
    """q_cross_source_dups is a lossless rollup of q_dedup_minhash's pair
    set: the per-source-pair counts must sum to the total pair count, keys
    must be canonically ordered (source_x <= source_y), and cross_source
    must equal key inequality row-wise."""
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.operators.dedup import q_dedup_minhash
    from machinelearningalgomapreduce_spark.operators.export import q_cross_source_dups

    n_pairs = q_dedup_minhash(spark, sf_dir).count()
    rollup = q_cross_source_dups(spark, sf_dir).collect()
    assert sum(r.n_dup_pairs for r in rollup) == n_pairs
    for r in rollup:
        assert r.source_x <= r.source_y
        assert r.cross_source == (r.source_x != r.source_y)
        assert r.n_dup_pairs > 0


def test_star_cc_matches_min_label_fixpoint(spark, sf_dir):
    """large-star/small-star CC (the O(log²)-round 100 TB path) produces
    bit-identical (node, root) labels to q_dedup_clusters' min-label
    fixpoint on the fixture near-dup graph."""
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.operators.dedup import (
        q_dedup_clusters,
        q_dedup_minhash,
    )
    from machinelearningalgomapreduce_spark.operators.graph import (
        connected_components_star,
    )

    edges = q_dedup_minhash(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    star = {
        (r.node, r.root) for r in connected_components_star(edges).collect()
    }
    fixpoint = {
        (r.doc_id, r.cluster_root) for r in q_dedup_clusters(spark, sf_dir).collect()
    }
    assert star == fixpoint


def test_star_cc_high_diameter_path(spark):
    """A 16-node path (diameter 15) plus a disjoint triangle: the star
    variant must label every path node with the path minimum in far fewer
    than diameter rounds, and keep components separate."""
    from machinelearningalgomapreduce_spark.operators.graph import (
        connected_components_star,
    )

    path = [(i, i + 1) for i in range(15)]          # component rooted at 0
    tri = [(100, 101), (101, 102), (100, 102)]      # component rooted at 100
    df = spark.createDataFrame(path + tri, ["u", "v"])
    got = {(r.node, r.root) for r in connected_components_star(df, max_rounds=8).collect()}
    expected = {(i, 0) for i in range(16)} | {(n, 100) for n in (100, 101, 102)}
    assert got == expected


def test_lsh_hot_bucket_candidates_stay_linear(spark):
    """Adversarial degenerate corpus (VERDICT r9 item 3): 1,000 byte-identical
    docs share every MinHash sig, so the uncollapsed band-bucket self-join
    would build C(1000,2) = 499,500 candidate pairs. The exact-duplicate
    collapse must keep rep-level LSH candidates O(distinct contents) while
    the OUTPUT still contains every identical pair at Jaccard 1.0."""
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.operators.dedup import (
        _exact_collapse,
        _lsh_candidates,
        _minhash_sigs,
        _shingle_sets,
        minhash_dedup_pairs,
    )

    hot = [(f"d{i:04d}", "the same boilerplate header text repeated verbatim")
           for i in range(1000)]
    近 = "a genuinely distinct document about spark shuffles and joins"
    distinct = [("x0000", 近), ("x0001", 近 + " extra"), ("x0002", "another unrelated text entirely")]
    docs = spark.createDataFrame(hot + distinct, ["doc_id", "text"])

    reps, members = _exact_collapse(docs)
    n_reps = reps.count()
    assert n_reps == 4  # 1 hot content + 3 distinct
    assert members.count() == 1003

    # Candidate pairs among representatives: bounded by C(4,2)=6, nowhere
    # near the 499,500 the uncollapsed plan would enumerate.
    cand = _lsh_candidates(_minhash_sigs(_shingle_sets(reps))).count()
    assert cand <= 6, f"rep-level candidates should be O(distinct), got {cand}"

    pairs = minhash_dedup_pairs(docs)
    hot_pairs = pairs.filter(F.col("doc_a").startswith("d") & F.col("doc_b").startswith("d"))
    agg = hot_pairs.agg(
        F.count("*").alias("n"),
        F.min("jaccard").alias("jmin"),
        F.max("jaccard").alias("jmax"),
    ).collect()[0]
    assert agg.n == 1000 * 999 // 2
    assert agg.jmin == 1.0 and agg.jmax == 1.0


def test_lsh_exact_collapse_matches_uncollapsed_plan(spark):
    """Bit-parity of the collapsed pipelines vs the UNCOLLAPSED plans
    (candidates over every doc, no rep expansion) on an adversarial frame:
    empty strings (shingle set [""], Jaccard 1.0 pairs), a NULL text,
    exact copies, near-dups, and unrelated docs. The pair pass yields the
    same pairs and rounded Jaccards; the estimate audit yields the same
    rows, row for row. A lone NULL text (all-NULL signatures) meets no
    other doc in any band bucket, so it forms no pair in either plan."""
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.functions.hashing import N_MINHASH, minhash_sig
    from machinelearningalgomapreduce_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _exact_jaccard,
        _lsh_candidates,
        _minhash_estimates,
        _minhash_sigs,
        _shingle_sets,
        minhash_dedup_pairs,
        minhash_estimate_pairs,
    )

    near = "spark shuffles hash partition the rows across executors today"
    docs = spark.createDataFrame(
        [("e0", ""), ("e1", ""), ("z0", None),
         ("c0", "copy me twice"), ("c1", "copy me twice"),
         ("c2", "copy me twice"), ("n0", near), ("n1", near + " quickly"),
         ("u0", "something else entirely unrelated to all of the above docs")],
        "doc_id string, text string",
    )

    base = _shingle_sets(docs)
    reference = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in _exact_jaccard(_lsh_candidates(_minhash_sigs(base)), base)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .collect()
    }
    collapsed = {(r.doc_a, r.doc_b, r.jaccard) for r in minhash_dedup_pairs(docs).collect()}
    assert ("e0", "e1", 1.0) in reference  # the frame exercises the empty case
    assert ("c0", "c2", 1.0) in reference
    assert collapsed == reference

    sigs = base.select(
        "doc_id", "sh",
        *[minhash_sig(F.col("sh"), i).alias(f"sig{i}") for i in range(N_MINHASH)],
    )

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    est_reference = rows(_minhash_estimates(sigs))
    assert ("c0", "c1", N_MINHASH, 1.0, 1.0, 0.0) in est_reference
    assert ("e0", "e1", N_MINHASH, 1.0, 1.0, 0.0) in est_reference
    assert not [r for r in est_reference if "z0" in r[:2]]
    assert rows(minhash_estimate_pairs(docs)) == est_reference


def test_embedding_dedup_blocked_full_recall_with_learned_cells(spark, sf_dir):
    """VERDICT r10 item 3 (SemDeDup-style composed scale path): learned
    k-means cells + multi-probe blocking + the brute query's exact verify
    must recover EVERY brute near-dup pair on the fixture (recall 1.0 at
    k=10/n_probe=3 — measured, see the operator docstring) and never
    invent a pair (verify is the same predicate, so emitted ⊆ brute)."""
    from machinelearningalgomapreduce_spark.operators.dedup import (
        embedding_dedup_blocked,
        q_dedup_embedding,
    )

    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    emb = load_tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    brute = {(r.id_a, r.id_b) for r in q_dedup_embedding(spark, sf_dir).collect()}
    got = {(r.id_a, r.id_b) for r in embedding_dedup_blocked(spark, emb).collect()}
    assert brute, "fixture should contain embedding near-dup pairs"
    assert got == brute, (
        f"missed {sorted(brute - got)[:5]}, invented {sorted(got - brute)[:5]}"
    )


def test_embedding_dedup_blocked_candidates_stay_cell_bounded(spark, sf_dir):
    """The blocked path must never regress to all-pairs, and its candidate
    budget must obey the IVF scaling law (~n_probe²/k of all-pairs for
    balanced cells): k is THE lever that keeps the per-cell quadratic
    global-linear at 100 TB. On this 500-vector fixture k=10 is deliberately
    tiny (n_probe=3 ⇒ bound ≈ 0.9·all-pairs), so the assertions check the
    LAW, not a small constant: strictly under all-pairs at the recall-1.0
    config; shrinking when k doubles; far under all-pairs at single-probe."""
    from machinelearningalgomapreduce_spark.operators.dedup import _blocked_candidates
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    emb = load_tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    n = emb.count()
    all_pairs = n * (n - 1) // 2
    cands = _blocked_candidates(spark, emb).count()
    assert 0 < cands < all_pairs, (cands, all_pairs)
    bigger_k = _blocked_candidates(spark, emb, k=20).count()
    assert bigger_k < cands, (bigger_k, cands)
    one_probe = _blocked_candidates(spark, emb, n_probe=1).count()
    # balanced bound at n_probe=1 is all_pairs/k = 10%; allow skew to 35%
    assert one_probe < 0.35 * all_pairs, (one_probe, all_pairs)


def test_min_label_clusters_is_column_order_insensitive(spark):
    """r11 regression: a pair frame whose physical column order is
    (doc_b, doc_a) — what a string-key join produces by moving the join
    key first — must cluster identically to the canonical order. The old
    positional union swapped endpoints in one branch and dissolved every
    cluster into self-rooted singletons."""
    from machinelearningalgomapreduce_spark.operators.dedup import (
        min_label_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long"
    )
    want = {
        (r.doc_id, r.cluster_root) for r in min_label_clusters(pairs).collect()
    }
    assert want == {(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)}
    reordered = pairs.select("doc_b", "doc_a")  # physical order flipped
    got = {
        (r.doc_id, r.cluster_root)
        for r in min_label_clusters(reordered).collect()
    }
    assert got == want


def test_auto_n_probe_calibration_points_and_linearity_cap():
    """r12 probe policy: passes through the measured calibration points
    (k=10 → 3, the fixture recall-1.0 config; k=40 → 4; k=98 → 6) and is
    BOUNDED at 6 — an unbounded √k default substitutes to all-pairs·c²
    candidate volume (see the docstring), so the cap is load-bearing."""
    from machinelearningalgomapreduce_spark.operators.dedup import auto_n_probe

    assert auto_n_probe(10) == 3
    assert auto_n_probe(40) == 4
    assert auto_n_probe(98) == 6
    assert auto_n_probe(2) == 2  # never more probes than cells
    for k in (200, 65_536, 10**9):
        assert auto_n_probe(k) == 6, "cap keeps candidate volume linear"


def test_blocked_dedup_survives_sparse_id_space(spark, sf_dir, monkeypatch):
    """r12 ADVICE: the training sample keys on xxhash64(vec_id), not raw
    pmod(vec_id, stride) — an all-odd id space with an even stride would
    yield an EMPTY sample under raw pmod and crash MLlib KMeans. Caps are
    shrunk so the 500-row fixture actually exercises the sampled branch."""
    from machinelearningalgomapreduce_spark.operators import dedup
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from pyspark.sql import functions as F

    monkeypatch.setattr(dedup, "EMBED_DEDUP_TRAIN_CAP", 64)
    monkeypatch.setattr(dedup, "EMBED_DEDUP_TRAIN_PER_CELL", 4)
    odd = (
        load_tables(spark, sf_dir)
        .embeddings.select((F.col("vec_id") * 2 + 1).alias("vec_id"), "embedding")
    )
    got = dedup.embedding_dedup_blocked(spark, odd)  # auto_k: k=10 here
    rows = got.collect()  # must not crash on the thin-sample path
    assert all(r.id_a % 2 == 1 and r.id_b % 2 == 1 for r in rows)
    assert all(r.cos_sim >= dedup.EMBEDDING_COSINE_THRESHOLD for r in rows)


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_blocked_dedup_routes_two_level_past_k_max(spark, sf_dir, monkeypatch):
    """r12: past EMBED_DEDUP_K_MAX the quantizer goes TWO-LEVEL (√k
    coarse cells + keyed-kmeans sub-cells, O(n·√k) assignment) instead of
    clamping k and letting per-cell cost regrow (the ADVICE finding's
    final resolution). Contract pinned: emitted pairs remain a SUBSET of
    brute (the verify is exact either way), recall stays useful on the
    fixture geometry, and the candidate budget stays under all-pairs."""
    from machinelearningalgomapreduce_spark.operators import dedup
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    monkeypatch.setattr(dedup, "EMBED_DEDUP_CELL_TARGET", 20)
    monkeypatch.setattr(dedup, "EMBED_DEDUP_K_MAX", 12)
    e = load_tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    brute = {
        (r.id_a, r.id_b) for r in dedup.q_dedup_embedding(spark, sf_dir).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_dedup_blocked(spark, e).collect()
    }
    assert got <= brute, f"invented pairs: {sorted(got - brute)[:5]}"
    # 25 cells of ~20 vectors over 500 points is a deliberately brutal
    # blocking; the two-level probe must still recover a solid majority
    assert len(got) >= 0.5 * len(brute), (len(got), len(brute))
    n = e.count()
    cands = dedup._blocked_candidates(spark, e).count()
    assert 0 < cands < n * (n - 1) // 2


def test_keyed_kmeans_groups_train_independently(spark):
    """_keyed_kmeans unit: every group gets ≤k sub-centroids trained only
    on ITS rows — two well-separated groups must keep their centroids in
    their own value ranges, deterministically."""
    from machinelearningalgomapreduce_spark.operators import dedup
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM

    rows = []
    for i in range(40):
        base = 0.0 if i % 2 == 0 else 100.0  # group 0 near 0, group 1 near 100
        rows.append(
            (i % 2, i, [base + (i % 7) * 0.1] * EMBEDDING_DIM)
        )
    data = spark.createDataFrame(
        rows, "coarse bigint, vec_id long, embedding array<double>"
    )
    cents = dedup._keyed_kmeans(data, "coarse", k=3).collect()
    assert {r.coarse for r in cents} == {0, 1}
    for r in cents:
        lo, hi = (0.0, 1.0) if r.coarse == 0 else (100.0, 101.0)
        assert all(lo <= x <= hi for x in r.centroid), (r.coarse, r.centroid[:2])
        assert len(r.centroid) == EMBEDDING_DIM
    # determinism: a second run returns the identical centroid set
    again = dedup._keyed_kmeans(data, "coarse", k=3).collect()
    assert {(r.coarse, r.sub, tuple(r.centroid)) for r in cents} == {
        (r.coarse, r.sub, tuple(r.centroid)) for r in again
    }


def test_blocked_dedup_collapse_recovers_exact_copies(spark, sf_dir):
    """r12 rep-collapse: a corpus that is two exact key-offset copies of
    the fixture must yield EXACTLY the brute pair set — within-copy near
    dups in both copies, all cross/within exact-duplicate pairs at
    cos 1.0 — because identical vectors collapse to one blocked
    participant and expansion is exact arithmetic, not approximation."""
    from machinelearningalgomapreduce_spark.operators import dedup
    from machinelearningalgomapreduce_spark.functions.vectors import dot, norm
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM
    from pyspark.sql import functions as F

    OFF = 50_000_000
    base = load_tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    doubled = base.unionByName(
        base.select((F.col("vec_id") + OFF).alias("vec_id"), "embedding")
    )
    e = doubled.select(
        "vec_id", "embedding", norm(F.col("embedding"), EMBEDDING_DIM).alias("vnorm")
    )
    cos = F.round(
        F.try_divide(
            dot(F.col("a.embedding"), F.col("b.embedding"), EMBEDDING_DIM),
            F.col("a.vnorm") * F.col("b.vnorm"),
        ),
        6,
    )
    brute = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in e.alias("a")
        .join(e.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= dedup.EMBEDDING_COSINE_THRESHOLD)
        .collect()
    }
    got = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in dedup.embedding_dedup_blocked(spark, doubled).collect()
    }
    assert brute and got == brute, (
        f"missed {sorted(brute - got)[:5]}, invented {sorted(got - brute)[:5]}"
    )


def test_dedup_embedding_unknown_dir_gated_on_rows_not_name(spark, tmp_path, monkeypatch):
    """VERDICT r11 item 6: a directory whose name does not parse as sfN
    used to be assumed big and routed to the approximate blocked path even
    when tiny. The route is gated on the embeddings' footer row count
    instead: a tiny renamed corpus gets the exact brute form (bit-equal to
    the fixture run), a corpus over similarity.BRUTE_MAX_ROWS still
    refuses brute."""
    import os

    import pytest

    from machinelearningalgomapreduce_spark.operators import dedup, similarity
    from machinelearningalgomapreduce_spark.plans import inspect as P
    from tests.conftest import SMOKE_SF_DIR

    renamed = tmp_path / "mycorpus"
    renamed.mkdir()
    for f in os.listdir(SMOKE_SF_DIR):
        os.symlink(os.path.join(SMOKE_SF_DIR, f), renamed / f)

    routed = dedup.q_dedup_embedding(spark, str(renamed))
    assert "cell" not in P.formatted_plan(routed)  # brute, not blocked
    want = {tuple(r) for r in dedup.q_dedup_embedding(spark, SMOKE_SF_DIR).collect()}
    assert {tuple(r) for r in routed.collect()} == want

    monkeypatch.setattr(similarity, "BRUTE_MAX_ROWS", 100)  # corpus now "big"
    # the routing flip to approximate semantics must be OBSERVABLE, not
    # silent (r12 ADVICE): the caller asked for the exact query
    with pytest.warns(UserWarning, match="approximate blocked path"):
        blocked = dedup.q_dedup_embedding(spark, str(renamed))
    assert "cell" in P.formatted_plan(blocked)


def test_blocked_frame_threshold_recovers_exact_dups(spark, sf_dir):
    """r12 regression (caught in review): after the rep-collapse, the
    candidate set is REP-level and carries no within-group pairs — a
    caller filtering it by threshold would silently miss EXACT-duplicate
    vectors. The threshold= parameter must return member-level pairs
    including the exact-dup pair at cos 1.0, at both the default and a
    tighter cutoff."""
    from machinelearningalgomapreduce_spark.operators import dedup
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from pyspark.sql import functions as F

    base = load_tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    # duplicate ONE vector under a fresh id: the pair (min_id, 900000)
    # is an exact dup that only within-group expansion can emit
    dup = base.orderBy("vec_id").limit(1).select(
        F.lit(900_000).cast("long").alias("vec_id"), "embedding"
    )
    first_id = base.agg(F.min("vec_id")).first()[0]
    corpus = base.unionByName(dup)

    got = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in dedup.embedding_dedup_blocked(
            spark, corpus, threshold=0.45
        ).collect()
    }
    assert (first_id, 900_000, 1.0) in got
    # rep-level candidates genuinely lack the pair — the hole this test
    # guards against
    cands = {
        (r.id_a, r.id_b)
        for r in dedup._blocked_candidates(spark, corpus).collect()
    }
    assert (first_id, 900_000) not in cands
    # a tighter threshold keeps the exact pair and only adds pairs
    loose = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_dedup_blocked(
            spark, corpus, threshold=0.60
        ).collect()
    }
    assert (first_id, 900_000) in loose
    assert loose <= {(a, b) for a, b, _c in got}


def test_two_level_assignment_covers_every_vector(spark, sf_dir, monkeypatch):
    """r12 review: a vector whose probed coarse cells all lack trained
    sub-centroids must NOT vanish from blocking — sub-less coarse cells
    are backfilled with their own centroid, so the two-level assignment
    covers every input vec_id."""
    from machinelearningalgomapreduce_spark.operators import dedup
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from pyspark.sql import functions as F

    e = load_tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    # tiny training sample (monkeypatched caps) makes sub-less coarse
    # cells likely; the invariant must hold regardless
    monkeypatch.setattr(dedup, "EMBED_DEDUP_TRAIN_CAP", 32)
    monkeypatch.setattr(dedup, "EMBED_DEDUP_TRAIN_PER_CELL", 1)
    train = e.filter(F.pmod(F.xxhash64("vec_id"), F.lit(15)) == 0)
    cells = dedup._two_level_probe_cells(spark, e, train, k=25, n_probe=3)
    assigned = {r.vec_id for r in cells.select("vec_id").distinct().collect()}
    everyone = {r.vec_id for r in e.select("vec_id").collect()}
    assert assigned == everyone, f"dropped: {sorted(everyone - assigned)[:5]}"


@pytest.mark.slow  # heavy lane, run with -m slow (pytest.ini r16)
def test_two_level_tier_differential_vs_flat(spark, monkeypatch):
    """r13 (VERDICT r12 item 2 pin): on a synthetic DISTINCT-vector tier
    with planted near-dup clusters (tools/imi_scale_probe.synth_corpus —
    the geometry of the committed BENCH_NOTES record), the two-level
    route must emit essentially the FLAT route's pair set: both lanes
    verify exactly, so pairs are true in both; the differential is
    quantizer cell shape only. Pins: pair-set overlap, planted-pair
    recall for both lanes, and candidate volume under all-pairs."""
    from machinelearningalgomapreduce_spark.functions.storage import materialize_once
    from machinelearningalgomapreduce_spark.operators import dedup
    from tools.imi_scale_probe import CLUSTER_M, THRESHOLD, synth_corpus

    n = 2048  # the at-scale differential is the BENCH_NOTES record
    # (n=98304: two-level 0.53x flat wall, overlap 0.99997); this pin
    # holds the CONTRACT at battery-affordable size
    corpus = materialize_once(synth_corpus(spark, n))
    planted = n // CLUSTER_M * (CLUSTER_M * (CLUSTER_M - 1) // 2)

    auto_k = dedup.auto_k(n)
    assert dedup.auto_n_probe(auto_k) == 3  # both lanes probe 3 cells
    flat = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_dedup_blocked(
            spark, corpus, threshold=THRESHOLD
        ).collect()
    }
    monkeypatch.setattr(dedup, "EMBED_DEDUP_K_MAX", auto_k // 2)  # force IMI
    imi = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_dedup_blocked(
            spark, corpus, threshold=THRESHOLD
        ).collect()
    }
    assert len(flat) >= 0.95 * planted, (len(flat), planted)
    assert len(imi) >= 0.95 * planted, (len(imi), planted)
    overlap = len(flat & imi) / max(1, len(flat))
    assert overlap >= 0.95, (overlap, len(flat), len(imi))
    # candidate-budget containment for the IMI route is pinned by
    # test_blocked_dedup_routes_two_level_past_k_max; re-counting here
    # would re-run the full blocking pass for no new contract
