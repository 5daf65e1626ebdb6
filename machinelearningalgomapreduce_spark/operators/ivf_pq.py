"""IVF-PQ: the persisted IVF index with product-quantized segments
(VERDICT r10 item 4; SURVEY §2D ANN scale path, compressed-index form).

``IVFIndexView`` stores full vectors per cell — correct, but at 100 TB a
64-d double is 512 B/vector FOREVER, and the memory story of large-scale
ANN (FAISS's IVFADC, the Jégou et al. 2011 product-quantization design,
both public) is codes, not vectors: store an M-byte PQ code per vector,
probe with ASYMMETRIC distance (exact query subvector vs quantized
codeword — no query-side quantization error), and re-rank only the short
survivor list against full vectors.

This subclass inherits IVFIndexView's maintenance whole — refresh,
upsert-at-compaction, read and vacuum over matview's ``SegmentLog``
(spec-pinned quantizer, manifest-per-version + atomic pointer flip,
replay ledger, time travel, schema-recorded segments) — and changes only
the segment payload (the ``_payload`` hook and the empty-read schema)
and the query plan:

* segments store ``(vec_id, codes: array<int>, cell)`` — the PQ encoding
  of each vector (``M`` nearest-codeword ids, one per subspace), written
  ``partitionBy("cell")`` so probes still prune to their cells' dirs;
* the PQ codebooks join the coarse centroids in the pinned _SPEC —
  codes from two different codebooks must never mix in one index;
* ``query(queries, full_vectors)`` runs the two-stage contract of
  similarity.ann_projected_rerank: stage 1 ranks candidates by rounded
  asymmetric distance adc(q, x) = Σ_m ‖q_m − codeword(m, code_m(x))‖²
  computed entirely JVM-side (the codebook is an O(M·k·sub_dim) literal
  array — no join, no UDF), keeps the top ``rerank_mult·k`` per query;
  stage 2 joins ONLY those survivors to the caller-supplied full-vector
  frame for the exact rounded cosine and the final top-k window — so the
  emitted ordering is exact over the candidate set on ANY input (pinned
  by tests), and approximation lives only in candidate selection.

100 TB shape: the index holds M ints/vector instead of dim doubles
(segment bytes measured smaller in tests); a probe reads n_probe/k of
the codes; full vectors are touched for ≤ rerank_mult·k rows per query
via an id equi-join against the (separately stored, scan-friendly)
corpus — exactly the piece IVFIndexView could not offer without paying
full-vector storage inside the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from machinelearningalgomapreduce_spark.functions.storage import materialize_once
from machinelearningalgomapreduce_spark.functions.vectors import dot, norm, sq_dist
from machinelearningalgomapreduce_spark.operators.ivf_index import IVFIndexView


class IVFPQIndexView(IVFIndexView):
    """IVF index whose segments hold PQ codes instead of full vectors.

    Refresh, compaction, read and vacuum are IVFIndexView's, over the
    same ``SegmentLog``: a segment is ``(vec_id, codes, cell)`` with its
    schema recorded in the manifest, and the codebooks join the guarded
    quantizer spec.

    ``codebooks`` is ``[(sub, code, centroid), ...]`` covering every
    subspace 0..M-1 with the same code count; ``dim`` must divide evenly
    into M subspaces of len(centroid) dims each.
    """

    _PAYLOAD = "codes"
    _EMPTY_SCHEMA = "vec_id long, codes array<int>, cell bigint"

    def __init__(
        self,
        path: str,
        centroids: list[tuple[int, list[float]]],
        codebooks: list[tuple[int, int, list[float]]],
        dim: int,
        n_probe: int = 2,
        compact_at: int = 8,
    ) -> None:
        if not codebooks:
            raise ValueError("IVFPQIndexView needs PQ codebooks")
        subs = sorted({int(s) for s, _c, _v in codebooks})
        self.pq_m = len(subs)
        if subs != list(range(self.pq_m)):
            raise ValueError(f"codebook subspaces must be 0..M-1, got {subs}")
        if int(dim) % self.pq_m:
            raise ValueError(f"dim {dim} not divisible by M={self.pq_m}")
        self.sub_dim = int(dim) // self.pq_m
        per_sub: dict[int, dict[int, list[float]]] = {s: {} for s in subs}
        for s, c, v in codebooks:
            if len(v) != self.sub_dim:
                raise ValueError(
                    f"codeword ({s},{c}) has dim {len(v)}, expected {self.sub_dim}"
                )
            if int(c) in per_sub[int(s)]:
                raise ValueError(f"duplicate codeword ({s},{c})")
            per_sub[int(s)][int(c)] = [round(float(x), 6) for x in v]
        counts = {len(cw) for cw in per_sub.values()}
        if len(counts) != 1:
            raise ValueError(f"uneven codebooks per subspace: {sorted(counts)}")
        self.pq_k = counts.pop()
        for s, cw in per_sub.items():
            if sorted(cw) != list(range(self.pq_k)):
                raise ValueError(
                    f"subspace {s} codes must be 0..{self.pq_k - 1}, got {sorted(cw)}"
                )
        # codebooks[s][c] -> rounded codeword; list-of-lists so the spec
        # JSON round-trips bit-identically (the centroid discipline)
        self.codebooks = [
            [per_sub[s][c] for c in range(self.pq_k)] for s in range(self.pq_m)
        ]
        super().__init__(
            path, centroids, dim, n_probe=n_probe, compact_at=compact_at
        )

    def _quantizer_spec(self) -> dict:
        # codes written under one codebook are meaningless under another
        return {**super()._quantizer_spec(), "pq_codebooks": self.codebooks}

    # ---- encoding --------------------------------------------------------
    def encode(self, spark: SparkSession, vectors: DataFrame) -> DataFrame:
        """(vec_id, codes): each vector's per-subspace nearest-codeword
        ids, ordered by subspace — ONE projection, no shuffle: the
        codebook is a literal array, so the argmin over codes is an
        array fold per subspace (similarity.pq_assign's semantics —
        min (rounded d², code) — without its broadcast join, affordable
        because M·k·sub_dim is spec-bounded)."""
        code_exprs = []
        for m in range(self.pq_m):
            sv = F.slice("embedding", m * self.sub_dim + 1, self.sub_dim)
            cands = F.array(
                *[
                    F.struct(
                        F.round(
                            sq_dist(
                                sv,
                                F.array(
                                    *[F.lit(x) for x in self.codebooks[m][c]]
                                ),
                                self.sub_dim,
                            ),
                            6,
                        ).alias("d2"),
                        F.lit(c).alias("code"),
                    )
                    for c in range(self.pq_k)
                ]
            )
            code_exprs.append(F.array_min(cands)["code"])
        return vectors.select(
            "vec_id", F.array(*code_exprs).cast("array<int>").alias("codes")
        )

    def _payload(self, spark: SparkSession, delta: DataFrame) -> DataFrame:
        """(vec_id, codes, cell): the delta's vectors cell-assigned by the
        coarse quantizer AND PQ-encoded; the segment stores only these."""
        assigned = self.assign_cells(spark, delta).select("vec_id", "cell")
        return self.encode(spark, delta).join(assigned, "vec_id")

    def rebuild(self, *args, **kwargs):
        """Blocked on purpose: PQ codes are LOSSY, so a retrain cannot be
        seeded from this index's own segments (the parent reads
        embeddings back; here there are none). Use ``rebuild_pq`` with
        the full-vector corpus."""
        raise TypeError(
            "IVFPQIndexView cannot rebuild from its own (lossy) codes; "
            "call rebuild_pq(spark, centroids, codebooks, full_vectors, "
            "out_path)"
        )

    def rebuild_pq(
        self,
        spark: SparkSession,
        centroids: list[tuple[int, list[float]]],
        codebooks: list[tuple[int, int, list[float]]],
        full_vectors: DataFrame,
        out_path: str,
        n_probe: int | None = None,
    ) -> "IVFPQIndexView":
        """Retrain: a NEW PQ index at ``out_path`` under new quantizers,
        seeded from ``full_vectors`` restricted to this index's CURRENT
        vec_ids (newest-wins membership — the parent rebuild contract,
        with the vectors supplied by the caller because codes cannot
        reconstruct them). The old index stays intact."""
        import os

        if os.path.abspath(out_path) == os.path.abspath(self.path):
            raise ValueError("rebuild requires a NEW path (quantizers must not mix)")
        member_ids = self.read(spark).select("vec_id").distinct()
        corpus = full_vectors.select("vec_id", "embedding").join(
            member_ids, "vec_id"
        )
        new = IVFPQIndexView(
            out_path,
            centroids,
            codebooks,
            dim=self.dim,
            n_probe=self.n_probe if n_probe is None else n_probe,
            compact_at=self.compact_at,
        )
        new.refresh(
            spark, corpus, batch_id=f"rebuild-v{self.current_version():08d}"
        )
        return new

    # ---- search ------------------------------------------------------------
    def query(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 3,
        exclude_self: bool = True,
        probe_collect_cap: int | None = None,
        *,
        full_vectors: DataFrame,
        rerank_mult: int = 3,
    ) -> DataFrame:
        """Two-stage IVF-PQ search: asymmetric-distance candidate ranking
        on the stored codes, exact cosine re-rank of the top
        ``rerank_mult·k`` survivors against ``full_vectors``
        (vec_id, embedding) — the corpus the index was built from (or
        any superset; survivors missing from it are dropped, which
        surfaces a stale corpus loudly as shrunken result sets). A
        CALLABLE full_vectors receives the distinct candidate vec_ids
        and returns such a frame covering them — the pruned-corpus form
        for callers whose full-vector store is too big to aggregate
        eagerly per call.
        Output: (query_id, neighbor_id, cell, cos_sim, rank) — the
        parent's q_sim_ann contract. ``full_vectors`` and
        ``rerank_mult`` are KEYWORD-ONLY and the shared positional
        prefix (spark, queries, k, exclude_self, probe_collect_cap)
        matches the parent exactly, so code written against the parent's
        call shape keeps working on a PQ index once it supplies
        full_vectors= (r11 review — a positional corpus arg would have
        silently bound the parent's positional k).

        Probe gating, empty-corner schema, NULL-cosine (try_divide) and
        newest-wins duplicate resolution all inherit the parent's
        discipline."""
        probe_plan = self._probe_plan(spark, queries)
        probe, probed_cells = self._gated_probe(
            spark, probe_plan, probe_collect_cap
        )
        segs = self.segments()
        if probe is None or not segs:
            return self._empty_query_result(spark, probe_plan)
        cands = self._newest(spark, segs, probed_cells).select(
            F.col("vec_id").alias("neighbor_id"), "cell", "codes"
        )
        # Stage 1 — asymmetric distance, fully JVM-side: the codebook is a
        # literal array<array<array<double>>> (M·k·sub_dim doubles,
        # spec-bounded), so adc is element_at lookups + the shared sq_dist
        # fold per subspace. Rounded to 6 with vec_id tie-breaks — the
        # candidate CUT is deterministic and engine-stable.
        cb = F.array(
            *[
                F.array(
                    *[
                        F.array(*[F.lit(x) for x in self.codebooks[m][c]])
                        for c in range(self.pq_k)
                    ]
                )
                for m in range(self.pq_m)
            ]
        )
        adc = F.round(
            sum(
                sq_dist(
                    F.slice("qv", m * self.sub_dim + 1, self.sub_dim),
                    F.element_at(
                        F.element_at(cb, m + 1),
                        F.element_at("codes", m + 1) + 1,
                    ),
                    self.sub_dim,
                )
                for m in range(self.pq_m)
            ),
            6,
        )
        cond = F.col("pcell") == F.col("cell")
        if exclude_self:
            cond = cond & (F.col("query_id") != F.col("neighbor_id"))
        wc = W.partitionBy("query_id").orderBy("adc", "neighbor_id")
        survivors = (
            probe.join(cands, cond)
            .select("query_id", "qv", "qnorm", "neighbor_id", "cell", adc.alias("adc"))
            .withColumn("crank", F.row_number().over(wc))
            .filter(F.col("crank") <= rerank_mult * k)
        )
        # Stage 2 — exact re-rank: ≤ rerank_mult·k full vectors per query
        # fetched by id equi-join; same rounded try_divide cosine and
        # ordering as the parent, so the final order is exact over the
        # candidate set.
        #
        # full_vectors may be a CALLABLE (r12 ADVICE): the caller cannot
        # prune its corpus to the re-rank's needs without knowing the
        # ADC survivors, which only exist here — so a callable receives
        # the distinct candidate vec_ids (batch-bounded: ≤ rerank_mult·k
        # per query) and returns a frame covering exactly them. The
        # streaming sink uses this to semi-join its admission log BEFORE
        # the newest-wins aggregate, turning an O(total corpus) shuffle
        # per micro-batch into O(candidates). survivors is checkpointed
        # first so deriving the id set does not re-run the probe.
        if callable(full_vectors):
            survivors = materialize_once(survivors)
            cand_ids = survivors.select(
                F.col("neighbor_id").alias("vec_id")
            ).distinct()
            full_vectors = full_vectors(cand_ids)
        fv = full_vectors.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("nv"),
            norm(F.col("embedding"), self.dim).alias("vnorm"),
        )
        cos = F.round(
            F.try_divide(
                dot(F.col("qv"), F.col("nv"), self.dim),
                F.col("qnorm") * F.col("vnorm"),
            ),
            6,
        )
        w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
        return (
            survivors.join(fv, "neighbor_id")
            .select("query_id", "neighbor_id", "cell", cos.alias("cos_sim"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
