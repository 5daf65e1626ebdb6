"""Persisted IVF index as a maintained view (round-10; SURVEY §2D ANN
scale path, index-maintenance form).

q_sim_ann / learned_ivf_ann recompute the corpus→cell assignment on
every run — fine for an audit query, wrong for a serving index over a
growing corpus. This view makes the IVF index a MAINTAINED artifact
whose storage and commit protocol is matview's ``SegmentLog``
(operators/matview.py) — the same pointer flip, manifests, exclusive
commit, rebase-retry, spec guard and vacuum as ``SegmentedAggView``; this
module keeps only cell assignment, newest-wins compaction and the probe/
query plans:

* the coarse quantizer (centroids) is PINNED at construction and spec-
  guarded — assignments from two different quantizers must never mix;
  retraining is a new index path (or ``rebuild``), not an in-place edit;
* ``refresh(delta)`` assigns ONLY the delta's vectors to cells (one
  broadcast-centroids argmin aggregate, O(delta)) and appends them as an
  immutable segment written ``partitionBy("cell")`` — the on-disk layout
  IS the index: a probe reads only its cells' directories via partition
  pruning, never the corpus;
* the log's manifest-per-version + atomic ``_CURRENT`` pointer flip
  gives crash safety, a replay ledger (at-least-once delivery →
  exactly-once index state), and time travel; ``compact`` merges
  segments (row union, no re-assignment); ``vacuum`` frees unreferenced
  versions/segments;
* each manifest segment is ``{"dir", "schema"}``, the schema (``cell``
  as bigint included) recorded at write time, so a read pins every
  segment's scan and infers nothing; manifests that list bare segment
  names (written before schemas were recorded) are read with inference;
* ``query(queries)`` probes each query's top-n_probe cells: centroids
  broadcast, the index scan filtered to the probed cells (pruned), one
  rounded-cosine top-k window per query — the q_sim_ann plan over the
  PERSISTED assignment instead of a recomputed one.

100 TB shape: segments are cell-partitioned parquet, so a query touches
n_probe/k of the data regardless of corpus size; refresh cost is the
delta scan + one k-row broadcast; compaction is one union rewrite of the
chosen segments. Determinism discipline throughout (rounded distances
and cosines, id tie-breaks) keeps results engine-stable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from machinelearningalgomapreduce_spark.functions.vectors import dot, norm, sq_dist
from machinelearningalgomapreduce_spark.operators.matview import SegmentLog, _committed

# query() collects the probe set (query rows × n_probe cells) to the
# driver only while it provably fits this many rows; past the cap the
# probe stays a distributed plan and the candidate join shuffles on cell
# (the SegmentLog.broadcastable discipline, row-count form —
# the probe is a caller plan, not an on-disk snapshot, so bytes aren't
# knowable without evaluating it). Module-level so tests can monkeypatch
# the gate both ways.
PROBE_COLLECT_CAP_ROWS = 4096


class IVFIndexView:
    """A persisted, incrementally-maintained IVF index over an embedding
    frame (vec_id, embedding: array<double>)."""

    # The segment payload: the column stored beside (vec_id, cell), and
    # the schema of a read with no segment. IVFPQIndexView stores codes.
    _PAYLOAD = "embedding"
    _EMPTY_SCHEMA = "vec_id long, embedding array<double>, cell bigint"

    def __init__(
        self,
        path: str,
        centroids: list[tuple[int, list[float]]],
        dim: int,
        n_probe: int = 2,
        compact_at: int = 8,
    ) -> None:
        if not centroids:
            raise ValueError("IVFIndexView needs at least one centroid")
        if n_probe < 1:
            raise ValueError(f"n_probe must be >= 1, got {n_probe}")
        if compact_at < 2:
            raise ValueError(f"compact_at must be >= 2, got {compact_at}")
        labels = [label for label, _vec in centroids]
        if len(set(labels)) != len(labels):
            raise ValueError("duplicate centroid labels: cells must be unique")
        self.path = path
        self.dim = int(dim)
        self.n_probe = int(n_probe)
        # refresh(compact=True) triggers a full-merge compaction only once
        # this many segments are live — the index compact is a WHOLE-index
        # rewrite, so running it per batch would be quadratic ingest
        self.compact_at = int(compact_at)
        # rounded to 6 before pinning: the spec must be bit-stable across
        # writers (the label_centroids determinism discipline)
        self.centroids = [
            (int(label), [round(float(x), 6) for x in vec])
            for label, vec in sorted(centroids)
        ]
        for label, vec in self.centroids:
            if len(vec) != self.dim:
                raise ValueError(
                    f"centroid {label} has dim {len(vec)}, expected {self.dim}"
                )
        self._log = SegmentLog(
            path, self._quantizer_spec(), what="quantizer", partition_by="cell"
        )

    def _quantizer_spec(self) -> dict:
        """Quantizer identity, guarded by the log: assignments from two
        different centroid sets must never mix in one index (n_probe is
        query-time only). Lists, not tuples — the spec must compare equal
        after a JSON round-trip."""
        return {
            "dim": self.dim,
            "centroids": [[label, vec] for label, vec in self.centroids],
        }

    # ---- the log -----------------------------------------------------------
    def current_version(self) -> int:
        return self._log.current_version()

    def segments(self, version: int | None = None) -> list[dict]:
        """Live segment descriptors [{dir, schema}] at ``version``."""
        return self._log.segments(version)

    def applied_batches(self) -> list[str]:
        return self._log.applied_batches()

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Drop manifests older than the newest ``keep_last`` and every
        segment no kept manifest references."""
        return self._log.vacuum(keep_last)

    # ---- quantizer -------------------------------------------------------
    def _centroids_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            self.centroids, "cell bigint, centroid array<double>"
        )

    def assign_cells(self, spark: SparkSession, vectors: DataFrame) -> DataFrame:
        """(vec_id, embedding, cell): each vector's nearest pinned centroid
        — ml.assign_nearest's measured argmin plan (rounded squared
        distance, cell-id tie-break), with the label threading disabled
        (keep=()); the join back re-attaches the embedding without
        shuffling the vectors."""
        from machinelearningalgomapreduce_spark.operators.ml import assign_nearest

        cents = self._centroids_df(spark).select(
            F.col("cell").alias("label"), "centroid"
        )
        best = assign_nearest(
            vectors.select("vec_id", "embedding"), cents, self.dim, keep=()
        ).select("vec_id", F.col("cluster").alias("cell"))
        return vectors.select("vec_id", "embedding").join(best, "vec_id")

    # ---- maintenance -----------------------------------------------------
    def _payload(self, spark: SparkSession, delta: DataFrame) -> DataFrame:
        """(vec_id, payload, cell): what a segment stores for ``delta``."""
        return self.assign_cells(spark, delta)

    def refresh(
        self, spark: SparkSession, delta: DataFrame, batch_id: str,
        compact: bool = True,
    ) -> bool:
        """Append one delta of vectors as a cell-partitioned segment
        (O(delta) — existing index state is never read or rewritten).
        Returns False (no-op) for an already-applied batch_id.

        A re-sent vec_id lands as a second row (upsert-at-compaction:
        ``compact`` keeps the NEWEST row per vec_id; until then query()
        resolves duplicates newest-wins within its probed cells, but a
        vector that MOVED cells may still surface its stale row when
        only the old cell is probed — compact promptly after updates).

        An EMPTY delta advances only the ledger: a dynamic-partition
        write of zero rows emits no parquet files, so there is no segment
        to commit.

        ``compact=True`` (the mv_ingest_stream contract) runs the
        full-merge compaction only once ``compact_at`` segments are live;
        ``compact=False`` defers entirely to an explicit maintenance
        call (mv_ingest_stream's compact_every schedule)."""
        self._log.check_spec()
        # deterministic within-batch dedup: a vec_id sent twice in ONE
        # delta keeps the array-max embedding (arrays compare
        # lexicographically), so the segment never depends on row order
        delta = delta.groupBy("vec_id").agg(F.max("embedding").alias("embedding"))
        def write(segs: list[dict]) -> list[dict]:
            seg = self._log.write_segment(self._payload(spark, delta))
            return segs if seg is None else [*segs, seg]

        if not self._log.append(batch_id, write):
            return False
        if compact and len(self.segments()) >= self.compact_at:
            self.compact(spark)
        return True

    def compact(self, spark: SparkSession) -> int:
        """Merge ALL live segments into one cell-partitioned segment,
        resolving duplicate vec_ids to the NEWEST row (max manifest
        position — the upsert-at-compaction promise). No-op below 2
        segments. Old versions stay time-travel-resolvable until vacuum."""
        self._log.check_spec()
        v0 = self.current_version()  # version the merge is derived from
        segs = self.segments(v0)
        if len(segs) < 2:
            return 0
        seg = self._log.write_segment(self._newest(spark, segs))
        self._log.commit([seg], self.applied_batches(), base_v=v0)
        return 1

    def rebuild(
        self,
        spark: SparkSession,
        centroids: list[tuple[int, list[float]]],
        out_path: str,
        n_probe: int | None = None,
    ) -> "IVFIndexView":
        """Retrain: a NEW index at ``out_path`` under a new quantizer,
        seeded with this index's current corpus (duplicates resolved
        newest-wins first) as one batch. The old index stays intact —
        the serving swap is the caller's pointer flip, so a crashed
        rebuild leaves no half-trained index in the serving path."""
        if os.path.abspath(out_path) == os.path.abspath(self.path):
            raise ValueError("rebuild requires a NEW path (quantizers must not mix)")
        new = IVFIndexView(
            out_path,
            centroids,
            dim=self.dim,
            n_probe=self.n_probe if n_probe is None else n_probe,
            compact_at=self.compact_at,
        )
        segs = self.segments()
        corpus = (
            self._newest(spark, segs) if segs else self.read(spark)
        ).select("vec_id", "embedding")
        new.refresh(
            spark, corpus, batch_id=f"rebuild-v{self.current_version():08d}"
        )
        return new

    # ---- reads -----------------------------------------------------------
    def _newest(
        self, spark: SparkSession, segs: list[dict], cells: list[int] | None = None
    ) -> DataFrame:
        """(vec_id, payload, cell) over ``segs`` with each vec_id resolved
        to its row in the newest segment (max manifest position).
        ``cells`` restricts the scan to those cells' directories: the
        filter sits below the aggregate, so it reaches every segment scan
        as a partition filter."""
        rows = self._log.read(spark, segs, order_col="_seg")
        if cells is not None:
            rows = rows.filter(F.col("cell").isin(cells))
        p = self._PAYLOAD
        return (
            rows.groupBy("vec_id")
            .agg(F.max_by(F.struct(p, "cell"), "_seg").alias("r"))
            .select("vec_id", f"r.{p}", "r.cell")
        )

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The indexed corpus (vec_id, payload, cell) at ``version``, read
        with each segment's recorded schema (no inference job). Plain
        segment union: a vec_id re-ingested since the last compact
        appears once per ingest (see refresh — upsert-at-compaction)."""
        self._log.check_spec()
        segs = self.segments(_committed(version, self.current_version(), "index"))
        if not segs:  # only empty deltas applied so far
            return spark.createDataFrame([], self._EMPTY_SCHEMA)
        return self._log.read(spark, segs)

    def _probe_plan(self, spark: SparkSession, queries: DataFrame) -> DataFrame:
        """(query_id, qv, qnorm, pcell): each query row replicated to its
        top-``n_probe`` nearest cells — centroids broadcast, one window
        per query. Shared by the full-vector and PQ query paths."""
        cents = F.broadcast(self._centroids_df(spark))
        qd2 = F.round(sq_dist(F.col("qv"), F.col("centroid"), self.dim), 6)
        wq = W.partitionBy("query_id").orderBy("dist2", "cell")
        q = queries.select(
            F.col("query_id"),
            F.col("embedding").alias("qv"),
            norm(F.col("embedding"), self.dim).alias("qnorm"),
        )
        return (
            q.crossJoin(cents)
            .select("query_id", "qv", "qnorm", "cell", qd2.alias("dist2"))
            .withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= self.n_probe)
            .select("query_id", "qv", "qnorm", F.col("cell").alias("pcell"))
        )

    def _gated_probe(
        self,
        spark: SparkSession,
        probe_plan: DataFrame,
        probe_collect_cap: int | None,
    ) -> tuple[DataFrame | None, list[int]]:
        """Size-gated probe materialization: (probe frame, probed cells).
        ``(None, [])`` means the query frame is empty. Below the cap the
        probe collects ONCE and ships back broadcast (single evaluation —
        self-consistent even for nondeterministic sources); above it the
        probe stays a distributed plan and only the DISTINCT probed cells
        (bounded by the centroid count) come back for partition pruning —
        that path re-evaluates the caller's lineage, so cache()
        nondeterministic sources."""
        cap = (
            PROBE_COLLECT_CAP_ROWS
            if probe_collect_cap is None
            else probe_collect_cap
        )
        # limit(cap+1) evaluates once: if ≤cap rows come back they ARE the
        # complete probe set; cap+1 rows means the set overflows the gate
        # and the collected sample is discarded in favor of the
        # distributed plan.
        probe_rows = probe_plan.limit(cap + 1).collect()
        if not probe_rows:
            return None, []
        if len(probe_rows) <= cap:
            # schema taken from the plan, not hardcoded — query_id keeps
            # the caller's type (external id spaces may not be long)
            probe = F.broadcast(
                spark.createDataFrame(probe_rows, probe_plan.schema)
            )
            return probe, sorted({r.pcell for r in probe_rows})
        # Overflow: the single-evaluation guarantee the broadcast path
        # provides silently ends here — the caller's query lineage is
        # re-evaluated (once for the gate probe above, again for the
        # distinct-cells collect, again downstream). Correct for
        # deterministic sources; say so LOUDLY once so a caller with a
        # nondeterministic source knows to materialize_once() it first
        # (r12 ADVICE: the hazard used to live only in the docstring).
        import warnings

        warnings.warn(
            f"IVF probe overflowed the {cap}-row collect gate; continuing "
            "with a distributed probe plan that RE-EVALUATES the query "
            "lineage — materialize_once() nondeterministic query "
            "sources first",
            stacklevel=3,
        )
        return probe_plan, sorted(
            r.pcell for r in probe_plan.select("pcell").distinct().collect()
        )

    def _empty_query_result(
        self, spark: SparkSession, probe_plan: DataFrame
    ) -> DataFrame:
        """Empty result with the SAME schema as the non-empty case —
        query_id's type derived from the probe plan (external id spaces
        may not be long), so the empty corner unions cleanly."""
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(
                        "query_id", probe_plan.schema["query_id"].dataType
                    ),
                    T.StructField("neighbor_id", T.LongType()),
                    T.StructField("cell", T.LongType()),
                    T.StructField("cos_sim", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )

    def query(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 3,
        exclude_self: bool = True,
        probe_collect_cap: int | None = None,
    ) -> DataFrame:
        """Top-k cosine neighbors per query row (query_id, embedding),
        searching only each query's ``n_probe`` nearest cells. The cell
        filter lands on the segment scans as a PARTITION filter, so the
        read touches ~n_probe/k of the index regardless of corpus size.
        Output: (query_id, neighbor_id, cell, cos_sim, rank) — the
        q_sim_ann contract.

        The probe set (query vectors × their probed cells) is SIZE-GATED
        (``probe_collect_cap``, default ``PROBE_COLLECT_CAP_ROWS``): while
        it fits, it is computed ONCE and shipped back as a broadcast local
        relation — single evaluation, so even a nondeterministic query
        source yields a self-consistent probe. Past the cap (a batch
        re-embedding job, a bulk kNN join) collecting would OOM the
        driver, so the probe stays a distributed plan and the candidate
        join shuffles on cell; only the DISTINCT probed cells (bounded by
        the centroid count, never the query count) come back for segment
        partition pruning. The distributed path evaluates the caller's
        query lineage more than once — ``cache()`` nondeterministic
        sources before calling.
        Zero-norm vectors (query or indexed) take NULL cosine via
        ``try_divide`` and sort out of the top-k window (NULLs last under
        desc) instead of poisoning rank 1 with 0/0 = NaN.
        Duplicate index rows for one vec_id (re-ingested before the next
        compact) resolve newest-wins here. ``exclude_self`` drops
        candidates whose vec_id EQUALS the query_id — correct when query
        ids live in the corpus id space (the q_sim_ann contract); pass
        False for an external query id space, where a coincidental id
        match would silently drop a legitimate neighbor."""
        probe_plan = self._probe_plan(spark, queries)
        probe, probed_cells = self._gated_probe(
            spark, probe_plan, probe_collect_cap
        )
        segs = self.segments()
        if probe is None or not segs:  # no queries, or an all-empty index
            return self._empty_query_result(spark, probe_plan)
        # only the probed cells' directories are read
        corpus = self._newest(spark, segs, probed_cells).select(
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            F.col("embedding").alias("nv"),
            norm(F.col("embedding"), self.dim).alias("vnorm"),
        )
        # try_divide: a zero-norm vector (indexed or query) yields NULL
        # cosine, which sorts LAST under desc and drops out of the top-k
        # window — plain division would produce 0/0 = NaN, which sorts
        # ABOVE all doubles and makes one degenerate vector the rank-1
        # neighbor of every query probing its cell (the dedup.py
        # q_dedup_embedding discipline, applied to the serving path).
        cos = F.round(
            F.try_divide(
                dot(F.col("qv"), F.col("nv"), self.dim),
                F.col("qnorm") * F.col("vnorm"),
            ),
            6,
        )
        cond = F.col("pcell") == F.col("cell")
        if exclude_self:
            cond = cond & (F.col("query_id") != F.col("neighbor_id"))
        w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
        return (
            probe.join(corpus, cond)
            .select("query_id", "neighbor_id", "cell", cos.alias("cos_sim"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
