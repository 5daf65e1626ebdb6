"""Streaming ingestion sinks (SURVEY.md §2E library tier).

``dedup_ingest_stream`` is the streaming twin of
operators/incremental.py::q_incremental_dedup — continuous corpus
ingestion where each micro-batch admits only documents whose content hash
has never been seen, maintaining a persistent hash index on disk via
``foreachBatch``. This is the shape a 100 TB training-data pipeline runs
for its landing zone: the heavy state (the seen-hash index) lives in
cheap columnar storage keyed by the hash, NOT in the streaming state
store, so index size is unbounded by executor memory and the stream
restarts for free from the checkpoint + index.

Both stores here that a micro-batch rewrites — the dedup hash index and
the SCD2 dimension — are ``SegmentLog``s (operators/matview.py): versions
are manifests over immutable parquet segments, a batch commits with one
atomic pointer flip, and the manifest's ledger of applied batch ids makes
a replayed epoch a no-op. Readers resolve the pointer and never see a
half-written version; read them with ``read_dedup_index`` and
``read_scd2_dimension``, not a plain parquet read of the directory.
A directory holding plain parquet from an older layout is refused.

Exactly-once posture: foreachBatch is at-least-once on retry. The hash
sink writes a batch's admitted documents to its epoch-keyed output
directory (overwrite) and then commits the batch's index segment; a
replay of a committed epoch is a ledger no-op, and a replay after a crash
before the commit recomputes against the same committed index, so it
rewrites the identical survivor set. Within one batch the survivor per
hash is the min doc_id (min_by — deterministic).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.functions.storage import materialize_once
from machinelearningalgomapreduce_spark.operators.matview import SegmentLog, _committed


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet — the shared cached-schema
    idiom lives in windows.stream_table (one copy to keep in sync)."""
    from machinelearningalgomapreduce_spark.streaming.windows import stream_table

    return stream_table(spark, sf_dir, "documents.parquet")


def _index_log(index_dir: str) -> SegmentLog:
    return SegmentLog(
        index_dir,
        {"store": "dedup_hash_index", "columns": ["content_hash", "doc_id", "epoch"]},
        what="dedup index spec",
    )


def _read_committed(spark: SparkSession, path: str, what: str) -> DataFrame:
    # a read never records a spec, so the log is opened without one
    log = SegmentLog(path, {})
    return log.read(spark, log.segments(_committed(None, log.current_version(), what)))


def read_dedup_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The committed seen-hash index: one (content_hash, doc_id, epoch)
    row per admitted content hash, read schema-pinned (no inference job)."""
    return _read_committed(spark, index_dir, "dedup index")


def read_scd2_dimension(spark: SparkSession, dim_dir: str) -> DataFrame:
    """The committed SCD2 dimension written by ``scd2_ingest_stream``:
    (key, tracked..., valid_from, valid_to), read schema-pinned."""
    return _read_committed(spark, dim_dir, "SCD2 dimension")


def _ingest_batch(spark: SparkSession, index_dir: str, out_dir: str, run_key: str):
    """Build the per-batch merge function over a persistent hash index.

    ``run_key`` scopes batch ids: Structured Streaming numbers epochs from
    0 PER CHECKPOINT, so the epoch identity in the index ledger, the index
    rows and the output directory name is (run_key, batch_id) — otherwise
    batch 0 of a second ingestion run would be mistaken for a replay of
    batch 0 of the first and skipped.

    Raises ValueError at once when ``index_dir`` is not a dedup index log
    (e.g. a plain-parquet index from an older layout), before any write."""

    run_digest = hashlib.md5(run_key.encode()).hexdigest()[:8]
    log = _index_log(index_dir)
    log.check_spec()

    def ingest(batch: DataFrame, batch_id: int) -> None:
        # Zero-padded batch id: stamps of one run then sort in batch order.
        epoch = f"{run_digest}/{batch_id:010d}"
        # NULL text hashes to a sentinel, not NULL: a NULL content_hash
        # would group ALL null-text docs of a batch to one survivor yet
        # never match the seen-set anti-join (NULL != NULL), re-admitting
        # one per batch — dedup outcome would depend on batching. With
        # the sentinel, all null-text docs are one content class,
        # deterministically, within and across batches.
        hashed = batch.withColumn(
            "content_hash",
            F.coalesce(F.md5("text"), F.lit("__NULL_TEXT__")),
        )
        # Within-batch survivor: min doc_id per hash (deterministic).
        survivors = (
            hashed.groupBy("content_hash")
            .agg(F.min_by(F.struct(*hashed.columns), "doc_id").alias("row"))
            .select("row.*")
        )

        # Runs once per commit attempt, against the index version it
        # commits on top of: a rebase onto a competing writer's commit
        # recomputes the admitted set (and rewrites the output) against
        # the winner's index.
        def write(segs: list[dict]) -> list[dict]:
            admitted = survivors
            if segs:
                seen = log.read(spark, segs).select("content_hash")
                admitted = admitted.join(
                    F.broadcast(seen) if log.broadcastable(segs) else seen,
                    "content_hash",
                    "left_anti",
                )
            admitted = materialize_once(admitted)  # one evaluation, two writes
            admitted.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"epoch={epoch.replace('/', '_')}")
            )
            return [*segs, log.write_segment(
                admitted.select("content_hash", "doc_id", F.lit(epoch).alias("epoch"))
            )]

        log.append(epoch, write)

    return ingest


def compact_dedup_index(spark: SparkSession, index_dir: str) -> dict:
    """Offline maintenance for the dedup hash index: every ingest batch
    appends one segment, so the live segment list (and the file count the
    ingest anti-join scans) grows by one per batch. Compaction rewrites
    the live segments as ONE segment, hash-partitioned on content_hash
    into a BOUNDED file count (~64 MB per file, sized from the live
    segments' bytes), commits it with the unchanged ledger, and vacuums
    the superseded segments. Rows are copied as they are — the index
    holds one row per content hash by construction, each with the epoch
    that admitted it.

    The commit is pinned to the version the rewrite read, so an ingest
    batch committing meanwhile makes the compaction fail loudly (version
    collision) instead of dropping that batch; re-run it.

    Returns {"rows_before", "rows_after", "files_before", "files_after"}.
    """
    log = _index_log(index_dir)
    log.check_spec()
    v0 = log.current_version()
    segs = log.segments(v0)
    if not segs:
        return {"rows_before": 0, "rows_after": 0,
                "files_before": 0, "files_after": 0}

    def parquet_files(segs: list[dict]) -> list[str]:
        return [
            os.path.join(root, f)
            for s in segs
            for root, _dirs, files in os.walk(os.path.join(log.path, s["dir"]))
            for f in files
            if f.endswith(".parquet")
        ]

    idx = log.read(spark, segs)
    rows_before = idx.count()
    files_before = parquet_files(segs)
    total_bytes = sum(os.path.getsize(f) for f in files_before)
    n_out = max(1, -(-total_bytes // (64 << 20)))
    new = log.write_segment(idx.repartition(n_out, F.col("content_hash")))
    log.commit([new], log.manifest(v0)["batches"], base_v=v0)
    log.vacuum(keep_last=1)
    return {
        "rows_before": rows_before,
        "rows_after": log.read(spark, [new]).count(),
        "files_before": len(files_before),
        "files_after": len(parquet_files([new])),
    }


def scd2_ingest_stream(
    spark: SparkSession,
    updates_stream: DataFrame,
    dim_dir: str,
    checkpoint_dir: str,
    key: str,
    tracked: list[str],
    ts_col: str = "ts",
):
    """Streaming dimension maintenance: each micro-batch of updates is
    MERGED into the SCD2 dimension via
    operators/incremental.py::scd2_apply (composition of verified pieces —
    the foreachBatch twin of a MERGE INTO job chain).

    Within a batch, only the LATEST update per key applies (max_by ts).
    The dimension is a ``SegmentLog`` at ``dim_dir`` (read it with
    ``read_scd2_dimension``): each batch reads the committed version,
    writes the merged dimension as one new segment and commits it under
    the run-scoped batch id, so a replayed epoch is a ledger no-op and a
    crash before the commit leaves the previous version in place. The
    empty-dimension bootstrap is typed from the batch's own schema. The
    spec (key, tracked, ts_col) is guarded on reopen; a ``dim_dir``
    holding plain parquet from an older layout raises ValueError before
    the stream starts."""
    from machinelearningalgomapreduce_spark.operators.incremental import scd2_apply

    if not tracked:
        raise ValueError("scd2_ingest_stream needs at least one tracked column")
    log = SegmentLog(
        dim_dir, {"key": key, "tracked": list(tracked), "ts_col": ts_col},
        what="SCD2 spec",
    )
    log.check_spec()
    run_digest = hashlib.md5(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:8]

    def merge(batch: DataFrame, batch_id: int) -> None:
        latest = (
            batch.groupBy(key)
            .agg(F.max_by(F.struct(*batch.columns), ts_col).alias("r"))
            .select("r.*")
        )

        def write(segs: list[dict]) -> list[dict]:
            if segs:
                dim = log.read(spark, segs)
            else:
                # TYPED bootstrap derived from this batch's schema: an
                # all-string empty frame would union-widen every tracked
                # column and valid_from/valid_to to STRING permanently (set
                # operations coerce string+T to string), and later ts
                # comparisons would go through lossy double casts.
                proto = latest.select(
                    F.col(key),
                    *[F.col(c) for c in tracked],
                    F.col(ts_col).alias("valid_from"),
                    F.col(ts_col).alias("valid_to"),
                )
                dim = spark.createDataFrame([], proto.schema)
            return [log.write_segment(scd2_apply(dim, latest, key, tracked, ts_col))]

        log.append(f"{run_digest}/{batch_id:010d}", write)

    return (
        updates_stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_ingest_stream(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Run the incremental-dedup ingestion over the documents stream.
    Default trigger is availableNow — drain everything currently in the
    source and stop. ``processing_time=`` switches to a LIVE
    trigger(processingTime=...) that keeps polling the source (r14: the
    sustained micro-batch serving shape; the caller stops the query);
    ``max_files_per_trigger`` bounds each micro-batch's file intake so a
    directory-layout source arrives as a stream of batches instead of
    one drain. The ADMITTED CONTENT-HASH SET is batch-partitioning-
    independent (the seen-set is the index; exactly one survivor per
    hash under any split — only which doc_id represents a hash can
    shift when its copies straddle a boundary); at equal
    max_files_per_trigger the live-trigger run is row-identical to the
    availableNow run (soak-test-pinned). Returns the StreamingQuery
    (caller awaits termination or stops it)."""
    from machinelearningalgomapreduce_spark.streaming.windows import stream_table

    run_key = os.path.abspath(checkpoint_dir)
    docs = stream_table(
        spark, sf_dir, "documents.parquet",
        max_files_per_trigger=max_files_per_trigger,
    )
    w = (
        docs.writeStream.foreachBatch(_ingest_batch(spark, index_dir, out_dir, run_key))
        .option("checkpointLocation", checkpoint_dir)
    )
    if processing_time is None:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=processing_time)
    return w.start()


def _semantic_ingest_batch(
    spark: SparkSession,
    index,
    out_dir: str,
    run_key: str,
    threshold: float,
    full_vectors=None,
):
    """Per-batch admission function over a persisted IVF index
    (operators/ivf_index.py::IVFIndexView) — the SEMANTIC twin of
    _ingest_batch's exact-hash admission: a new vector is admitted only
    if the index holds no neighbor with rounded cosine ≥ ``threshold``
    AMONG ITS PROBED CELLS — admission recall is the index's multi-probe
    recall (approximate by IVF construction, unlike the hash twin's
    exact seen-set; size n_probe to the corpus geometry, measured via
    similarity.ann_recall_frame).

    Exactly-once protocol (the index's ``SegmentLog`` ledger, as on the
    hash path):

    1. ledger short-circuit — if this epoch is already in
       ``index.applied_batches()``, BOTH writes below completed (output
       is written before the index refresh), so the whole batch no-ops;
    2. within-batch collapse — blocked near-dup pairs over the batch
       (dedup.embedding_dedup_blocked) → CC clusters → min-vec_id
       survivor per cluster (deterministic);
    3. cross-batch admission — survivors query the index
       (k=1, exclude_self on vec_id); a top-1 cosine ≥ threshold means a
       near-dup is already indexed → dropped. Works over an
       ``IVFPQIndexView`` too (r12): the PQ re-rank's full-vector frame
       is derived from the admission log (see the inline comment), so
       admission recall then also includes the ADC candidate-selection
       approximation;
    4. accepted rows overwrite the epoch-keyed output directory;
    5. ``index.refresh(accepted, epoch)`` appends ONE cell-partitioned
       segment and commits the epoch to the ledger — the commit point.

    OUTPUT CONTRACT (r11 review): ``out_dir`` is a per-epoch admission
    LOG — each ``batch=…`` directory is exactly that epoch's admitted
    rows, and a vec_id re-sent in a later epoch with a changed (non-
    near-dup) embedding is admitted AGAIN (an upsert), so a flat read of
    out_dir can hold several rows per vec_id across runs. The current
    deduplicated corpus SNAPSHOT is the index (``index.read``, one row
    per vec_id after compaction, newest-wins) — epoch directories cannot
    be ordered across runs (run digests are not monotonic), so the index
    manifest is the only authority on which upsert won.

    A crash anywhere before 5 replays into an UNCHANGED index state, so
    steps 2-4 recompute bit-identically (deterministic plans, rounded
    cosines, id tie-breaks) and the output overwrite is idempotent.

    100 TB shape: admission cost per batch is one blocked self-join over
    the BATCH (cells auto-sized) + one index probe reading ~n_probe/k of
    the index via partition pruning; the index grows O(accepted)."""
    from machinelearningalgomapreduce_spark.operators.dedup import (
        embedding_dedup_blocked,
        min_label_clusters,
    )

    run_digest = hashlib.md5(run_key.encode()).hexdigest()[:8]

    def ingest(batch: DataFrame, batch_id: int) -> None:
        epoch = f"{run_digest}/{batch_id:010d}"
        if epoch in index.applied_batches():
            return  # replay of a fully-committed epoch — both writes done
        batch = materialize_once(batch.select("vec_id", "embedding"))
        # Within-batch near-dup collapse (min vec_id per CC cluster) at
        # the CALLER's threshold, passed INTO the operator: it filters at
        # the rep level and then expands member pairs, exact-duplicate
        # pairs at cos 1.0 included — filtering rep-level pairs here
        # would miss those, and two exact copies in one batch would both
        # be admitted. A non-default threshold so governs BOTH stages.
        # Checkpoint the pair plan: the CC loop re-walks its edge
        # lineage every iteration, and the kmeans-assignment self-join
        # is far too heavy to recompute per iteration.
        pairs = materialize_once(
            embedding_dedup_blocked(spark, batch, threshold=threshold)
            .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        )
        # empty pair frame short-circuits inside the CC fixpoint (empty
        # labels converge on the first read) — no branch needed
        losers = (
            min_label_clusters(pairs)
            .filter(~F.col("keep"))
            .select(F.col("doc_id").alias("vec_id"))
        )
        survivors = batch.join(losers, "vec_id", "left_anti")
        # cross-batch: drop survivors whose indexed top-1 ≥ threshold
        if index.current_version() and index.segments():
            qframe = survivors.select(
                F.col("vec_id").alias("query_id"), "embedding"
            )
            if getattr(index, "pq_m", None) and full_vectors is not None:
                matches = index.query(
                    spark, qframe, k=1, full_vectors=full_vectors
                )
            elif getattr(index, "pq_m", None):
                # PQ-backed admission (VERDICT r11 item 3): an
                # IVFPQIndexView stores codes only, so its exact re-rank
                # stage needs a full-vector frame. The admission LOG is
                # that corpus — every vector THIS SINK indexed was
                # written to out_dir BEFORE its index commit, so the log
                # covers the index. An index populated OUTSIDE the sink
                # has no log coverage: its vectors would silently drop
                # from the re-rank inner join and their near-dups be
                # admitted — refuse loudly and point at the
                # full_vectors= escape hatch (r12 review). An upserted
                # vec_id can hold several log rows; resolve newest-wins
                # within this run (the zero-padded `batch` partition
                # column sorts lexicographically = numerically),
                # deterministic-but-arbitrary across runs — the same
                # authority caveat the OUTPUT CONTRACT above owns. The
                # CURRENT epoch's own directory is excluded: a crash
                # between the output write and the index refresh must
                # replay bit-identically, and reading the crashed
                # attempt's rows back would let an upserted embedding
                # flip near-threshold admissions (r12 review). At 100 TB
                # this is the index option that fits the storage budget:
                # the hot cell-partitioned index holds M ints/vector;
                # the re-rank touches ≤ rerank_mult rows per query from
                # the cold log.
                if not os.path.isdir(out_dir):
                    raise ValueError(
                        "PQ-backed semantic dedup: the index already has "
                        f"segments but the admission log {out_dir} does "
                        "not exist, so the exact re-rank has no "
                        "full-vector corpus for the indexed vectors. "
                        "Either let THIS sink build the index from "
                        "scratch, or pass full_vectors= covering every "
                        "indexed vec_id."
                    )
                pref = F.struct(
                    F.col("batch")
                    .startswith(run_digest + "-")
                    .cast("int")
                    .alias("cur"),
                    F.col("batch").alias("b"),
                )

                # Pruned-log re-rank corpus (r12 ADVICE): the old eager
                # form groupBy-aggregated the ENTIRE admission log every
                # micro-batch — O(total corpus) shuffle per batch at the
                # 100 TB target. As a callable it receives exactly the
                # ADC candidates the re-rank touches and semi-joins the
                # log on them BEFORE the newest-wins aggregate (the
                # candidate set is batch-bounded, so it broadcasts).
                # Coverage is cross-checked loudly: a candidate the
                # INDEX surfaced but the LOG cannot re-rank means log
                # epochs were deleted out from under the index — the
                # silent failure mode is near-dups getting ADMITTED, so
                # refuse instead (the full_vectors= escape hatch covers
                # externally-populated indexes).
                def fv_for(cand_ids):
                    cand_ids = materialize_once(cand_ids)

                    def refuse(n_missing):
                        raise ValueError(
                            "PQ-backed semantic dedup: the admission log "
                            f"{out_dir} has no full vectors for "
                            f"{n_missing} indexed candidate(s) — log "
                            "epochs were deleted or the index was "
                            "populated outside this sink; re-ranking "
                            "without them would silently admit their "
                            "near-duplicates. Restore the log or pass "
                            "full_vectors= covering every indexed vec_id."
                        )

                    # No epoch pre-check (r13 ADVICE): a log with every
                    # prior epoch gone reads as an empty frame and the
                    # n_missing count below issues the same refusal (and
                    # the same empty result when nothing was probed) —
                    # one uniform coverage path, no driver-side listing
                    # that hard-codes the local-fs `batch=` layout. The
                    # one corner the listing caught — a log directory
                    # holding ZERO epochs, where parquet schema inference
                    # itself fails — routes to the identical refusal.
                    # Only THAT failure is expected here (AnalysisException:
                    # path missing / unable to infer schema); anything else
                    # — corrupt epoch file, permissions, transient FS —
                    # must propagate, not masquerade as the coverage
                    # refusal (r14 ADVICE).
                    from pyspark.errors import AnalysisException

                    try:
                        log = spark.read.parquet(out_dir)
                    except AnalysisException:
                        n = cand_ids.count()
                        if n:
                            refuse(n)
                        return spark.createDataFrame(
                            [], "vec_id long, embedding array<double>"
                        )
                    fv = materialize_once(
                        log
                        .filter(
                            F.col("batch") != f"{run_digest}-{batch_id:010d}"
                        )
                        .join(F.broadcast(cand_ids), "vec_id", "semi")
                        .select("vec_id", "embedding", pref.alias("o"))
                        .groupBy("vec_id")
                        .agg(F.max_by("embedding", "o").alias("embedding"))
                    )
                    n_missing = cand_ids.join(fv, "vec_id", "left_anti").count()
                    if n_missing:
                        refuse(n_missing)
                    return fv

                matches = index.query(spark, qframe, k=1, full_vectors=fv_for)
            else:
                matches = index.query(spark, qframe, k=1)
            hits = matches.filter(F.col("cos_sim") >= threshold).select(
                F.col("query_id").alias("vec_id")
            )
            accepted = survivors.join(hits, "vec_id", "left_anti")
        else:
            accepted = survivors
        accepted = materialize_once(accepted)  # pin ONE evaluation for both writes
        accepted.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={run_digest}-{batch_id:010d}")
        )
        index.refresh(spark, accepted, batch_id=epoch)  # THE commit

    return ingest


def semantic_dedup_ingest_stream(
    spark: SparkSession,
    sf_dir: str,
    index,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float | None = None,
    full_vectors=None,
    *,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Streaming semantic-dedup ingestion: drain the embeddings source,
    admitting only vectors with no near-dup (rounded cosine ≥ threshold)
    already in the persisted IVF ``index``
    (operators/ivf_index.py::IVFIndexView), and indexing the admitted
    ones. Default trigger is availableNow (drain and stop);
    ``processing_time=``/``max_files_per_trigger=`` follow
    dedup_ingest_stream's live-trigger lane. Admission depends on BATCH
    PARTITIONING (a near-dup pair arriving together collapses to the
    min-vec_id survivor; arriving apart, first-arrival wins) but NOT on
    trigger mode: at equal max_files_per_trigger the live-trigger run
    admits exactly the availableNow run's set (soak-test-pinned).
    Returns the StreamingQuery (caller awaits termination or stops
    it)."""
    from machinelearningalgomapreduce_spark.operators.dedup import (
        EMBEDDING_COSINE_THRESHOLD,
    )
    from machinelearningalgomapreduce_spark.streaming.windows import stream_table

    thr = EMBEDDING_COSINE_THRESHOLD if threshold is None else threshold
    run_key = os.path.abspath(checkpoint_dir)
    vecs = stream_table(
        spark, sf_dir, "embeddings.parquet",
        max_files_per_trigger=max_files_per_trigger,
    )
    w = (
        vecs.writeStream.foreachBatch(
            _semantic_ingest_batch(
                spark, index, out_dir, run_key, thr, full_vectors
            )
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if processing_time is None:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=processing_time)
    return w.start()
