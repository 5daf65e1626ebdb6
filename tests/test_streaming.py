"""Structured Streaming wrappers agree with their oracle-checked batch
twins when driven to completion with trigger(availableNow)."""

from __future__ import annotations

from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.operators.events import q_events_tumbling
from machinelearningalgomapreduce_spark.streaming import windows as sw

from tests.conftest import drain


def test_tumbling_stream_matches_batch(spark, sf_dir):
    stream = sw.tumbling_counts(sw.stream_events(spark, sf_dir))
    got = sw.run_to_memory(stream, "t_tumbling")
    batch = q_events_tumbling(spark, sf_dir).select(
        "window_start", "event_type", "n_events", "sum_value"
    )
    g = {(r.window_start, r.event_type): (r.n_events, r.sum_value) for r in got.collect()}
    b = {(r.window_start, r.event_type): (r.n_events, r.sum_value) for r in batch.collect()}
    assert g == b


def test_session_stream_counts(spark, sf_dir):
    from machinelearningalgomapreduce_spark.operators.events import q_session_stats

    stream = sw.session_counts(sw.stream_events(spark, sf_dir))
    got = sw.run_to_memory(stream, "t_sessions")
    batch = q_session_stats(spark, sf_dir)
    # Same session partitioning → same number of sessions and same total events.
    assert got.count() == batch.count()
    assert (
        got.agg(F.sum("n_events")).first()[0] == batch.agg(F.sum("n_events")).first()[0]
    )


def test_stream_dedup_drops_duplicates(spark, sf_dir):
    stream = sw.dedup_late_events(sw.stream_events(spark, sf_dir))
    got = sw.run_to_memory(stream, "t_dedup", output_mode="append")
    n_ids = got.select("event_id").distinct().count()
    assert got.count() == n_ids


def test_stream_static_blocklist_filters_users(spark, sf_dir):
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    events = load_tables(spark, sf_dir).events
    blocked = events.select("user_id").distinct().limit(3)
    blocked_ids = {r.user_id for r in blocked.collect()}
    stream = sw.filter_against_blocklist(sw.stream_events(spark, sf_dir), blocked)
    got = sw.run_to_memory(stream, "t_blocklist", output_mode="append")
    # No blocked user survives, and everything else does.
    assert not ({r.user_id for r in got.select("user_id").distinct().collect()} & blocked_ids)
    expected = events.join(blocked, "user_id", "left_anti").count()
    assert got.count() == expected


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """The stream-stream interval join emits exactly the (error, click)
    pairs the batch bucketed range join generates."""
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from machinelearningalgomapreduce_spark.streaming import windows as SW

    out = SW.run_to_memory(
        SW.interval_join_stream(SW.stream_events(spark, sf_dir)),
        "t_interval_join",
        output_mode="append",
    )
    got = {(r.event_id, r.c_ts) for r in out.collect()}

    ev = load_tables(spark, sf_dir).events
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("e_ts")
    )
    batch = errors.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 10 minutes"))
        & (F.col("c_ts") < F.col("e_ts")),
    )
    want = {(r.event_id, r.c_ts) for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_foreachbatch_incremental_refresh_matches_batch(spark, sf_dir, tmp_path):
    """The streaming side of operators/incremental.py: partial aggregate
    states merged across micro-batches (foreachBatch) equal the one-pass
    batch aggregate — DECIMAL-exact sums make the merge algebra lossless
    regardless of how the stream was chopped into batches."""
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    ev = load_tables(spark, sf_dir).events
    src = str(tmp_path / "events_stream")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    partials = []

    def merge_batch(batch_df, batch_id):
        rows = (
            batch_df.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
            )
            .collect()
        )
        partials.extend((r.event_type, r.n, r.sv) for r in rows)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(partials) > 5, "expected multiple micro-batch partials"

    merged = {}
    for et, n, sv in partials:
        cn, cs = merged.get(et, (0, 0))
        merged[et] = (cn + n, cs + sv)

    want = {
        r.event_type: (r.n, r.sv)
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
        )
        .collect()
    }
    assert {k: (n, s) for k, (n, s) in merged.items()} == want


def test_wilson_ctr_stream_matches_batch(spark, sf_dir):
    """availableNow over the whole fixture ≡ the batch q_wilson_ctr."""
    from machinelearningalgomapreduce_spark.operators.evaluation import q_wilson_ctr
    from machinelearningalgomapreduce_spark.streaming.windows import (
        run_to_memory, stream_events, wilson_ctr_stream,
    )

    got = {
        r["event_type"]: (r["n"], r["x"], r["p_hat"], r["wilson_lo"], r["wilson_hi"])
        for r in run_to_memory(
            wilson_ctr_stream(stream_events(spark, sf_dir)), "wilson_stream"
        ).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["x"], r["p_hat"], r["wilson_lo"], r["wilson_hi"])
        for r in q_wilson_ctr(spark, sf_dir).collect()
    }
    assert got == want


def test_cm_sketch_stream_matches_batch_build(spark, sf_dir):
    """The live sketch over the full stream ≡ a batch md5 Count-Min build
    on the same keys — cell-for-cell (the mergeability contract)."""
    from machinelearningalgomapreduce_spark.operators.sketches import (
        CMQ_DEPTH, CMQ_WIDTH, _md5_hex_int,
    )
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from machinelearningalgomapreduce_spark.streaming.windows import (
        cm_sketch_stream, run_to_memory, stream_events,
    )
    from pyspark.sql import functions as F

    got = {
        (r["row"], r["col_idx"]): r["cnt"]
        for r in run_to_memory(
            cm_sketch_stream(stream_events(spark, sf_dir)), "cm_stream"
        ).collect()
    }
    t = load_tables(spark, sf_dir)
    key = F.col("user_id")
    buckets = F.array(
        *[
            F.pmod(_md5_hex_int(key, f"cm{r}:", 3), F.lit(CMQ_WIDTH))
            for r in range(CMQ_DEPTH)
        ]
    )
    want = {
        (r["row"], r["col_idx"]): r["cnt"]
        for r in t.events.select(F.posexplode(buckets).alias("row", "col_idx"))
        .groupBy("row", "col_idx")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == want


def test_compact_dedup_index_preserves_semantics(spark, sf_dir, tmp_path):
    """Replayed epochs are ledger no-ops and add no index row; compaction
    folds the per-batch segments into one, keeps every row with its
    ORIGINAL epoch stamp and the ledger, so a post-compaction replay of the
    last epoch is still a no-op and a later epoch over the same docs still
    admits nothing."""
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        _index_log,
        _ingest_batch,
        compact_dedup_index,
        read_dedup_index,
    )

    index_dir = str(tmp_path / "idx")
    out_dir = str(tmp_path / "out")
    docs = load_tables(spark, sf_dir).documents.filter(F.col("doc_id") < 300)
    half = docs.filter(F.col("doc_id") < 150)
    ingest = _ingest_batch(spark, index_dir, out_dir, "runC")

    ingest(half, 0)
    n_half = read_dedup_index(spark, index_dir).count()
    ingest(half, 0)   # replayed epoch → no-op
    assert read_dedup_index(spark, index_dir).count() == n_half
    ingest(docs, 1)
    ingest(docs, 1)   # replayed epoch again
    idx_before = read_dedup_index(spark, index_dir)
    rows_before = idx_before.count()
    n_hashes = idx_before.select("content_hash").distinct().count()
    assert rows_before == n_hashes  # one row per hash, replays added none
    before_map = {
        r.content_hash: r.epoch
        for r in idx_before.select("content_hash", "epoch").collect()
    }
    log = _index_log(index_dir)
    ledger = log.applied_batches()
    assert len(log.segments()) == 2

    stats = compact_dedup_index(spark, index_dir)
    assert stats["rows_before"] == stats["rows_after"] == n_hashes
    assert len(log.segments()) == 1 and log.applied_batches() == ledger
    idx_after = read_dedup_index(spark, index_dir)
    assert idx_after.count() == n_hashes
    # epoch stamps preserved: every hash still carries its ORIGINAL epoch
    for r in idx_after.collect():
        assert before_map[r.content_hash] == r.epoch

    out_docs = sorted(
        r.doc_id for r in spark.read.parquet(out_dir).select("doc_id").collect()
    )
    # post-compaction replay of the LAST epoch: ledger no-op, output unchanged
    ingest(docs, 1)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out_dir).select("doc_id").collect()
    ) == out_docs
    # and a NEW epoch over already-seen docs admits nothing
    ingest(docs, 2)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out_dir).select("doc_id").collect()
    ) == out_docs


def test_compact_dedup_index_crash_recovery(spark, sf_dir, tmp_path):
    """A batch that crashed between linking its index manifest and
    flipping the pointer leaves an orphan segment (its admitted hashes)
    and an unflipped manifest. The re-driven batch ignores them — it
    admits against the COMMITTED index, so it admits those documents —
    and commits by reclaiming the orphan version; the compaction's vacuum
    then reclaims the orphan segment."""
    import os as _os

    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        _index_log,
        _ingest_batch,
        compact_dedup_index,
        read_dedup_index,
    )
    from tests.conftest import stage_crashed_commit

    index_dir = str(tmp_path / "idx2")
    out_dir = str(tmp_path / "out2")
    docs = load_tables(spark, sf_dir).documents.filter(F.col("doc_id") < 100)
    first, second = docs.filter(F.col("doc_id") < 50), docs.filter(F.col("doc_id") >= 50)
    ingest = _ingest_batch(spark, index_dir, out_dir, "runD")
    ingest(first, 0)
    log = _index_log(index_dir)
    committed = log.applied_batches()
    orphan = log.write_segment(second.select(
        F.md5("text").alias("content_hash"), "doc_id", F.lit("crashed").alias("epoch")
    ))
    stage_crashed_commit(log, orphan, [*committed, "crashed"])
    assert log.applied_batches() == committed
    assert read_dedup_index(spark, index_dir).filter("epoch = 'crashed'").count() == 0

    ingest(second, 1)  # the re-driven batch
    n_distinct = docs.select(F.md5("text")).distinct().count()
    assert spark.read.parquet(out_dir).count() == n_distinct
    idx = read_dedup_index(spark, index_dir)
    assert idx.count() == idx.select("content_hash").distinct().count() == n_distinct
    assert log.current_version() == 2 and orphan not in log.segments()

    compact_dedup_index(spark, index_dir)
    assert not _os.path.exists(_os.path.join(index_dir, orphan["dir"]))

    # compaction on an empty path is a no-op
    stats = compact_dedup_index(spark, str(tmp_path / "nothing"))
    assert stats == {
        "rows_before": 0, "rows_after": 0, "files_before": 0, "files_after": 0
    }


def test_compact_dedup_index_cleans_crash_debris(spark, sf_dir, tmp_path):
    """A compaction that crashed before its pointer flip leaves a
    full-size orphan segment and an unflipped manifest. Ingest ignores
    them and commits past them, and the next compaction's vacuum removes
    them with the superseded segments: on disk only the live segment and
    the newest manifest are left, and nothing beside the index directory."""
    import os as _os

    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        _index_log,
        _ingest_batch,
        compact_dedup_index,
        read_dedup_index,
    )
    from tests.conftest import stage_crashed_commit

    index_dir = str(tmp_path / "idx3")
    out_dir = str(tmp_path / "out3")
    docs = load_tables(spark, sf_dir).documents.filter(F.col("doc_id") < 80)
    ingest = _ingest_batch(spark, index_dir, out_dir, "runE")
    ingest(docs.filter(F.col("doc_id") < 40), 0)
    log = _index_log(index_dir)
    # the crashed compaction's copy of the index
    orphan = log.write_segment(read_dedup_index(spark, index_dir))
    stage_crashed_commit(log, orphan, log.applied_batches())
    ingest(docs, 1)
    assert log.current_version() == 2 and orphan not in log.segments()

    stats = compact_dedup_index(spark, index_dir)
    assert stats["rows_after"] == docs.select(F.md5("text")).distinct().count()
    names = sorted(_os.listdir(index_dir))
    (live,) = log.segments()
    assert [n for n in names if n.startswith("seg-")] == [live["dir"]]
    assert [n for n in names if n.startswith("m")] == [
        _os.path.basename(log.manifest_path(log.current_version()))
    ]
    assert sorted(n for n in _os.listdir(str(tmp_path)) if n.startswith("idx3")) == ["idx3"]


def test_compact_dedup_index_keeps_numerically_earliest_epoch(spark, tmp_path):
    """Epoch stamps carry a zero-padded batch id, so one run's stamps sort
    in batch order; a document re-sent in a later batch adds no index row,
    so the earliest batch's stamp is the one compaction keeps."""
    from machinelearningalgomapreduce_spark.streaming.sinks import (
        _ingest_batch,
        compact_dedup_index,
        read_dedup_index,
    )

    index_dir = str(tmp_path / "idx")
    # Stamp epochs through the real ingest path so the test pins the actual
    # format — one doc at batch 2, a different doc at batch 10.
    ingest = _ingest_batch(spark, index_dir, str(tmp_path / "outp"), run_key="k")
    d1 = spark.createDataFrame([("a", "same text")], ["doc_id", "text"])
    d2 = spark.createDataFrame([("b", "other text")], ["doc_id", "text"])
    ingest(d1, 2)
    ingest(d2, 10)
    epochs = sorted(
        r.epoch for r in read_dedup_index(spark, index_dir).select("epoch").collect()
    )
    assert all(e.split("/")[1].isdigit() and len(e.split("/")[1]) == 10 for e in epochs)
    assert [e.split("/")[1] for e in epochs] == ["0000000002", "0000000010"]

    ingest(d1, 11)  # doc 'a' re-sent later: already seen
    compact_dedup_index(spark, index_dir)
    kept = read_dedup_index(spark, index_dir).filter("doc_id = 'a'").collect()
    assert len(kept) == 1
    assert kept[0].epoch.endswith("/0000000002"), kept


def test_sinks_refuse_a_plain_parquet_directory(spark, sf_dir, tmp_path):
    """An index or dimension directory written as plain parquet (the
    layout before the sinks committed through a segment log) is refused
    with a ValueError before anything is written — never opened as an
    empty log that would re-admit every document or restart the
    dimension."""
    import os as _os

    import pytest as _pytest

    from machinelearningalgomapreduce_spark.streaming.sinks import (
        compact_dedup_index,
        dedup_ingest_stream,
        scd2_ingest_stream,
    )

    def listing(d):
        return sorted(
            (_os.path.relpath(_os.path.join(r, n), d), _os.path.getmtime(_os.path.join(r, n)))
            for r, dirs, files in _os.walk(d) for n in (*dirs, *files)
        )

    index_dir = str(tmp_path / "old_idx")
    spark.createDataFrame(
        [("h1", 1, "abcd1234/0000000000")], "content_hash string, doc_id long, epoch string"
    ).write.parquet(index_dir)
    dim_dir = str(tmp_path / "old_dim")
    spark.createDataFrame(
        [("k1", "AMS", "2022-01-01", None)],
        "key string, city string, valid_from string, valid_to string",
    ).write.parquet(dim_dir)
    before = {d: listing(d) for d in (index_dir, dim_dir)}

    with _pytest.raises(ValueError, match="not a segment log"):
        dedup_ingest_stream(
            spark, sf_dir, index_dir, str(tmp_path / "out"), str(tmp_path / "ck")
        )
    with _pytest.raises(ValueError, match="not a segment log"):
        compact_dedup_index(spark, index_dir)
    src = tmp_path / "upd"
    src.mkdir()
    stream = spark.readStream.schema("key string, city string, ts string").parquet(str(src))
    with _pytest.raises(ValueError, match="not a segment log"):
        scd2_ingest_stream(spark, stream, dim_dir, str(tmp_path / "ck2"), "key", ["city"])

    assert {d: listing(d) for d in (index_dir, dim_dir)} == before
    for name in ("out", "ck", "ck2"):
        assert not _os.path.exists(str(tmp_path / name))


def test_scd2_bootstrap_keeps_typed_schema_and_validates_tracked(spark, tmp_path):
    """r10 review: the empty-dimension bootstrap must carry the UPDATE
    batch's types — an all-string bootstrap union-widened every column to
    string permanently (and epoch-nanos longs then compared through lossy
    double casts). tracked=[] fails loudly."""
    import shutil as _sh

    import pytest as _pytest

    from machinelearningalgomapreduce_spark.streaming.sinks import (
        read_scd2_dimension,
        scd2_ingest_stream,
    )

    dim_dir = str(tmp_path / "dim_t")
    src = tmp_path / "upd_t"
    src.mkdir()
    u1 = spark.createDataFrame(
        [(1, 100, 1_700_000_000_000_000_000), (2, 200, 1_700_000_000_000_000_000)],
        "key long, price long, ts long",
    )
    u1.coalesce(1).write.parquet(str(tmp_path / "s1"))
    part = next(p for p in (tmp_path / "s1").iterdir() if p.name.endswith(".parquet"))
    _sh.copy(part, src / "b1.parquet")
    stream = spark.readStream.schema("key long, price long, ts long").parquet(str(src))
    with _pytest.raises(ValueError, match="tracked"):
        scd2_ingest_stream(spark, stream, dim_dir, str(tmp_path / "ckx"), "key", [])
    q = scd2_ingest_stream(spark, stream, dim_dir, str(tmp_path / "ck_t"), "key", ["price"])
    drain(q, 420)
    dim = read_scd2_dimension(spark, dim_dir)
    types = {f.name: f.dataType.simpleString() for f in dim.schema.fields}
    assert types == {
        "key": "bigint", "price": "bigint",
        "valid_from": "bigint", "valid_to": "bigint",
    }, types
    # a nanos-later update (within double-collapse range of the first)
    # must still be recognized as fresh under the typed comparison
    u2 = spark.createDataFrame(
        [(1, 150, 1_700_000_000_000_000_100)], "key long, price long, ts long"
    )
    u2.coalesce(1).write.parquet(str(tmp_path / "s2"))
    part2 = next(p for p in (tmp_path / "s2").iterdir() if p.name.endswith(".parquet"))
    _sh.copy(part2, src / "b2.parquet")
    stream2 = spark.readStream.schema("key long, price long, ts long").parquet(str(src))
    q2 = scd2_ingest_stream(spark, stream2, dim_dir, str(tmp_path / "ck_t2"), "key", ["price"])
    drain(q2, 420)
    open_row = read_scd2_dimension(spark, dim_dir).filter(
        "key = 1 and valid_to is null").collect()
    assert len(open_row) == 1 and open_row[0].price == 150


def test_dedup_ingest_null_text_is_one_content_class(spark, tmp_path):
    """r10 review: NULL-text docs form ONE deterministic content class —
    one survivor ever, independent of batching (a NULL hash would both
    collapse whole batches and leak one doc per batch)."""
    from machinelearningalgomapreduce_spark.streaming.sinks import _ingest_batch

    ingest = _ingest_batch(spark, str(tmp_path / "idx"), str(tmp_path / "out"), "nt")
    b1 = spark.createDataFrame(
        [("a", None), ("b", None), ("c", "real text")],
        "doc_id string, text string",
    )
    b2 = spark.createDataFrame([("d", None)], "doc_id string, text string")
    ingest(b1, 0)
    ingest(b2, 1)
    out = spark.read.parquet(str(tmp_path / "out") + "/epoch=*")
    rows = {r.doc_id for r in out.collect()}
    assert rows == {"a", "c"}  # min-id null survivor once; d excluded
