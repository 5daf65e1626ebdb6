"""Structured Streaming wrappers (SURVEY.md §2E stretch surface).

The oracle-checked batch operators in operators/events.py define the
semantics; these wrappers run the SAME aggregation expressions as a
Structured Streaming job (readStream → watermark → windowed agg), so a
deployment can move from backfill (batch) to live (stream) without
changing the query logic. Not oracle-checkable (the driver's DuckDB
harness is batch-only) — pytest drives them with trigger(availableNow)
into a memory sink and diffs against the batch results.

Scale notes: watermark + windowed aggregation is incremental state in the
state store, keyed by (window, event_type) / session key — state size is
bounded by open windows × key cardinality, not stream length. The
sessionization uses F.session_window (native gap-based session windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.functions import money

# Per-path inferred-schema cache (ADVICE r4): the eager batch read exists
# only to discover which timestamp ENCODING this fixture generation used;
# one driver-side footer read per sf_dir per process is enough.
_SCHEMA_CACHE: dict[str, "object"] = {}


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    filename: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over one fixture parquet table with the cached-schema
    discipline: FileStreamSource needs an explicit schema, taken from a
    one-file batch read (cached per path — ADVICE r4). Two layouts
    (r13): a real corpus table is a parquet DIRECTORY (Spark-written
    part files) and streams directly; the driver fixture is a single
    FILE, and since FileStreamSource requires a directory, its parent
    dir is streamed filtered to just that file — the old glob idiom,
    which silently matched NOTHING for the directory layout (the
    pathGlobFilter applies to leaf file names, and part-*.parquet never
    equals the table name). Shared by stream_events and
    sinks.stream_documents so the caching/layout idiom lives once.

    ``max_files_per_trigger`` bounds each micro-batch to N source files
    (r14: the live-trigger soak lane — a directory table plus
    maxFilesPerTrigger turns one drain into a sustained multi-batch
    ingest under trigger(processingTime); availableNow honors it too,
    splitting the drain into multiple batches)."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, filename)
    raw_schema = _SCHEMA_CACHE.get(path)
    if raw_schema is None:
        raw_schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[path] = raw_schema
    reader = spark.readStream.schema(raw_schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    if os.path.isdir(path):
        return reader.load(path)
    return reader.option("pathGlobFilter", filename).load(sf_dir)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the batch-identical
    timestamp normalization (sources/catalog.py::normalize_timestamp), so
    the stream tolerates every fixture timestamp encoding (INT64 nanos via
    nanosAsLong, TIMESTAMP_NTZ micros, plain TIMESTAMP) exactly as the
    batch scan layer does."""
    from machinelearningalgomapreduce_spark.sources.catalog import normalize_timestamp

    raw = stream_table(spark, sf_dir, "events.parquet")
    actual = {f.name: f.dataType for f in raw.schema.fields}
    return raw.withColumn("ts", normalize_timestamp("ts", actual["ts"]))


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators/events.py::q_events_tumbling."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact fixed-point cents, matching the batch twin (r15 —
            # functions/money.py); batch≡stream diffs stay bit-identical
            money.money_sum_2dp(money.units("value")).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native gap-based session windows (streaming analog of q_sessionize's
    session assignment; state = one open session per user)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), money.money_sum_2dp(money.units("value")).alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_late_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q_late_data: watermark + dropDuplicates on
    event_id (state bounded by the watermark horizon)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def filter_against_blocklist(
    events: DataFrame, blocked_users: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-static join: drop events from blocked users as they arrive —
    the streaming analog of a broadcast decontamination/blocklist pass
    (cf. operators/text.py::q_decontaminate's broadcast probe side).

    The static side is re-resolved per micro-batch and broadcast; no
    streaming state is needed for the join itself (left_anti against a
    static frame is stateless), so this scales with blocklist size only.
    """
    return events.withWatermark("ts", watermark).join(
        F.broadcast(blocked_users.select("user_id")), "user_id", "left_anti"
    )


def interval_join_stream(
    events: DataFrame, lookback: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join — the streaming twin of
    operators/relational.py::q_range_join's pair-generation stage: each
    'error' event matched with the same user's 'click' events in the
    preceding 10 minutes.

    Native Structured Streaming join: BOTH sides carry a watermark and the
    join condition bounds event-time distance, so Spark can expire click
    state once it falls behind `error watermark − lookback` — bounded
    state, the property that lets this run forever. (The batch form
    buckets to an equi-join for the same linearity; streaming gets it
    from the state-store range condition instead.)"""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", watermark)
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select("event_id", "user_id", F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", watermark)
    )
    return errors.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("c_ts") < F.col("e_ts")),
        "inner",
    ).select("event_id", "user_id", "e_ts", "c_ts")


def run_to_memory(stream_df: DataFrame, table_name: str, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming query to completion with trigger(availableNow)
    into a memory sink; returns the result as a batch DataFrame.
    Use output_mode='append' for non-aggregating streams (e.g. dedup)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(table_name)


def wilson_ctr_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of operators/evaluation.py::q_wilson_ctr: per-type
    success counts maintained as a streaming aggregate (complete mode),
    with the Wilson 95% bounds computed as a pure projection over the
    aggregate — the live conversion-rate monitor with honest small-n
    intervals. State is O(event types)."""
    from machinelearningalgomapreduce_spark.operators.evaluation import WILSON_Z

    per = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") >= 50.0).cast("bigint")).alias("x"),
    )
    n = F.col("n").cast("double")
    p = F.col("x").cast("double") / n
    z2 = WILSON_Z * WILSON_Z
    denom = 1.0 + z2 / n
    center = p + z2 / (2.0 * n)
    spread = WILSON_Z * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
    return per.select(
        "event_type",
        "n",
        "x",
        F.round(p, 6).alias("p_hat"),
        F.round((center - spread) / denom, 6).alias("wilson_lo"),
        F.round((center + spread) / denom, 6).alias("wilson_hi"),
    )


def cm_sketch_stream(events: DataFrame) -> DataFrame:
    """Streaming Count-Min build over the event user stream: the
    (row, col_idx, cnt) cell aggregate maintained incrementally in
    complete mode — sketches are THE streaming-friendly aggregate (state
    bounded by depth×width forever, mergeable across restarts/day
    boundaries). Buckets use the md5 scheme of
    operators/sketches.py::q_cm_cells (same seeds/width), so the live
    sketch merges cell-wise with any stored batch sketch built over the
    SAME key column (user_id here — q_cm_cells itself sketches part
    keys, a different domain; the batch-equivalence test builds the
    matching user-id sketch)."""
    from machinelearningalgomapreduce_spark.operators.sketches import (
        CMQ_DEPTH, CMQ_WIDTH, _md5_hex_int,
    )

    key = F.col("user_id")
    buckets = F.array(
        *[
            F.pmod(_md5_hex_int(key, f"cm{r}:", 3), F.lit(CMQ_WIDTH))
            for r in range(CMQ_DEPTH)
        ]
    )
    return (
        events.select(F.posexplode(buckets).alias("row", "col_idx"))
        .groupBy("row", "col_idx")
        .agg(F.count("*").alias("cnt"))
    )
