"""Skew-mitigation join helpers (SURVEY.md §4.2 '100 TB posture').

AQE's skew-join splitting handles most skew at runtime
(spark.sql.adaptive.skewJoin.enabled is on by default in session.py);
`salted_join` is the explicit fallback for pathological hot keys — e.g. a
null-heavy FK or a celebrity key — where you want the blow-up bounded and
deterministic regardless of runtime statistics.

Shape: the skewed (big) side gets a deterministic salt in [0, n); the
small side is exploded n× so every (key, salt) bucket can match. The hot
key's rows now spread over n reducers instead of one. Cost: small side
replicated n× — keep n modest and the small side genuinely small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.sources.catalog import table_stats

SALT_COL = "__salt"

# (applicationId, analyzed-plan semanticHash, scan conf, shuffle width,
# defaultParallelism) -> plan width, so fan_out's no-op decision is ~free
# on repeated builds (r16).
_FAN_OUT_WIDTH_CACHE: dict = {}


# Row bounds of the gated shapes below (catalog.table_stats footer rows):
# orders at sf1, the largest side the TPC-H tiers broadcast; events and
# documents at sf0.5.
BROADCAST_MAX_ROWS = 1_500_000
PRE_PARTITION_MAX_ROWS = {"events": 500_000, "documents": 25_000}


def broadcast_if_small(df: DataFrame, sf_dir: str, table: str) -> DataFrame:
    """Broadcast-hint `df` only while its key `table` provably fits.

    Static semi-reduction planning: a dimension chain pre-joined down to a
    compact (key → attrs) relation is worth broadcasting into the fact scan —
    it replaces one hash-table probe per joined dim with a single probe, and
    removes the fact-side shuffle entirely. But a *forced* hint is only
    honest where the side is bounded: it holds at most one row per key of
    `table`, so above BROADCAST_MAX_ROWS the hint is dropped and the join
    stays declarative, so Catalyst/AQE pick shuffle vs runtime-broadcast
    from actual stats (AQE is on in the engine defaults; at 100 TB it
    converts to broadcast exactly when the built side measures small). This
    mirrors what a cost-based planner does with a size bound, without ever
    hinting an unbounded side.
    """
    rows = table_stats(df.sparkSession, sf_dir)[table].rows
    return F.broadcast(df) if rows <= BROADCAST_MAX_ROWS else df


def fan_out(df: DataFrame, factor: int = 1) -> DataFrame:
    """Spread a compute-heavy NARROW stage across the session's cores (r15,
    guide §2.5 "input skew: one huge unsplittable file → repartition right
    after the read").

    A single-file parquet scan plans as ONE partition, so every per-row
    kernel above it (pairwise vector loops, per-row md5 sketch hashing,
    bootstrap replicate weights) runs SERIALLY until the first exchange —
    at fixture tiers that is the entire map stage (measured: the brute
    embedding-pair kernels ran 1-core, 50-80 s, while 31 cores idled).
    Round-robin repartition to defaultParallelism·factor, applied ONLY
    when the plan's current partitioning is narrower — at 100 TB the scan
    already carries ≥ cores partitions and this helper is a no-op, so the
    extra exchange is never paid where the data is genuinely wide.
    Row-identical: repartitioning feeds per-row maps / keyed aggregations
    whose results are partitioning-free (and Spark's sort-before-
    repartition keeps the assignment retry-deterministic).

    The target width is cores·factor CAPPED by the session's configured
    shuffle width: a tier that deliberately runs narrow (bench.py sets 4
    partitions at the 18 MB tier because task launch dominates there)
    keeps its sizing — fan_out only rescues stages that are narrower than
    what the session itself considers right.

    Width-check cost (r16, ADVICE r15): deciding the no-op used to force
    a full physical plan + RDD conversion per CALL (~50 ms on the bench
    host; the real action then re-plans). The check now (a) uses the
    internal ``toRdd`` (skips the Python-deserializer wrapping, ~35 ms)
    and (b) memoizes the width per (application, analyzed-plan
    semanticHash, scan conf, shuffle width, defaultParallelism) — ~1 ms on
    every repeated build of the same query shape (bench best-of-N,
    repeated invocations). Sound within an application: a scan's width is
    a function of the plan and the scan conf, and a plan with an exchange
    takes its width from ``spark.sql.shuffle.partitions`` (or from
    defaultParallelism for RDD-backed leaves), so a conf change inside one
    application misses the memo instead of reusing a stale width;
    materialize_once and cache create fresh leaf nodes (fresh hashes), and the
    fixture dirs are static (the same assumption load_tables' catalog
    cache already makes).
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    try:
        conf_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        conf_width = cores
    target = min(cores * factor, max(conf_width, 1))
    width = None
    try:
        try:
            scan_conf = spark.conf.get("spark.sql.files.maxPartitionBytes")
        except Exception:  # noqa: BLE001 — unset/typed-default lookups vary
            scan_conf = "default"
        key = (
            spark.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
            scan_conf,
            conf_width,
            cores,
        )
        width = _FAN_OUT_WIDTH_CACHE.get(key)
        if width is None:
            width = df._jdf.queryExecution().toRdd().getNumPartitions()
            if len(_FAN_OUT_WIDTH_CACHE) > 4096:  # unbounded-session guard
                _FAN_OUT_WIDTH_CACHE.clear()
            _FAN_OUT_WIDTH_CACHE[key] = width
    except Exception:  # noqa: BLE001 — private-API fallback must be total
        width = df.rdd.getNumPartitions()
    if width >= target:
        return df
    return df.repartition(target)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join `big ⋈ small on big[on] == small[on]` with the big side
    salted across `n_salts` buckets.

    The salt is a deterministic hash of the whole big-side row (xxhash64),
    so repeated runs partition identically. Result columns match a plain
    `big.join(small, on, how)`.

    Only 'inner' and 'left' are supported: with 'right'/'full', unmatched
    small-side rows exist once per salt replica and would surface as
    n_salts duplicate null-padded output rows.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: outer forms "
            "would emit one null-padded row per salt replica of unmatched "
            "small-side rows"
        )
    salted_big = big.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    )
    salted_small = small.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn(SALT_COL, F.col(SALT_COL).cast("bigint"))
    return salted_big.join(salted_small, [on, SALT_COL], how).drop(SALT_COL)


def pre_partition_small_tier(
    df: DataFrame, sf_dir: str, outer_keys: list[str], table: str
) -> DataFrame:
    """Pre-partition a two-level aggregation's input by its OUTER grouping
    keys — but only while its source `table` is small.

    A two-level exact-distinct aggregation (groupBy(outer..., member) →
    groupBy(outer...)) plans two exchanges. Hash-partitioning the input on
    the outer keys first satisfies ClusteredDistribution for BOTH
    aggregations (the outer keys are a subset of the inner grouping keys),
    so Catalyst plans exactly ONE exchange — measured worth one ~30-60 ms
    stage floor per query on the bench tier, where the whole input is a few
    cached MB.

    This trades map-side combining away: the explicit repartition moves RAW
    rows, not pre-aggregated partials, and concentrates each outer key on
    one reducer. At 100 TB that is exactly wrong (hot outer keys, full-data
    shuffle), so above PRE_PARTITION_MAX_ROWS[table] the input is returned
    unchanged and the skew-safe two-level shape keeps its two
    combine-friendly exchanges — the same gating as broadcast_if_small.
    """
    if table_stats(df.sparkSession, sf_dir)[table].rows <= PRE_PARTITION_MAX_ROWS[table]:
        return df.repartition(*[F.col(k) for k in outer_keys])
    return df
