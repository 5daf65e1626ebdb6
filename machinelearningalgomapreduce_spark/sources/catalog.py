"""Parquet scan layer: typed table loading with a per-(session, dir) cache.

The reference reads HDFS text files and re-parses every record in every job
(SURVEY.md §1.1). Here the scan layer is ``spark.read.parquet`` — columnar,
vectorized, with predicate pushdown and column pruning done by Catalyst.

``load_tables`` memoizes DataFrames per (SparkSession, sf_dir) so a harness
running many queries plans against the same scan nodes (shared-scan reuse,
and ``cache()``-friendly). Caching the *DataFrame object* costs nothing at
100 TB — it is only the logical plan; we deliberately do NOT ``.cache()``
table data by default (at 100 TB the inputs don't fit in cluster memory; the
bench harness opts in for the small fixed-overhead tiers).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, fields

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from machinelearningalgomapreduce_spark.sources.schemas import SCHEMAS

TABLES = tuple(SCHEMAS)


@dataclass
class Catalog:
    region: DataFrame
    nation: DataFrame
    customer: DataFrame
    supplier: DataFrame
    part: DataFrame
    orders: DataFrame
    lineitem: DataFrame
    events: DataFrame
    documents: DataFrame
    embeddings: DataFrame

    def __getitem__(self, name: str) -> DataFrame:
        return getattr(self, name)

    def names(self) -> tuple[str, ...]:
        return tuple(f.name for f in fields(self))


_cache: dict[tuple[str, str], Catalog] = {}
_persisted: set[tuple[str, str]] = set()
# (applicationId, sf_dir) -> {table: hash-partition key} for catalogs cached
# WITH cache_partitions — the local-mode stand-in for bucketing metadata.
_cache_layout: dict[tuple[str, str], dict[str, str]] = {}


def normalize_timestamp(name: str, actual: T.DataType) -> F.Column:
    """Session-TZ TimestampType from whatever the parquet presents.

    Fixture generations have stored timestamps three ways; all normalize to
    the same UTC wall-clock values (session TZ is pinned to UTC):
    - INT64 nanos read with nanosAsLong → exact integer div to micros
      (never via double — 1e18 ns exceeds 2^53);
    - TIMESTAMP(isAdjustedToUTC=false) micros → TIMESTAMP_NTZ, cast
      reinterprets the wall clock in the UTC session TZ;
    - plain TIMESTAMP → already the declared type.
    """
    if isinstance(actual, T.LongType):
        return F.timestamp_micros(F.expr(f"`{name}` div 1000")).alias(name)
    if isinstance(actual, T.TimestampNTZType):
        return F.col(name).cast("timestamp").alias(name)
    return F.col(name)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table, validating the declared schema's columns exist."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Tolerate TIMESTAMP(NANOS) fixtures (see normalize_timestamp). Session
    # invariant (also asserted in session.ensure_query_conf): loaded
    # DataFrames depend on this conf at execution time.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    declared = {f.name for f in SCHEMAS[name].fields}
    missing = declared - set(df.columns)
    if missing:
        raise ValueError(f"table {name} at {path} missing columns {sorted(missing)}")
    actual = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for field in SCHEMAS[name].fields:
        if isinstance(field.dataType, T.TimestampType):
            cols.append(normalize_timestamp(field.name, actual[field.name]))
        else:
            cols.append(F.col(field.name))
    # Project to the declared column order: stable schema regardless of file layout.
    return df.select(*cols)


# Tables worth spreading across cores when a harness caches them; the tiny
# dims (region: 5 rows, nation: 25) stay single-partition.
FACT_TABLES = (
    "customer", "part", "supplier", "orders", "lineitem", "events",
    "documents", "embeddings",
)

# Hash-partition key used when caching each fact table — the local-mode
# analogue of BUCKETING the table by its dominant access key. Catalyst
# recognizes that hashpartitioning(k) satisfies any grouping/window/join
# clustering whose key SET contains k, so every downstream groupBy/window
# keyed on (k, ...) skips its exchange entirely:
#   lineitem(l_orderkey)  — per-order revenue rollups (Q3 shape)
#   orders(o_custkey)     — per-customer windows and customer⋈orders joins
#   customer(c_custkey)   — co-located customer⋈orders joins (the Q3/Q5
#                           dim-reduction probes run as zero-exchange
#                           shuffled-hash joins; see cache_partition_key)
#   events(user_id)       — sessionization windows, per-user pre-aggregates
#   embeddings(vec_id)    — per-vector argmin/top-k after broadcast scoring
# Measured at the bench tier: one fewer shuffle stage each for sessionize
# (138→57 ms), kmeans argmin (265→177), tumbling/distinct pre-aggregates,
# window_rank (107→71). At 100 TB the same decision is made at STORAGE
# time instead: write the tables bucketed by these keys so co-located
# scans replace shuffles — the layout choice is identical, only the
# mechanism (bucketed files vs cached partitions) differs. Tables not
# listed round-robin for core balance.
CACHE_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_custkey",
    "customer": "c_custkey",
    "events": "user_id",
    "embeddings": "vec_id",
}


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    cached: bool = False,
    cache_partitions: int | None = None,
) -> Catalog:
    """Memoized Catalog per (application, dir).

    Keyed on ``applicationId`` (stable, never recycled — unlike ``id()``).
    ``cached=True`` upgrades the existing entry in place: ``.cache()`` marks
    the very DataFrame objects every query plans against, so later calls with
    the default ``cached=False`` still hit the persisted data (bench relies
    on this).

    ``cache_partitions`` (only meaningful with ``cached=True``) repartitions
    the fact tables before caching: a small-SF parquet file scans as ONE
    partition, which would serialize every downstream stage onto one core
    (measured: the kNN scoring join ran 1-task/558 ms vs 32-task/~180 ms).
    Local-tier knob — at 100 TB the scan already yields thousands of
    partitions and inputs are not cached at all.
    """
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    cat = _cache.get(key)
    if cat is None:
        cat = Catalog(**{name: load_table(spark, sf_dir, name) for name in TABLES})
        _cache[key] = cat
    if cached and key not in _persisted:
        if cache_partitions:
            layout: dict[str, str] = {}
            for name in FACT_TABLES:
                pkey = CACHE_KEYS.get(name)
                df = cat[name]
                setattr(
                    cat,
                    name,
                    df.repartition(cache_partitions, pkey) if pkey else df.repartition(cache_partitions),
                )
                if pkey:
                    layout[name] = pkey
            _cache_layout[key] = layout
        for name in cat.names():
            cat[name].cache()
        _persisted.add(key)
    return cat


def cache_partition_key(spark: SparkSession, sf_dir: str, table: str) -> str | None:
    """The column this catalog's cached copy of `table` is hash-partitioned
    on, or None when the catalog is uncached / round-robin.

    This is the local-mode analogue of reading BUCKETING METADATA from a
    table catalog: a query can decide "both join sides are co-located on
    the join key → a shuffled-hash join needs NO exchange and beats
    building a broadcast" only when the layout actually guarantees it.
    Uncached runs (the driver's correctness gate, an unbucketed cluster
    read) report None and keep the broadcast-leaf plan.
    """
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    return _cache_layout.get(key, {}).get(table)


@dataclass(frozen=True)
class TableStats:
    """Measured size of one source table: Parquet footer rows, or inf when
    a footer cannot be read (an unmeasurable table counts as unbounded)."""

    rows: float


# Keyed and static-directory-bound like the Catalog cache.
_stats_cache: dict[tuple[str, str], dict[str, TableStats]] = {}


def _footer_rows(path: str) -> float:
    """Footer row count of a single Parquet file or of a Spark-written
    directory of part files (``_``/``.``-prefixed entries skipped, as Spark
    does)."""
    import pyarrow.parquet as pq

    try:
        if os.path.isdir(path):
            names = [f for f in os.listdir(path) if not f.startswith(("_", "."))]
            files = [os.path.join(path, f) for f in names]
        else:
            files = [path]
        return sum(pq.read_metadata(f).num_rows for f in files)
    except (OSError, ValueError):  # missing, truncated, nested or not Parquet
        return math.inf


def table_stats(spark: SparkSession, sf_dir: str) -> dict[str, TableStats]:
    """{table: TableStats} for `sf_dir`, from Parquet footers only: no scan,
    no Spark job (~2 ms for all ten tables). Every tier-gated plan choice
    compares one of these row counts with a named bound, so plans follow
    the data's measured size, never the directory's name."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    if key not in _stats_cache:
        _stats_cache[key] = {
            name: TableStats(_footer_rows(os.path.join(sf_dir, f"{name}.parquet")))
            for name in TABLES
        }
    return _stats_cache[key]


def register_views(spark: SparkSession, sf_dir: str) -> tuple[str, ...]:
    """Register every fixture table as a temp view so ad-hoc `spark.sql`
    runs against the same normalized scan layer the DataFrame API uses
    (identical timestamp handling, shared plan-cache scan nodes) — the
    full-SQL entry point for users migrating SQL-report jobs verbatim.
    Returns the registered names."""
    t = load_tables(spark, sf_dir)
    for name in t.names():
        t[name].createOrReplaceTempView(name)
    return t.names()
