"""SparkSession factory with the engine's default tuning.

Defaults are chosen for correctness-vs-DuckDB (UTC session timezone, ANSI on)
and for scale (AQE on, skew-join handling on). ``shuffle_partitions`` is a
local-mode knob only — on a real cluster AQE coalescing makes the initial
number mostly irrelevant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mlmr_spark_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """`extra_conf` lets a caller set CORE (SparkConf-time) settings that
    cannot be flipped at runtime — bench.py uses it for bench-tier-only
    knobs (shuffle/broadcast compression off at MB scale). Engine defaults
    stay scale-safe."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Pinned, not assumed (r16, ADVICE r15): money.py's narrowed BIGINT
        # accumulations (exact_avg sum, the wide hi/lo split-sum) rely on
        # ANSI making a 2^63 overflow LOUD, not silent. PySpark 4.x defaults
        # ANSI on, but a default is not a contract — pin it here and
        # re-assert in ensure_query_conf for driver-provided sessions.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # r15 note (negative result, kept for the record): the JVM flag
        # -XX:-DontCompileHugeMethods was measured a 6× win while the 64-dim
        # vector kernels were UNROLLED (one >8000-bytecode codegen consume()
        # the JIT refused, leaving the stage in the bytecode interpreter) —
        # and measured NOISE-TO-SLIGHTLY-NEGATIVE once the sequential folds
        # were restored as the large-dim form (vectors.py), which keeps every
        # generated method small. The flag was therefore REMOVED again; if a
        # future operator ships a provably-huge generated method, re-measure
        # before reaching for it.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_query_conf(spark: SparkSession) -> None:
    """Runtime-settable confs the oracle comparison depends on.

    Safe to call on a driver-provided session: only touches runtime SQL confs.
    UTC pins timestamp rendering so wall-clock values match DuckDB's naive
    timestamps (guide: 'Spark timestamps are session-TZ'). nanosAsLong is a
    session invariant the scan layer depends on (fixture parquet stores
    TIMESTAMP(NANOS)); re-asserted here so driver-side execution self-heals
    if anything flipped it between load and action.

    Contract on a shared session: the confs set here apply to the whole
    session and are NOT restored afterwards. In particular this sets
    ``spark.sql.ansi.enabled=true`` on the caller's session and leaves it
    on, so any other work the caller runs on that session after query
    construction also runs under ANSI (overflow and invalid casts raise
    instead of returning wrapped values or NULL).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # ANSI must hold on driver-provided sessions too (r16, ADVICE r15): the
    # fixed-point money sums are only overflow-SAFE because a 2^63 breach
    # aborts loudly; with ANSI off it would wrap silently into wrong money.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    # A driver-provided session at Spark's 200-partition default would run
    # every small-SF shuffle as 200 near-empty tasks; right-size it for
    # local fixtures. Only overrides the untouched default — a deliberate
    # caller choice (like bench's 4) is respected.
    try:
        if int(spark.conf.get("spark.sql.shuffle.partitions")) >= 200:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:  # noqa: BLE001 - conf introspection must never fail a query
        pass
