"""Mergeable frequency sketches (SURVEY.md §2C library tier).

Count-Min sketch as plain DataFrames — the canonical MapReduce-era
heavy-hitter machinery re-expressed Spark-first:

- the SKETCH IS A DATAFRAME of (row, col, count) cells, built by ONE
  aggregate over a depth-way explode (depth rows per input row, each a
  different seeded xxhash64 bucket);
- sketches are MERGEABLE by construction (cell-wise sum — pytest asserts
  build(A ∪ B) ≡ merge(build(A), build(B)) exactly), which is what makes
  the structure work at 100 TB: per-partition partial sketches combine
  map-side, and day-over-day sketches merge without touching raw data;
- point estimates join the probe items against their depth cells and take
  the min — the classic CM guarantee: estimate ≥ true count, and
  ≤ true + εN with probability 1−δ for width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉.

Everything is JVM-side (xxhash64 + pmod + one groupBy); the sketch is
O(depth × width) rows regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from machinelearningalgomapreduce_spark.sources.catalog import load_tables

CM_DEPTH = 4
CM_WIDTH = 256


def _bucket(col, row: int, width: int):
    """Row-seeded bucket: xxhash64 with a per-row salt prefix, non-negative
    mod width. Deterministic across partitions/engines/sessions."""
    return F.pmod(F.xxhash64(F.lit(f"cm{row}:"), col), F.lit(width))


def count_min_build(
    df: DataFrame, col: str, depth: int = CM_DEPTH, width: int = CM_WIDTH
) -> DataFrame:
    """Build the sketch: (row, col_idx, cnt) cells, one aggregate.

    The depth-way fan-out happens via posexplode of the per-row bucket
    array — depth small constant, so the pre-shuffle blow-up is bounded
    and map-side combine collapses it to ≤ depth×width rows per task."""
    buckets = F.array(*[_bucket(F.col(col), r, width) for r in range(depth)])
    return (
        df.select(F.posexplode(buckets).alias("row", "col_idx"))
        .groupBy("row", "col_idx")
        .agg(F.count("*").alias("cnt"))
    )


def count_min_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum — the mergeability that makes sketches shippable."""
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("row", "col_idx").agg(F.sum("cnt").alias("cnt"))


def count_min_estimate(
    sketch: DataFrame,
    items: DataFrame,
    col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Point estimates for the items: min over each item's depth cells.

    The sketch side is tiny (≤ depth×width rows) and broadcast; absent
    cells count 0 (coalesce) so never-seen items estimate correctly
    against sparse sketches."""
    probes = items.select(
        F.col(col).alias("item"),
        F.posexplode(
            F.array(*[_bucket(F.col(col), r, width) for r in range(depth)])
        ).alias("row", "col_idx"),
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "col_idx"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


def hll_daily_sketches(df: DataFrame, key_col: str, day_col) -> DataFrame:
    """Per-day HyperLogLog sketches of a key column (Datasketches HLL via
    the built-in ``hll_sketch_agg`` — JVM-side, mergeable binary state).

    This is the incremental-distinct pattern at 100 TB: each day's
    partition is sketched ONCE when it lands; any date-range distinct
    count afterwards is a union of the stored day sketches — the raw data
    is never rescanned, and the stored state is KB per day instead of the
    key set."""
    return df.groupBy(day_col.alias("day")).agg(
        F.hll_sketch_agg(key_col).alias("sketch"),
        F.count("*").alias("n_rows"),
    )


def hll_range_distinct(day_sketches: DataFrame) -> DataFrame:
    """Distinct-count estimate over a set of day sketches: ONE union-agg
    over KB-sized binaries (filter the frame to the date range first)."""
    return day_sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_distinct"),
        F.sum("n_rows").alias("n_rows"),
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    phi: float = 0.01,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """φ-heavy hitters via the sketch: estimate every DISTINCT value and
    keep those with est ≥ φ·N. CM overestimates only, so recall is 1 —
    every true heavy hitter survives; the width controls false positives.

    (At fixture scale the distinct-value probe is exact; at 100 TB the
    probe set is whatever candidate stream you track — the sketch itself
    never grows.)

    N comes from the sketch itself (every input row contributes exactly 1
    to each depth row, so Σcnt over row 0 = N) — no extra scan of the raw
    data, and the function works when only the sketch is at hand."""
    sketch = count_min_build(df, col, depth, width)
    total = sketch.filter(F.col("row") == 0).agg(F.sum("cnt").alias("n_total"))
    ests = count_min_estimate(sketch, df.select(col).distinct(), col, depth, width)
    return (
        ests.crossJoin(F.broadcast(total))
        .filter(F.col("est_count") >= phi * F.col("n_total"))
        .select(F.col("item").alias(col), "est_count")
    )


# ---------------------------------------------------------------------------
# Oracle-checked sketch queries (round-6 additions).
#
# The library tier above hashes with xxhash64 (fastest JVM-side option);
# the ORACLE-CHECKED queries below re-derive every bucket from md5, the
# one hash both engines implement bit-identically, so each sketch cell is
# an exact integer DuckDB reproduces. Determinism discipline: every output
# column is an integer, an exact power-of-two sum (order-free in IEEE), or
# a round-6 double of an identical scalar expression.

CMQ_DEPTH = 4
CMQ_WIDTH = 4096  # 3 md5 hex digits exactly
HEAVY_PHI_INV = 1334  # keep est·1334 ≥ N (integer-exact gate, ~top-1% at sf0.01)
KMV_K = 32
KMV_BITS = 52  # 13 md5 hex digits — (k−1)·2^52 stays far inside BIGINT
HLL_M = 32  # registers; md5 bits: 5 register + 47 rank domain
HLL_ALPHA_32 = 0.697


def _md5_hex_int(col: F.Column, prefix: str, ndigits: int) -> F.Column:
    """First `ndigits` md5 hex digits of (prefix ‖ col) as a BIGINT —
    the engine-portable uniform hash (kfold_assign discipline)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix), col.cast("string"))), 1, ndigits),
        16,
        10,
    ).cast("bigint")


def _sql_hex_int(expr: str, prefix: str, ndigits: int) -> str:
    """DuckDB twin of _md5_hex_int: instr-expansion of the hex digits
    (DuckDB has no conv(); the q_weighted_pick idiom, generated)."""
    terms = []
    for i in range(ndigits):
        p = 16 ** (ndigits - 1 - i)
        terms.append(
            f"(instr('0123456789abcdef', substr(md5('{prefix}' || {expr}), {i + 1}, 1)) - 1)"
            f" * CAST({p} AS BIGINT)"
        )
    return "(" + " + ".join(terms) + ")"


def q_cm_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch of part-key frequencies as its cell table:
    (row, col_idx, cnt) with md5-seeded buckets — the mergeable sketch
    state itself is the query result, so the driver's oracle checks the
    exact structure downstream estimates read.

    Scale shape: one aggregate over a depth-way posexplode; map-side
    combine collapses to ≤ depth×width rows per task regardless of input
    size — the sketch never grows with the data."""
    t = load_tables(spark, sf_dir)
    key = F.col("l_partkey")
    buckets = F.array(
        *[F.pmod(_md5_hex_int(key, f"cm{r}:", 3), F.lit(CMQ_WIDTH)) for r in range(CMQ_DEPTH)]
    )
    return (
        t.lineitem.select(F.posexplode(buckets).alias("row", "col_idx"))
        .groupBy("row", "col_idx")
        .agg(F.count("*").alias("cnt"))
    )


def q_cm_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ-heavy-hitter part keys via the md5 Count-Min sketch: estimate
    every distinct key (min over its depth cells) and keep those with
    est·{phi_inv} ≥ N — an integer-exact threshold, so the survivor set is
    bit-deterministic. CM only overestimates → recall 1 on true heavy
    hitters; width bounds the false-positive mass.

    Scale shape: sketch ≤ depth×width rows (broadcast); N comes from
    row 0 of the sketch itself. The fact table is scanned twice (sketch
    build + distinct probe set) — at 100 TB the probe set is whatever
    candidate stream you already track, so only the sketch build touches
    the raw data.
    """
    t = load_tables(spark, sf_dir)
    sketch = q_cm_cells(spark, sf_dir)
    total = sketch.filter(F.col("row") == 0).agg(F.sum("cnt").alias("n_total"))
    key = F.col("l_partkey")
    probes = t.lineitem.select("l_partkey").distinct().select(
        "l_partkey",
        F.posexplode(
            F.array(
                *[
                    F.pmod(_md5_hex_int(key, f"cm{r}:", 3), F.lit(CMQ_WIDTH))
                    for r in range(CMQ_DEPTH)
                ]
            )
        ).alias("row", "col_idx"),
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "col_idx"], "left")
        .groupBy("l_partkey")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("est_count") * HEAVY_PHI_INV >= F.col("n_total"))
        .select("l_partkey", "est_count")
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch over event users: keep the
    k smallest 52-bit md5 values of the key; estimate = (k−1)·2^52 DIV
    h_(k) — pure integer arithmetic, so the estimate is exact given the
    hash set. The true distinct count rides along as the audit column.

    Scale shape: per-partition top-k (TakeOrdered on the hash) — the
    sketch state is k scalars; merging partitions keeps the k smallest,
    the classic mergeable-KMV property. The estimate itself is O(1)."""
    t = load_tables(spark, sf_dir)
    hashes = t.events.select(
        _md5_hex_int(F.col("user_id"), "kmv:", 13).alias("h")
    ).distinct()
    kth = (
        hashes.orderBy("h")
        .limit(KMV_K)
        .agg(F.max("h").alias("kth_hash"), F.count("*").alias("k"))
    )
    truth = t.events.agg(F.countDistinct("user_id").alias("true_distinct"))
    # Sketch not full (k < K): every hash was kept, the count is exact —
    # the standard KMV small-range branch.
    est = F.when(
        F.col("k") < KMV_K, F.col("k")
    ).otherwise(F.expr(f"CAST({(KMV_K - 1) * 2**KMV_BITS} AS BIGINT) DIV kth_hash"))
    return kth.crossJoin(F.broadcast(truth)).select(
        "k", "kth_hash", est.alias("est_distinct"), "true_distinct"
    )


def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit HyperLogLog register table over event users: 52 md5 bits
    split into 5 register-index bits and 47 rank-domain bits; each
    register keeps max(ρ(w)) with ρ = index of the lowest set bit + 1
    (computed exactly: log2 of the isolated low bit — a power of two, so
    the log is exact in IEEE). This is the engine-portable twin of the
    Datasketches-backed hll_daily_sketches above, emitted as plain rows
    so the oracle can rebuild it.

    Scale shape: one aggregate to ≤ m rows; registers merge by max —
    the mergeability that lets 100 TB of days combine without rescans."""
    t = load_tables(spark, sf_dir)
    h = _md5_hex_int(F.col("user_id"), "hll:", 13)
    keys = t.events.select(h.alias("h")).distinct()
    return keys.select(
        F.pmod(F.col("h"), F.lit(HLL_M)).alias("reg"),
        F.expr(f"h DIV {HLL_M}").alias("w"),
    ).select(
        "reg",
        F.when(F.col("w") == 0, F.lit(KMV_BITS - 5 + 1))
        .otherwise(F.log2(F.col("w").bitwiseAND(-F.col("w"))).cast("int") + 1)
        .alias("rho"),
    ).groupBy("reg").agg(
        F.max("rho").alias("max_rank"), F.count("*").alias("n_keys")
    )


def q_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality estimate from the md5 register table: raw estimate
    α·m²/Z with Z = Σ 2^(−M_j) (absent registers contribute 2⁰ = 1), with
    the standard linear-counting correction below 2.5·m when empty
    registers exist. Z is a sum of exact powers of two — order-free in
    IEEE — so the estimate is bit-deterministic; the final value rounds
    to 6. True distinct rides along as the audit column.

    Scale shape: O(m) arithmetic over the register table; the raw data
    is touched once by the register build."""
    regs = q_hll_registers(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    truth = t.events.agg(F.countDistinct("user_id").alias("true_distinct"))
    agg = regs.agg(
        F.count("*").alias("n_obs"),
        F.sum(F.expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), max_rank) AS DOUBLE)")).alias("z_obs"),
    )
    n_zero = F.lit(HLL_M) - F.col("n_obs")
    z = F.col("z_obs") + n_zero.cast("double")
    raw = F.lit(HLL_ALPHA_32 * HLL_M * HLL_M) / z
    corrected = F.when(
        (raw <= 2.5 * HLL_M) & (n_zero > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / n_zero.cast("double")),
    ).otherwise(raw)
    return agg.crossJoin(F.broadcast(truth)).select(
        F.lit(HLL_M).alias("m"),
        n_zero.cast("bigint").alias("n_zero"),
        F.round(raw, 6).alias("est_raw"),
        F.round(corrected, 6).alias("est_distinct"),
        "true_distinct",
    )


def hll_register_rows(
    df: DataFrame, value_col: str, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Per-group explicit HLL register rows for any value column: the
    q_hll_registers md5 split (5 register bits / 47 rank-domain bits)
    generalized to an arbitrary grouping — one (group, reg, max_rank) row
    per non-empty register, ≤ HLL_M rows per group.

    This is the library form a mergeable distinct-count STATE is built
    from: register rows combine by plain ``max`` per (group, reg), so
    they slot directly into any groupBy-max merge (matview.py's
    DistinctCountView stores exactly these rows). Duplicated input values
    hash to the same (reg, rho) and are absorbed by the max — no distinct
    pre-pass is needed for correctness (q_hll_registers keeps one as a
    work-saving optimization on its single-shot path)."""
    h = _md5_hex_int(F.col(value_col), "hll:", 13)
    return (
        # NULLs don't count as a distinct value (countDistinct semantics);
        # unfiltered they'd emit a NULL-register row that inflates n_obs.
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, h.alias("h"))
        .select(
            *group_cols,
            F.pmod(F.col("h"), F.lit(HLL_M)).alias("reg"),
            F.expr(f"h DIV {HLL_M}").alias("w"),
        )
        .select(
            *group_cols,
            "reg",
            F.when(F.col("w") == 0, F.lit(KMV_BITS - 5 + 1))
            .otherwise(F.log2(F.col("w").bitwiseAND(-F.col("w"))).cast("int") + 1)
            .alias("rho"),
        )
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("max_rank"))
    )


def hll_estimate_by(regs: DataFrame, group_cols: tuple[str, ...]) -> DataFrame:
    """Grouped HLL cardinality estimate from register rows (the
    q_hll_estimate math per group): raw α·m²/Z with absent registers
    contributing 2⁰, linear-counting correction below 2.5·m. Z sums exact
    powers of two — order-free in IEEE — so the estimate is deterministic
    under any merge history of the registers. O(m) rows per group in,
    one row per group out."""
    agg = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(
            F.expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), max_rank) AS DOUBLE)")
        ).alias("z_obs"),
    )
    n_zero = F.lit(HLL_M) - F.col("n_obs")
    z = F.col("z_obs") + n_zero.cast("double")
    raw = F.lit(HLL_ALPHA_32 * HLL_M * HLL_M) / z
    corrected = F.when(
        (raw <= 2.5 * HLL_M) & (n_zero > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / n_zero.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        n_zero.cast("bigint").alias("n_zero"),
        F.round(corrected, 6).alias("est_distinct"),
    )


def _cm_bucket_sql(r: int) -> str:
    return f"({_sql_hex_int('CAST(l_partkey AS VARCHAR)', f'cm{r}:', 3)} % {CMQ_WIDTH})"


_CM_CELLS_SQL = f"""
    WITH probes AS (
        {" UNION ALL ".join(f"SELECT {r} AS row, {_cm_bucket_sql(r)} AS col_idx FROM lineitem" for r in range(CMQ_DEPTH))}
    )
    SELECT row, col_idx, count(*) AS cnt FROM probes GROUP BY row, col_idx
"""

_CM_HEAVY_SQL = f"""
    WITH sketch AS (
        SELECT row, col_idx, count(*) AS cnt FROM (
            {" UNION ALL ".join(f"SELECT {r} AS row, {_cm_bucket_sql(r)} AS col_idx FROM lineitem" for r in range(CMQ_DEPTH))}
        ) GROUP BY row, col_idx
    ),
    total AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM sketch WHERE row = 0),
    probes AS (
        {" UNION ALL ".join(f"SELECT l_partkey, {r} AS row, {_cm_bucket_sql(r)} AS col_idx FROM (SELECT DISTINCT l_partkey FROM lineitem)" for r in range(CMQ_DEPTH))}
    ),
    ests AS (
        SELECT p.l_partkey, min(coalesce(s.cnt, 0)) AS est_count
        FROM probes p LEFT JOIN sketch s ON p.row = s.row AND p.col_idx = s.col_idx
        GROUP BY p.l_partkey
    )
    SELECT l_partkey, CAST(est_count AS BIGINT) AS est_count
    FROM ests, total WHERE est_count * {HEAVY_PHI_INV} >= n_total
"""

_KMV_SQL = f"""
    WITH hashes AS (
        SELECT DISTINCT {_sql_hex_int("CAST(user_id AS VARCHAR)", "kmv:", 13)} AS h
        FROM events
    ),
    kth AS (
        SELECT max(h) AS kth_hash, CAST(count(*) AS BIGINT) AS k
        FROM (SELECT h FROM hashes ORDER BY h LIMIT {KMV_K})
    )
    SELECT k, kth_hash,
           CASE WHEN k < {KMV_K} THEN k
                ELSE CAST({(KMV_K - 1) * 2**KMV_BITS} AS BIGINT) // kth_hash
           END AS est_distinct,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS true_distinct
    FROM kth
"""

_HLL_REG_CTES = f"""
    keys AS (
        SELECT DISTINCT {_sql_hex_int("CAST(user_id AS VARCHAR)", "hll:", 13)} AS h
        FROM events
    ),
    split AS (
        SELECT h % {HLL_M} AS reg, h // {HLL_M} AS w FROM keys
    ),
    ranked AS (
        SELECT reg,
               CASE WHEN w = 0 THEN {KMV_BITS - 5 + 1}
                    ELSE CAST(log2(w & -w) AS INTEGER) + 1 END AS rho
        FROM split
    ),
    regs AS (
        SELECT reg, max(rho) AS max_rank, CAST(count(*) AS BIGINT) AS n_keys
        FROM ranked GROUP BY reg
    )"""

_HLL_REG_SQL = f"""
    WITH {_HLL_REG_CTES}
    SELECT CAST(reg AS BIGINT) AS reg, CAST(max_rank AS INTEGER) AS max_rank, n_keys
    FROM regs
"""

_HLL_EST_SQL = f"""
    WITH {_HLL_REG_CTES},
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_obs,
               sum(1.0 / CAST(CAST(1 AS BIGINT) << max_rank AS DOUBLE)) AS z_obs
        FROM regs
    )
    SELECT CAST({HLL_M} AS INTEGER) AS m,
           CAST({HLL_M} - n_obs AS BIGINT) AS n_zero,
           round({HLL_ALPHA_32 * HLL_M * HLL_M} / (z_obs + CAST({HLL_M} - n_obs AS DOUBLE)), 6) AS est_raw,
           round(CASE WHEN {HLL_ALPHA_32 * HLL_M * HLL_M} / (z_obs + CAST({HLL_M} - n_obs AS DOUBLE)) <= {2.5 * HLL_M}
                       AND {HLL_M} - n_obs > 0
                      THEN {float(HLL_M)} * ln({float(HLL_M)} / CAST({HLL_M} - n_obs AS DOUBLE))
                      ELSE {HLL_ALPHA_32 * HLL_M * HLL_M} / (z_obs + CAST({HLL_M} - n_obs AS DOUBLE)) END, 6)
               AS est_distinct,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS true_distinct
    FROM agg
"""

QUERIES = {
    "q_cm_cells": q_cm_cells,
    "q_cm_heavy": q_cm_heavy,
    "q_kmv_distinct": q_kmv_distinct,
    "q_hll_registers": q_hll_registers,
    "q_hll_estimate": q_hll_estimate,
}

ORACLES = {
    "q_cm_cells": _CM_CELLS_SQL,
    "q_cm_heavy": _CM_HEAVY_SQL,
    "q_kmv_distinct": _KMV_SQL,
    "q_hll_registers": _HLL_REG_SQL,
    "q_hll_estimate": _HLL_EST_SQL,
}


BLOOM_M = 16384  # bits (4 md5 hex digits mod m)
BLOOM_K = 3
BLOOM_SHIFT = 1_000_003  # absent-probe offset (prime, far above key ranges)


def _bloom_bit(col: F.Column, r: int) -> F.Column:
    return F.pmod(_md5_hex_int(col, f"bf{r}:", 4), F.lit(BLOOM_M))


def q_bloom_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter over the distinct part keys as its set-bit table:
    k=3 md5-seeded positions per key, distinct bits out — the filter
    state itself, so the oracle checks exactly what membership probes
    read. Bloom bit tables OR together (mergeable) and never yield
    false negatives.

    Scale shape: one distinct + a k-way explode collapsing to ≤ m rows —
    the filter is O(m) regardless of input size."""
    t = load_tables(spark, sf_dir)
    keys = t.lineitem.select("l_partkey").distinct()
    bits = keys.select(
        F.explode(
            F.array(*[_bloom_bit(F.col("l_partkey"), r) for r in range(BLOOM_K)])
        ).alias("bit_idx")
    )
    return bits.distinct()


def q_bloom_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership audit over a deterministic probe range
    (1..4000): a probe is 'present' iff all k bits are set; compare
    against exact membership to measure the false-positive rate (false
    negatives must be structurally zero). Every column is an exact
    integer except the single fpr ratio.

    The probe set derives from the key domain itself — every real key
    plus every key shifted by a large prime (absent unless the shifted
    value collides with a real key, which the exact-membership join
    accounts for) — so roughly half the probes are absent at EVERY
    scale; a fixed literal range went all-present at sf0.1 and zeroed
    the FPR denominator.

    Scale shape: the bit table (≤ m rows) broadcasts; probes fan out
    k rows each then collapse with one aggregate."""
    t = load_tables(spark, sf_dir)
    keys = t.lineitem.select(F.col("l_partkey").alias("probe")).distinct()
    # ONE distinct-keys relation feeds the bit table, the probe set, and
    # the exact-membership truth — no redundant fact-table scans.
    bits = keys.select(
        F.explode(
            F.array(*[_bloom_bit(F.col("probe"), r) for r in range(BLOOM_K)])
        ).alias("bit_idx")
    ).distinct()
    probes = keys.unionByName(
        keys.select((F.col("probe") + BLOOM_SHIFT).alias("probe"))
    ).distinct()
    probe_bits = probes.select(
        "probe",
        F.explode(
            F.array(*[_bloom_bit(F.col("probe"), r) for r in range(BLOOM_K)])
        ).alias("bit_idx"),
    )
    hit = (
        probe_bits.join(F.broadcast(bits), "bit_idx", "left_semi")
        .groupBy("probe")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == BLOOM_K)
        .select("probe")
    )
    flagged = hit.withColumn("present", F.lit(1))
    actual = keys.withColumn("actual", F.lit(1))
    audit = (
        probes.join(flagged, "probe", "left")
        .join(actual, "probe", "left")
        .agg(
            F.count("*").alias("n_probes"),
            F.sum(F.coalesce(F.col("present"), F.lit(0))).alias("n_present"),
            F.sum(F.coalesce(F.col("actual"), F.lit(0))).alias("n_actual"),
            F.sum(
                F.coalesce(F.col("present"), F.lit(0))
                * (1 - F.coalesce(F.col("actual"), F.lit(0)))
            ).alias("n_false_pos"),
            F.sum(
                F.coalesce(F.col("actual"), F.lit(0))
                * (1 - F.coalesce(F.col("present"), F.lit(0)))
            ).alias("n_false_neg"),
        )
    )
    n_bits = bits.agg(F.count("*").alias("n_bits_set"))
    return audit.crossJoin(F.broadcast(n_bits)).select(
        F.lit(BLOOM_M).alias("m"),
        F.lit(BLOOM_K).alias("k"),
        "n_bits_set",
        "n_probes",
        "n_present",
        "n_actual",
        "n_false_pos",
        "n_false_neg",
        F.round(
            F.try_divide(
                F.col("n_false_pos").cast("double"),
                (F.col("n_probes") - F.col("n_actual")).cast("double"),
            ),
            6,
        ).alias("fpr"),
    )


def _bloom_bit_sql(expr: str, r: int) -> str:
    return f"({_sql_hex_int(expr, f'bf{r}:', 4)} % {BLOOM_M})"


_BLOOM_BITS_CTE = f"""
    keys AS (SELECT DISTINCT l_partkey FROM lineitem),
    bits AS (
        SELECT DISTINCT bit_idx FROM (
            {" UNION ALL ".join(f"SELECT {_bloom_bit_sql('CAST(l_partkey AS VARCHAR)', r)} AS bit_idx FROM keys" for r in range(BLOOM_K))}
        )
    )"""

ORACLES["q_bloom_bits"] = f"""
    WITH {_BLOOM_BITS_CTE}
    SELECT bit_idx FROM bits
"""

ORACLES["q_bloom_audit"] = f"""
    WITH {_BLOOM_BITS_CTE},
    probes AS (
        SELECT DISTINCT probe FROM (
            SELECT l_partkey AS probe FROM keys
            UNION ALL SELECT l_partkey + {BLOOM_SHIFT} AS probe FROM keys
        )
    ),
    probe_bits AS (
        {" UNION ALL ".join(f"SELECT probe, {_bloom_bit_sql('CAST(probe AS VARCHAR)', r)} AS bit_idx FROM probes" for r in range(BLOOM_K))}
    ),
    hit AS (
        SELECT probe FROM (
            SELECT pb.probe, count(*) AS n_hit
            FROM probe_bits pb JOIN bits b ON pb.bit_idx = b.bit_idx
            GROUP BY pb.probe
        ) WHERE n_hit = {BLOOM_K}
    ),
    audit AS (
        SELECT CAST(count(*) AS BIGINT) AS n_probes,
               CAST(sum(CASE WHEN h.probe IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_present,
               CAST(sum(CASE WHEN k.l_partkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_actual,
               CAST(sum(CASE WHEN h.probe IS NOT NULL AND k.l_partkey IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
               CAST(sum(CASE WHEN k.l_partkey IS NOT NULL AND h.probe IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
        FROM probes p
        LEFT JOIN hit h ON p.probe = h.probe
        LEFT JOIN keys k ON p.probe = k.l_partkey
    )
    SELECT CAST({BLOOM_M} AS INTEGER) AS m, CAST({BLOOM_K} AS INTEGER) AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           n_probes, n_present, n_actual, n_false_pos, n_false_neg,
           round(CAST(n_false_pos AS DOUBLE)
                 / nullif(CAST(n_probes - n_actual AS DOUBLE), 0.0), 6) AS fpr
    FROM audit
"""

QUERIES["q_bloom_bits"] = q_bloom_bits
QUERIES["q_bloom_audit"] = q_bloom_audit


def bloom_merge(*bit_tables: DataFrame) -> DataFrame:
    """OR two (or more) Bloom bit tables: union-distinct of set bits —
    the mergeability that lets per-partition / per-day filters combine
    without rescanning keys (library API; pytest asserts
    build(A ∪ B) ≡ merge(build(A), build(B)) exactly)."""
    merged = bit_tables[0]
    for b in bit_tables[1:]:
        merged = merged.unionByName(b)
    return merged.distinct()


def kmv_merge(*hash_tables: DataFrame, k: int = KMV_K) -> DataFrame:
    """Merge KMV sketches: union the hash sets and keep the k smallest —
    closed under merge, so per-shard sketches of (h) columns combine
    into the corpus sketch without touching raw keys (library API)."""
    merged = hash_tables[0]
    for h in hash_tables[1:]:
        merged = merged.unionByName(h)
    return merged.distinct().orderBy("h").limit(k)


def hll_merge_registers(*register_tables: DataFrame) -> DataFrame:
    """Merge explicit-HLL register tables: per-register MAX rank — the
    HLL merge law (library API; estimates from the merged table equal
    estimates over the union of the key sets)."""
    merged = register_tables[0].select("reg", "max_rank")
    for r in register_tables[1:]:
        merged = merged.unionByName(r.select("reg", "max_rank"))
    return merged.groupBy("reg").agg(F.max("max_rank").alias("max_rank"))


# --------------------------------------------------------------------------
# Equi-width quantile histogram (the mergeable-quantile gap in the sketch
# family: CM answers frequency, KMV/HLL answer distinct, Bloom answers
# membership — this answers RANK/quantile). A fixed-width integer-cents
# histogram is algebraic (bin counts merge by SUM — associative,
# commutative), so per-shard histograms combine map-side and day-over-day
# without rescanning raw data, and any quantile derives from the merged
# bins with error bounded by one bin width. Everything is integer-exact:
# cents = round(price*100) as BIGINT, bucket = cents div WIDTH, and the
# rank test cum*100 >= pct*N stays in BIGINT arithmetic — so the Spark
# result and the DuckDB oracle agree bit-for-bit (the HUGEINT lesson of
# rounds 5-7: never let a float boundary decide a bucket).

QHIST_WIDTH = 50_000  # cents per bin ($500); lineitem prices span ~210 bins
QHIST_PCTS = (25, 50, 75, 90, 99)


def quantile_hist_build(df: DataFrame, value_col: str,
                        width: int = QHIST_WIDTH) -> DataFrame:
    """One map-side-combined aggregate → (bucket, cnt), O(value range /
    width) rows regardless of input size. 2-decimal money converts to
    exact BIGINT cents at the scan. Bucketing is FLOOR division kept in
    integer arithmetic (`cents - pmod` is exactly divisible, so the
    truncating `div` equals floor): Spark's bare `div` TRUNCATES toward
    zero, which for negative values (a P&L delta column) would fold
    (-width, 0) into bucket 0 and break both the one-bin-width error
    guarantee and parity with DuckDB's flooring `//`."""
    cents = F.round(F.col(value_col) * 100.0, 0).cast("bigint")
    return (
        df.select(cents.alias("cents"))
        .select(
            F.expr(f"(cents - pmod(cents, {width})) div {width}").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantile_hist_merge(*hists: DataFrame) -> DataFrame:
    """Merge histograms by per-bucket SUM — the algebra that makes the
    sketch shippable: build(A ∪ B) ≡ merge(build(A), build(B)) exactly
    (pytest asserts frame equality)."""
    merged = hists[0]
    for h in hists[1:]:
        merged = merged.unionByName(h)
    return merged.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def quantile_hist_estimate(hist: DataFrame,
                           pcts: tuple[int, ...] = QHIST_PCTS,
                           width: int = QHIST_WIDTH) -> DataFrame:
    """Upper-bound quantile estimates from the bin table: for each target
    percentile, the first bucket whose cumulative count reaches
    ceil(pct% of N), reported as that bucket's exclusive upper bound in
    cents (guaranteed >= the true quantile, < true + width). The
    cumulative window runs over O(bins) rows — bounded state, not data."""
    from pyspark.sql import Window

    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("bucket", F.sum("cnt").over(wcum).alias("cum"))
    qs = (
        hist.agg(F.sum("cnt").alias("n_total"))
        .select(
            "n_total",
            F.explode(
                F.array(*[F.lit(int(p)).cast("long") for p in pcts])
            ).alias("pct"),
        )
    )
    return (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.col("cum") * 100 >= F.col("pct") * F.col("n_total"))
        .groupBy("pct")
        .agg(((F.min("bucket") + 1) * width).alias("est_cents"))
        .select("pct", "est_cents")
    )


def q_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price quantiles (p25/p50/p75/p90/p99) of l_extendedprice from the
    mergeable equi-width cents histogram — the sketch's derived read, so
    the driver's oracle checks the exact rank math downstream views use.

    Scale shape: ONE aggregate over the fact scan collapses to O(bins)
    rows map-side; the cumulative window and the percentile probe join
    touch only the ~210-row bin table (broadcast, single partition by
    design — bounded by the price range, never by the data)."""
    t = load_tables(spark, sf_dir)
    return quantile_hist_estimate(quantile_hist_build(t.lineitem, "l_extendedprice"))


# Oracle note (registry flattens SQL to one line, so no -- comments here):
# the hist CTE floor-divides via the pmod identity — DuckDB's // truncates
# toward zero exactly like Spark's `div`, and both would otherwise fold the
# (-width, 0) range into bucket 0.
_QHIST_SQL = f"""
    WITH hist AS (
        SELECT (c - ((c % {QHIST_WIDTH}) + {QHIST_WIDTH}) % {QHIST_WIDTH}) // {QHIST_WIDTH} AS bucket,
               count(*) AS cnt
        FROM (SELECT CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) AS c
              FROM lineitem)
        GROUP BY bucket
    ),
    cum AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM hist),
    total AS (SELECT sum(cnt) AS n_total FROM hist),
    qs AS (SELECT CAST(pct AS BIGINT) AS pct
           FROM (VALUES {", ".join(f"({p})" for p in QHIST_PCTS)}) t(pct))
    SELECT pct, CAST((min(bucket) + 1) * {QHIST_WIDTH} AS BIGINT) AS est_cents
    FROM cum, total, qs
    WHERE cum * 100 >= pct * n_total
    GROUP BY pct
"""

QUERIES["q_quantile_hist"] = q_quantile_hist
ORACLES["q_quantile_hist"] = _QHIST_SQL
