"""Measure degree-ordered triangle orientation AT the 10x tier (VERDICT
r15 item 7): the fixture-tier A/B showed only -17% wedges on the
near-uniform graph; skew grows with scale, so the decision belongs at the
tier where the wedge-closure branch actually runs (lineitem over
graph.TRIANGLE_BCAST_MAX_ROWS).

Compares, on the SAME session over the tier's co-purchase edges:
  id-oriented    — the shipped wedge-closure plan (u < v);
  degree-ordered — edges re-oriented low-(degree, id) -> high, wedge join
                   + closure against the reoriented edge set.
Both count the SAME triangles (every triangle has exactly one apex in any
total order); prints wedge counts and wall times so the landing decision
is evidence-based. Measurement-only: does NOT touch the shipped queries.

Usage: python tools/degree_orient_10x.py [tier_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tier = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1.0"
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.functions.storage import materialize_once
    from machinelearningalgomapreduce_spark.operators.graph import _copurchase_edges
    from machinelearningalgomapreduce_spark.session import ensure_query_conf, get_spark

    spark = get_spark(app_name="degree_orient_10x")
    ensure_query_conf(spark)
    edges = materialize_once(_copurchase_edges(spark, tier))

    def wedge_count(e) -> int:
        out = e.groupBy("u").agg(F.count("*").alias("d"))
        return int(out.agg(F.sum(F.col("d") * (F.col("d") - 1) / 2)).collect()[0][0])

    def closure_count(e) -> tuple[int, float]:
        e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
        tri = (
            e1.join(e2, F.col("e1.v") == F.col("e2.u"))
            .select(F.col("e1.u").alias("x"), F.col("e2.v").alias("z"))
            .join(e3, (F.col("x") == F.col("e3.u")) & (F.col("z") == F.col("e3.v")))
            .agg(F.count("*").alias("n"))
        )
        t0 = time.perf_counter()
        n = tri.collect()[0][0]
        return int(n), time.perf_counter() - t0

    # Degree-ordered orientation: undirected degree over both endpoints,
    # then orient each edge low-(deg, id) -> high-(deg, id).
    deg = (
        edges.select(F.col("u").alias("n")).unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n").agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = materialize_once(
        edges.join(du, "u").join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("u2"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("v2"),
        )
        .select(F.col("u2").alias("u"), F.col("v2").alias("v"))
    )
    w_id = wedge_count(edges)
    w_deg = wedge_count(oriented)
    print(f"wedges id-oriented    : {w_id:,}")
    print(f"wedges degree-oriented: {w_deg:,}  ({(w_deg - w_id) / w_id:+.1%})")
    n1, t1 = closure_count(edges)
    n2, t2 = closure_count(oriented)
    print(f"triangles id    : {n1:,} in {t1:.1f}s")
    print(f"triangles degree: {n2:,} in {t2:.1f}s  (counts must match: {n1 == n2})")


if __name__ == "__main__":
    main()
