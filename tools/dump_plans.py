"""Dump physical plans: PLANS.md, or one plan file per query for diffing.

    python tools/dump_plans.py
        Regenerate PLANS.md: executed physical plans of the headline
        queries at SPARK_GRAFT_SF_DIR (default the sf0.1 fixture) — pushed
        filters, read schemas, join strategies, exchange counts and codegen
        fusion, as evidence for plan-quality review.

    python tools/dump_plans.py --tier DIR --out OUT [--bench] [--no-run] [query ...]
        Write OUT/<query>.txt, the formatted plan of each named query at
        the tier DIR. Queries default to every registered query; a dotted
        name such as ml.knn_ann names an operators.<module> function
        taking (spark, sf_dir). Each query runs once (a noop write) first,
        so the AQE final plan is captured; --no-run captures the plan
        without executing it. --bench applies the bench conf (AQE off,
        SPARK_BENCH_PARTITIONS shuffle partitions, tables cached on their
        CACHE_KEYS). Every name a session counter makes is normalized
        (see ``normalize``), so `diff -r` of two dumps compares the plans
        of two commits, whatever ran earlier in each session.
"""

from __future__ import annotations

import argparse
import importlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402

# Non-headline operators whose PLAN SHAPE is the point (blocking, broadcast
# model state, no all-pairs) — dumped after the headline set as evidence.
SCALE_FLAGSHIPS = [
    "q_dedup_minhash",
    "q_sim_ann",
    "q_dbscan_core",
    "q_item_cf",
    "q_decontaminate",
    # Round-5 TPC-H family: subquery→aggregate+broadcast rewrites whose
    # semi-reduction broadcasts test_plans.py asserts (VERDICT r5 item 8).
    "q_returned_items",
    "q_volume_shipping",
    "q_market_share",
    "q_top_supplier",
    # Round-6 deferred-window flagships: sketch build (one aggregate, output
    # bounded by depth×width), per-block SNM windows, single-shuffle HMM
    # fold, zero-shuffle JL projection (test_plans.py asserts these shapes).
    "q_cm_cells",
    "q_dedup_snm",
    "q_hmm_score",
    "q_jl_project",
]


def normalize(plan: str) -> str:
    """Replace the session-counter parts of a formatted plan with N:
    expression, plan and RDD ids (#123, plan_id=7, RDD[42]), common
    subexpression names (_common_expr_3), lambda variables (lambda x_145)
    and the call site of a materialized RDD (at localCheckpoint at
    NativeMethodAccessorImpl.java:0, or <unknown>:0 later in a session)."""
    plan = re.sub(r"(#|plan_id=|RDD\[)\d+", r"\1N", plan)
    plan = re.sub(r"_common_expr_\d+", "_common_expr_N", plan)
    plan = re.sub(r"(lambda \w+?)_\d+#", r"\1_N#", plan)
    return re.sub(r"(RDD\[N\] at \w+ at )\S+?:\d+", r"\1N", plan)


def dump_dir(tier: str, out: str, names: list[str], bench: bool, run: bool) -> None:
    from machinelearningalgomapreduce_spark import registry
    from machinelearningalgomapreduce_spark.plans import inspect as P
    from machinelearningalgomapreduce_spark.session import ensure_query_conf, get_spark
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    spark = get_spark(app_name="dump_plans")
    ensure_query_conf(spark)
    if bench:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions",
                       os.environ.get("SPARK_BENCH_PARTITIONS", "4"))
        n_cache = int(os.environ.get("SPARK_BENCH_CACHE_PARTITIONS", "16"))
        tables = load_tables(spark, tier, cached=True, cache_partitions=n_cache)
        for tname in tables.names():
            tables[tname].count()
    qs = registry.queries()
    os.makedirs(out, exist_ok=True)
    for name in names or sorted(qs):
        if "." in name:
            mod, fn = name.rsplit(".", 1)
            query = getattr(
                importlib.import_module(f"machinelearningalgomapreduce_spark.operators.{mod}"), fn
            )
        else:
            query = qs[name]
        df = query(spark, tier)
        if run:
            df.write.format("noop").mode("overwrite").save()
        with open(os.path.join(out, f"{name}.txt"), "w") as f:
            f.write(normalize(P.formatted_plan(df)))
        print(f"wrote {name}", file=sys.stderr)


def write_plans_md() -> None:
    from machinelearningalgomapreduce_spark import registry
    from machinelearningalgomapreduce_spark.plans import inspect as P
    from machinelearningalgomapreduce_spark.session import ensure_query_conf, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="dump_plans")
    ensure_query_conf(spark)
    qs = registry.queries()

    out = [
        "# PLANS — executed physical plans of the headline queries",
        "",
        f"Generated by tools/dump_plans.py at {sf_dir} (AQE on — engine defaults;",
        "final adaptive plans, so codegen ids and runtime re-plans are visible).",
        "Read together with tests/test_plans.py, which asserts the key",
        "properties (pushdown, broadcast, shuffle counts, TakeOrderedAndProject).",
        "",
    ]
    for name in HEADLINE + SCALE_FLAGSHIPS:
        if name not in qs:
            continue
        df = qs[name](spark, sf_dir)
        plan = P.executed_plan(df)
        shuffles = P.count_exchanges(df)
        bcasts = P.count_broadcast_joins(df)
        out += [
            f"## {name}",
            "",
            f"shuffle exchanges: {shuffles} · broadcast hash joins: {bcasts}",
            "",
            "```",
            plan.rstrip(),
            "```",
            "",
        ]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--tier", help="tier directory to plan against (with --out)")
    ap.add_argument("--out", help="output directory: one <query>.txt per query")
    ap.add_argument("--bench", action="store_true", help="bench conf + cached tables")
    ap.add_argument("--no-run", action="store_true", help="capture plans without executing")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.out is None:
        write_plans_md()
    elif args.tier is None:
        ap.error("--out needs --tier")
    else:
        dump_dir(args.tier, args.out, args.queries, args.bench, not args.no_run)


if __name__ == "__main__":
    main()
