"""Scale probe: does runtime grow ~linearly when the data grows 10×?

Builds a 10× tier from sf0.1 by unioning N key-offset copies of the fact
tables (events, documents, lineitem, orders, customer, supplier, and —
since round 8 — embeddings, so the vector kernels are probed for real;
offsets keep FK chains consistent so the join queries stay semantically
valid; region/nation/part are shared dims, copied once) into ``sf1.0``,
whose 10× row counts (catalog.table_stats footers) put the small-tier
shapes (brute pair scans, adjacency triangles, small-join and
pre-partition shortcuts) past their row bounds, so each takes its AT-SCALE
branch, then times a set of headline queries on both tiers under the ENGINE DEFAULT session
(AQE on, compression on, uncached scans — the 100 TB posture, deliberately
NOT the bench tier's latency knobs).

Output: one JSON line per query {name, t_small, t_big, ratio} plus a
summary. A ratio near the data ratio (±2-3× scheduling slack) means the
plan is data-bound, not blowing up; a superlinear ratio flags a shape that
would not survive 100 TB. Results are recorded in EVIDENCE.md.

Usage: python tools/scale_probe.py [n_copies] [out_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
OFF = 50_000_000  # key offset per copy — far above any fixture key range

SCALED = {
    # table -> columns to offset per copy
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "lineitem": ["l_orderkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    # vec_id offsets are multiples of 50M, so `vec_id % KNN_QUERY_STRIDE`
    # membership is copy-invariant: the query fraction stays exactly 1/stride
    # at every tier (OFF % 50 == 0).
    "embeddings": ["vec_id"],
}
SHARED = ["region", "nation", "part"]

PROBE_QUERIES = [
    "q_pricing_summary",
    "q_join3_topk",
    "q_join5_region",
    "q_filter_agg",
    "q_events_tumbling",
    "q_sessionize",
    "q_distinct_users",
    "q_wordcount",
    "q_dedup_exact",
    # round-6 additions: sketch build (must stay ~flat — output bounded by
    # depth×width), per-block SNM windows, per-user HMM fold, vocab-bounded
    # KL rollup.
    "q_cm_cells",
    "q_dedup_snm",
    "q_hmm_score",
    "q_kl_divergence",
    # round-8 additions (VERDICT r7 item 5): the most expensive non-floor
    # headline queries. Embeddings now scale with the tier, so the
    # vector kernels are probed for real: q_knn is the deliberate brute
    # O(nq·n) oracle form (quadratic by design — its curve documents why
    # the ANN path exists), q_sim_ann exercises the IVF cell-routed scale
    # path, q_dedup_minhash the banded-LSH path, q_kmeans_assign the broadcast
    # centroid scorer.
    "q_kmeans_assign",
    "q_knn",
    "q_dedup_minhash",
    "q_sim_ann",
    # round-8 addition: the mergeable quantile histogram — must stay
    # ~flat (output bounded by value range / bin width, like the sketches)
    "q_quantile_hist",
    # round-8 session-3 additions: the window-fingerprint dedup (linear
    # O(total tokens) shuffle, top-100 output) and the truss kernel (the
    # wedge-closure join over a co-purchase graph that DENSIFIES as orders
    # multiply over the shared part table — the interesting stress case).
    "q_substring_dup",
    "q_edge_support",
    # round-8 session-4 additions: the drift/experimentation tier — all
    # bounded-frame folds or 1-row-model aggregates that must stay
    # near-flat (their windows/folds run over the calendar × type domain,
    # not raw rows; q_cuped's user-keyed aggregate is the only raw
    # shuffle and mirrors q_sessionize's envelope).
    "q_changepoint",
    "q_holt_winters",
    "q_page_hinkley",
    "q_psi",
    "q_cuped",
    "q_friedman",
    # round-9 additions: the inference tier's two heaviest envelopes —
    # the survival kernels (kaplan_meier's per-user aggregates + the
    # distinct-duration windows; must track the q_sessionize-ish
    # user-keyed shuffle) and the one-aggregate post-hoc pair (must stay
    # near-flat: all arithmetic on O(k²)/O(cells) model frames).
    "q_log_rank",
    "q_nelson_aalen",
    "q_tukey_hsd",
    "q_g_test",
    # round-9 session-2 additions: the two riskiest new shapes — km_ci's
    # O(T²) prefix folds (T = distinct durations GROWS with users; the
    # probe tells us where the quantize-t_s guidance becomes binding)
    # and energy distance's integer prefix-sum windows over distinct
    # cent values (bounded by the price domain — should stay ~flat).
    "q_km_ci",
    "q_energy_distance",
    # round-11 addition: q_dedup_embedding's big-tier route is now the
    # learned-cell blocked composition (embedding_dedup_blocked) — the
    # small tier measures the brute baseline, the 10× tier (20k embeddings,
    # over similarity.BRUTE_MAX_ROWS) the routed kmeans+blocking+verify
    # path, so the SemDeDup-style curve is probed for real (candidates
    # O(Σ cell²), never all-pairs).
    "q_dedup_embedding",
]


def build_tier(spark, n_copies: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    for name in SHARED:
        df = spark.read.parquet(os.path.join(SRC, f"{name}.parquet"))
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))
    for name, key_cols in SCALED.items():
        df = spark.read.parquet(os.path.join(SRC, f"{name}.parquet"))
        copies = []
        for i in range(n_copies):
            c = df
            for col in key_cols:
                c = c.withColumn(col, F.col(col) + F.lit(i * OFF))
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))


def time_query(fn, spark, sf_dir: str, runs: int = 3) -> float:
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    argv = list(sys.argv[1:])
    only: set[str] = set()
    if "--queries" in argv:
        i = argv.index("--queries")
        if i + 1 >= len(argv):
            raise SystemExit("--queries needs a comma-separated name list")
        only = set(argv[i + 1].split(","))
        unknown = only - set(PROBE_QUERIES)
        if unknown:
            raise SystemExit(
                f"not in PROBE_QUERIES: {sorted(unknown)} "
                f"(choose from {PROBE_QUERIES})"
            )
        del argv[i:i + 2]
    reuse = "--reuse" in argv
    if reuse:
        argv.remove("--reuse")
    n_copies = int(argv[0]) if argv else 10
    base = argv[1] if len(argv) > 1 else "/tmp/scale_probe"
    big_dir = os.path.join(base, f"sf{0.1 * n_copies:g}")

    from machinelearningalgomapreduce_spark import registry
    from machinelearningalgomapreduce_spark.session import ensure_query_conf, get_spark

    spark = get_spark(app_name="scale_probe")  # engine defaults: AQE on
    ensure_query_conf(spark)

    t0 = time.perf_counter()
    if reuse and os.path.exists(big_dir):
        print(f"# reusing existing tier {big_dir}", file=sys.stderr)
    else:
        build_tier(spark, n_copies, big_dir)
        print(f"# built {big_dir} in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    qs = registry.queries()
    results = []
    for name in [q for q in PROBE_QUERIES if not only or q in only]:
        t_small = time_query(qs[name], spark, SRC)
        t_big = time_query(qs[name], spark, big_dir)
        row = {
            "query": name,
            "t_small_sec": round(t_small, 3),
            "t_big_sec": round(t_big, 3),
            "ratio": round(t_big / t_small, 2),
            "data_ratio": n_copies,
        }
        results.append(row)
        print(json.dumps(row), flush=True)
    ratios = [r["ratio"] for r in results]
    print(json.dumps({
        "summary": "scale_probe",
        "n_copies": n_copies,
        "max_ratio": max(ratios),
        "median_ratio": sorted(ratios)[len(ratios) // 2],
    }), flush=True)


if __name__ == "__main__":
    main()
