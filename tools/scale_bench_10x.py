"""Same-host Spark-vs-DuckDB ratio at a 10× data tier (VERDICT r10 item 1).

Five headline queries breach the per-query 2× same-host bar at sf0.1 —
q_distinct_users, q_dedup_exact, q_join5_region, q_events_tumbling,
q_kmeans_assign — and every audit (VERDICT r9/r10, BENCH_NOTES) attributes
the residual to Spark's fixed multi-job scheduling floor against DuckDB's
sub-100 ms local runs at 18 MB, not to a removable plan defect. This tool
tests that attribution the only way it can be tested: amortize the floor
by growing the data 10× and re-measure BOTH engines in the same process
on the same host.

Protocol: build the 10× tier with tools/scale_probe.build_tier (key-offset
copies, FK-consistent; its 10× row counts put the row-gated plan switches
past their bounds, so they take their at-scale branches), then run bench.py's OWN methodology on it —
same floor-probed, warm-up, best-of-N Spark timing; same warm best-of-3
DuckDB oracle timing, interleaved in the same run — restricted to the
audited queries via SPARK_BENCH_QUERIES. The output table (printed as
markdown, appended to BENCH_NOTES.md by hand) is the per-query
same-host adjusted ratio at 10×.

Usage: python tools/scale_bench_10x.py [n_copies] [tier_dir]
       (defaults: 10 copies of sf0.1 → /tmp/sf1.0; reused if present)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WEAK = [
    "q_distinct_users",
    "q_dedup_exact",
    "q_join5_region",
    "q_events_tumbling",
    "q_kmeans_assign",
]


def ensure_tier(n_copies: int, tier_dir: str) -> None:
    marker = os.path.join(tier_dir, "_BUILT.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            if json.load(fh).get("n_copies") == n_copies:
                print(f"# reusing tier at {tier_dir}", file=sys.stderr)
                return
    from machinelearningalgomapreduce_spark.session import get_spark
    from tools.scale_probe import build_tier

    spark = get_spark(app_name="scale-tier-build")
    build_tier(spark, n_copies, tier_dir)
    spark.stop()
    with open(marker, "w") as fh:
        json.dump({"n_copies": n_copies}, fh)


def main() -> None:
    argv = list(sys.argv[1:])
    # --all: run bench.py's FULL headline set at the tier (VERDICT r11
    # item 4 — record the whole headline where the job floor amortizes),
    # not just the five audited weak queries.
    run_all = "--all" in argv
    if run_all:
        argv.remove("--all")
    n_copies = int(argv[0]) if argv else 10
    tier_dir = argv[1] if len(argv) > 1 else "/tmp/sf1.0"
    ensure_tier(n_copies, tier_dir)

    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = tier_dir
    if not run_all:
        env["SPARK_BENCH_QUERIES"] = ",".join(WEAK)
    # Deliberately 16, not a naive 10×-of-4=40: partitions should track
    # CORE count more than data size at these (still sub-GB) tiers, and
    # the recorded runs measured 32 partitions WORSE on the small-output
    # shapes (q_dedup_exact 3.4×→11× — scheduling overhead on a 500k-row
    # job; see BENCH_NOTES "Five-query same-host scale audit"). Env wins
    # if the caller wants a different point.
    env.setdefault("SPARK_BENCH_PARTITIONS", "16")
    # bench.py runs in a fresh interpreter so its session conf is exactly
    # the per-round driver run's, just pointed at the tier.
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        check=False,
    )
    sys.stderr.write(proc.stderr)
    if proc.returncode != 0:
        raise SystemExit(f"bench.py failed rc={proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])

    adj = result["queries_minus_overhead"]
    raw = result["queries"]
    duck = result.get("duckdb_same_host", {})
    rows = []
    for name in (list(raw) if run_all else WEAK):
        d = duck.get(name)
        a = adj.get(name)
        r = raw.get(name)
        ratio_adj = round(a / d, 2) if d and a is not None else None
        ratio_raw = round(r / d, 2) if d and r is not None else None
        rows.append((name, r, a, d, ratio_adj, ratio_raw))

    print(json.dumps({
        "tier": tier_dir,
        "n_copies": n_copies,
        "fixed_overhead_sec": result["fixed_overhead_sec"],
        "rows": [
            {"query": n, "spark_raw_s": r, "spark_adj_s": a,
             "duckdb_s": d, "ratio_adj": ra, "ratio_raw": rr}
            for n, r, a, d, ra, rr in rows
        ],
    }))
    print("\n| query | spark raw (s) | spark adj (s) | duckdb (s) "
          "| adj ratio | raw ratio |", file=sys.stderr)
    print("| --- | --- | --- | --- | --- | --- |", file=sys.stderr)
    for n, r, a, d, ra, rr in rows:
        print(f"| {n} | {r} | {a} | {d} | {ra}× | {rr}× |", file=sys.stderr)


if __name__ == "__main__":
    main()
