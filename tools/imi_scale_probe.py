"""Flat-vs-two-level (IMI) quantizer differential at a measured tier
(VERDICT r12 item 2).

The two-level route in embedding_dedup_blocked
(operators/dedup.py::_two_level_probe_cells) is the load-bearing 100 TB
claim of the semantic-dedup tier — it keeps k ≈ n/512 affordable past
EMBED_DEDUP_K_MAX where flat Lloyd's assignment cost O(n·k) becomes the
bottleneck. A tier whose auto-k GENUINELY exceeds 65,536 cells needs
~33.5M distinct vectors — impractical locally — so this tool records the
differential the way the r12 pytest pins it, but at the largest locally
feasible tier: a synthetic DISTINCT-vector corpus big enough for auto-k
in the hundreds-to-thousands, run through the REAL operator twice — once
flat (K_MAX at its default, above auto-k) and once two-level (K_MAX
lowered below auto-k) — recording wall-clock ratio, pair-set overlap
(both lanes are approximations of the same truth; the verify stage is
exact either way, so emitted pairs are TRUE in both), and the
rep-level candidate volume each lane generated (dedup._blocked_candidates).
Both lanes run the auto-k cell count and its auto probe budget: the
lanes differ in the quantizer's route only.

Corpus: n vectors of EMBEDDING_DIM doubles in tiny planted clusters of
``m`` members (deterministic xxhash64 synthesis, fully JVM-side — no
driver-side materialization). Near-dup truth is within-cluster by
construction at threshold 0.9: cluster jitter keeps within-cluster
cosine ≈ 1 while random cross-cluster cosine concentrates near 0
(σ ≈ 1/√dim), so 0.9 is ~7σ — cross-cluster pairs vanish.

Usage: python tools/imi_scale_probe.py [n] [k_max_lowered]
       (defaults n=262144 → auto-k=512; k_max_lowered=128)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

THRESHOLD = 0.9
CLUSTER_M = 4  # members per planted near-dup cluster


def synth_corpus(spark, n: int):
    """n DISTINCT vectors in n/CLUSTER_M tiny clusters, deterministic."""
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM

    c = (F.col("id") / CLUSTER_M).cast("long")
    dims = []
    for d in range(EMBEDDING_DIM):
        center = (
            F.pmod(F.xxhash64(F.lit(d * 1_000_003 + 17), c), F.lit(2000))
            / 1000.0
            - 1.0
        )
        jitter = (
            F.pmod(F.xxhash64(F.lit(d), F.col("id")), F.lit(2000)) / 1000.0
            - 1.0
        ) * 0.02
        dims.append(F.round(center + jitter, 6))
    return spark.range(n).select(
        F.col("id").alias("vec_id"), F.array(*dims).alias("embedding")
    )


def run_lane(spark, corpus, k_max: int, label: str) -> dict:
    from machinelearningalgomapreduce_spark.operators import dedup

    old = dedup.EMBED_DEDUP_K_MAX
    dedup.EMBED_DEDUP_K_MAX = k_max
    try:
        t0 = time.perf_counter()
        pairs = dedup.embedding_dedup_blocked(spark, corpus, threshold=THRESHOLD)
        pair_set = {(r.id_a, r.id_b) for r in pairs.collect()}
        wall = time.perf_counter() - t0
        t1 = time.perf_counter()
        cands = dedup._blocked_candidates(spark, corpus).count()
        cand_wall = time.perf_counter() - t1
    finally:
        dedup.EMBED_DEDUP_K_MAX = old
    return {
        "lane": label,
        "k_max": k_max,
        "wall_s": round(wall, 1),
        "candidate_rows": cands,
        "candidate_count_wall_s": round(cand_wall, 1),
        "pairs": len(pair_set),
        "pair_set": pair_set,
    }


def main() -> None:
    argv = list(sys.argv[1:])
    # r14: one-lane modes for the big tiers — at 0.5M+ vectors each lane
    # is tens of minutes, so the two lanes are run (and recorded) as
    # separate invocations rather than one 2× wall block.
    auto_only = "--auto-only" in argv
    two_level_only = "--two-level-only" in argv
    argv = [a for a in argv if not a.startswith("--")]
    n = int(argv[0]) if argv else 262_144
    k_max_low = int(argv[1]) if len(argv) > 1 else 128

    from machinelearningalgomapreduce_spark.functions.storage import materialize_once
    from machinelearningalgomapreduce_spark.operators import dedup
    from machinelearningalgomapreduce_spark.session import (
        ensure_query_conf,
        get_spark,
    )

    spark = get_spark(
        app_name="imi-scale-probe",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32,
    )
    ensure_query_conf(spark)
    corpus = materialize_once(synth_corpus(spark, n))  # pin one synthesis
    auto_k = dedup.auto_k(n)
    n_probe = dedup.auto_n_probe(auto_k)
    assert auto_k <= dedup.EMBED_DEDUP_K_MAX, "flat lane must stay flat"
    assert auto_k > k_max_low, "two-level lane must actually trigger"
    planted = n // CLUSTER_M * (CLUSTER_M * (CLUSTER_M - 1) // 2)

    if auto_only or two_level_only:
        lane = (
            run_lane(spark, corpus, dedup.EMBED_DEDUP_K_MAX, "flat")
            if auto_only
            else run_lane(spark, corpus, k_max_low, "two-level")
        )
        out = {
            "n_vectors": n,
            "auto_k": auto_k,
            "n_probe": n_probe,
            "threshold": THRESHOLD,
            "planted_pairs": planted,
            lane["lane"].replace("-", "_"): {
                k: v for k, v in lane.items() if k != "pair_set"
            },
            "recall_of_planted": round(len(lane["pair_set"]) / planted, 4),
        }
        print(json.dumps(out))
        spark.stop()
        return

    flat = run_lane(spark, corpus, dedup.EMBED_DEDUP_K_MAX, "flat")
    imi = run_lane(spark, corpus, k_max_low, "two-level")

    inter = len(flat["pair_set"] & imi["pair_set"])
    out = {
        "n_vectors": n,
        "auto_k": auto_k,
        "n_probe": n_probe,
        "threshold": THRESHOLD,
        "planted_pairs": planted,
        "flat": {k: v for k, v in flat.items() if k != "pair_set"},
        "two_level": {k: v for k, v in imi.items() if k != "pair_set"},
        "runtime_ratio_imi_over_flat": round(flat["wall_s"] and imi["wall_s"] / flat["wall_s"], 3),
        "overlap_vs_flat": round(inter / max(1, len(flat["pair_set"])), 4),
        "overlap_vs_imi": round(inter / max(1, len(imi["pair_set"])), 4),
        "flat_recall_of_planted": round(len(flat["pair_set"]) / planted, 4),
        "imi_recall_of_planted": round(len(imi["pair_set"]) / planted, 4),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
