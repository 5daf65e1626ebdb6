"""ANN-twin wall-clock record for q_knn (VERDICT r12 item 3).

The headline carries brute q_knn — deliberately, because the oracle needs
an exact SQL-expressible form — but a user sizing 100 TB runs the ANN
twin (operators/ml.py::knn_ann — IVF cell-pruned candidates, identical
vote plan and output schema). This tool records the number that user
needs: at each tier, the twin's wall-time in BOTH shapes (cold-start =
quantizer training included; serving = pre-trained centroids, the
persisted-IVFIndexView amortized shape), its speedup vs brute q_knn on
the same tier in the same process, recall@KNN_K vs the brute truth, and
the prediction agreement rate.

Methodology matches tools/scale_probe.time_query: noop-write warm-up,
best-of-N timing, one SparkSession per tier. Output: one JSON line per
tier on stdout plus a markdown table on stderr for BENCH_NOTES.

Usage: python tools/ann_twin_bench.py [tier_dir ...]
       (default tiers: /root/testdata/sf0.1 and /tmp/sf1.0 — the 10×
        tier is built via tools/scale_bench_10x.ensure_tier if absent)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))



def _timed(df_fn, runs: int = 3) -> float:
    df_fn().write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        df_fn().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def run_tier(tier: str) -> dict:
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.operators.ml import (
        KNN_K,
        KNN_QUERY_STRIDE,
        centroid_frame,
        kmeans_fit,
        knn_ann,
        q_knn,
    )
    from machinelearningalgomapreduce_spark.operators.similarity import (
        ann_recall_frame,
        learned_ivf_ann,
    )
    from machinelearningalgomapreduce_spark.session import (
        ensure_query_conf,
        get_spark,
    )
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    from machinelearningalgomapreduce_spark.operators.dedup import (
        auto_k,
        auto_n_probe,
    )

    spark = get_spark(
        app_name=f"ann-twin-{os.path.basename(tier)}",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=int(os.environ.get("SPARK_BENCH_PARTITIONS", "16")),
    )
    ensure_query_conf(spark)
    n_vectors = load_tables(spark, tier).embeddings.count()
    k_cells = auto_k(n_vectors)  # knn_ann's auto
    probes = sorted({auto_n_probe(k_cells), 6})

    brute_s = _timed(lambda: q_knn(spark, tier))
    brute_pred = {r.query_id: r.pred_label for r in q_knn(spark, tier).collect()}

    # serving shape: quantizer trained ONCE (what a persisted IVF index
    # pins at construction); the timed part is candidate scoring + vote
    model, _cost = kmeans_fit(spark, tier, k=k_cells, seed=42)
    cents = centroid_frame(spark, model, "label")

    rows = []
    for np_ in probes:
        cold_s = _timed(lambda: knn_ann(spark, tier, k_cells, np_))
        serve_s = _timed(
            lambda: knn_ann(spark, tier, k_cells, np_, centroids=cents)
        )
        nn = learned_ivf_ann(
            spark, tier, k=k_cells, n_probe=np_,
            stride=KNN_QUERY_STRIDE, topk=KNN_K,
        )
        rec = ann_recall_frame(
            spark, tier, nn, stride=KNN_QUERY_STRIDE, k=KNN_K
        ).agg(F.avg("recall")).first()[0]
        twin_rows = knn_ann(spark, tier, k_cells, np_).collect()
        agree = sum(
            1 for r in twin_rows if brute_pred.get(r.query_id) == r.pred_label
        )
        rows.append({
            "tier": tier,
            "n_vectors": n_vectors,
            "n_queries": len(brute_pred),
            "k": KNN_K,
            "k_cells": k_cells,
            "n_probe": np_,
            "auto": np_ == probes[0],
            "brute_s": round(brute_s, 3),
            "ann_cold_s": round(cold_s, 3),
            "ann_serving_s": round(serve_s, 3),
            "speedup_cold": round(brute_s / cold_s, 2),
            "speedup_serving": round(brute_s / serve_s, 2),
            "recall_at_k": round(float(rec), 4),
            "agreement": f"{agree}/{len(twin_rows)}",
        })

    spark.stop()
    return rows


BRUTE_FULL_CAP = 150_000  # above this, full-stride brute q_knn (n²/50
# pairs) is hours of wall — truth and agreement come from the sparse
# SAMPLE_STRIDE query subset instead (brute cost n·n/SAMPLE_STRIDE)
SAMPLE_STRIDE = 5_000


def _check_tier_format(tier: str) -> None:
    """Warn when a tier's _BUILT.json format_version differs from the
    current builder's (r15, r14 ADVICE): a tier regenerated under a
    different jitter keying contains DIFFERENT vectors than the tiers
    earlier rounds measured — numbers across formats are not comparable.
    A missing stamp (pre-r15 tier or the sf0.1 source) stays silent:
    the known pre-stamp tiers (/tmp/emb250x) were built with the current
    keying and are stamped retroactively by the builder docs."""
    import json as _json

    marker = os.path.join(tier, "_BUILT.json")
    if not os.path.exists(marker):
        return
    try:
        with open(marker) as fh:
            meta = _json.load(fh)
    except (OSError, ValueError):
        return
    ver = meta.get("format_version")
    if ver is None:
        return
    from tools.build_emb_tier import TIER_FORMAT_VERSION

    if ver != TIER_FORMAT_VERSION:
        print(
            f"WARNING: {tier} is tier-format v{ver}, builder is "
            f"v{TIER_FORMAT_VERSION} — its vectors differ from tiers built "
            "by the current jitter keying; do NOT compare these numbers "
            "against other-format rounds.",
            file=sys.stderr,
        )


def run_index_tier(tier: str) -> list[dict]:
    """r14 (VERDICT r13 item 2): the PERSISTED-index serving lanes —
    knn_ann(index=IVFIndexView) and knn_ann(index=IVFPQIndexView) — at a
    tier, against brute q_knn in the same process. This is the number a
    100 TB user actually serves at: quantizer AND cell assignments
    prebuilt, per-query cost = partition-pruned probes + vote.

    Above BRUTE_FULL_CAP vectors the brute reference is computed on the
    SAMPLE_STRIDE query subset only (recall@k and agreement are exact on
    that subset; the serving wall still covers ALL stride-50 queries) and
    the full-stride brute wall is reported as the subset wall scaled by
    the query-count ratio — brute cost is linear in query count at fixed
    corpus, so the scaling is exact up to scheduling constants; the row
    carries brute_s_estimated=True so nobody mistakes it for a measured
    full run."""
    _check_tier_format(tier)
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.operators.dedup import (
        auto_k,
        auto_n_probe,
    )
    from machinelearningalgomapreduce_spark.operators.ivf_index import IVFIndexView
    from machinelearningalgomapreduce_spark.operators.ivf_pq import IVFPQIndexView
    from machinelearningalgomapreduce_spark.operators.ml import (
        KNN_K,
        KNN_QUERY_STRIDE,
        kmeans_fit,
        knn_ann,
        q_knn,
    )
    from machinelearningalgomapreduce_spark.operators.similarity import (
        ann_recall_frame,
        pq_fit,
    )
    from machinelearningalgomapreduce_spark.session import (
        ensure_query_conf,
        get_spark,
    )
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables
    from machinelearningalgomapreduce_spark.sources.schemas import EMBEDDING_DIM

    spark = get_spark(
        app_name=f"ann-index-{os.path.basename(tier)}",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=int(os.environ.get("SPARK_BENCH_PARTITIONS", "16")),
    )
    ensure_query_conf(spark)
    from machinelearningalgomapreduce_spark.functions.vectors import dot, norm
    from machinelearningalgomapreduce_spark.sources.schemas import (
        EMBEDDING_DIM as _DIM,
    )
    from pyspark.sql.window import Window as W

    t = load_tables(spark, tier)
    emb = t.embeddings.select("vec_id", "embedding")
    n_vectors = emb.count()
    k_cells = auto_k(n_vectors)
    np_ = auto_n_probe(k_cells)

    def brute_votes(stride):
        # q_knn's exact plan re-aimed at a coarser query stride
        e = t.embeddings.withColumn("vnorm", norm(F.col("embedding"), _DIM))
        q = e.filter(F.col("vec_id") % stride == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
            F.col("embedding").alias("qv"),
            F.col("vnorm").alias("qnorm"),
        )
        cos = F.round(
            dot(F.col("qv"), F.col("embedding"), _DIM)
            / (F.col("qnorm") * F.col("vnorm")),
            6,
        )
        w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
        neighbors = (
            q.join(e, F.col("query_id") != F.col("vec_id"))
            .select("query_id", "query_label", "vec_id", "label", cos.alias("cos_sim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= KNN_K)
        )
        vote_w = W.partitionBy("query_id").orderBy(F.desc("n_votes"), "label")
        return (
            neighbors.groupBy("query_id", "query_label", "label")
            .agg(F.count("*").alias("n_votes"))
            .withColumn("vr", F.row_number().over(vote_w))
            .filter(F.col("vr") == 1)
            .select("query_id", F.col("label").alias("pred_label"))
        )

    brute_estimated = n_vectors > BRUTE_FULL_CAP
    if brute_estimated:
        n_q_full = emb.filter(F.col("vec_id") % KNN_QUERY_STRIDE == 0).count()
        n_q_sub = emb.filter(F.col("vec_id") % SAMPLE_STRIDE == 0).count()
        # ONE timed pass, predictions collected from it (r14 lesson: at
        # 500k the subset brute is ~20 min per pass through the top-k
        # window — a warm-up pass plus a separate prediction pass
        # tripled the reference cost for zero methodology gain; the
        # single-cold-pass wall is the HONEST brute number anyway, since
        # a user running brute once gets no warm cache either)
        t0 = time.perf_counter()
        rows_sub = brute_votes(SAMPLE_STRIDE).collect()
        sub_s = time.perf_counter() - t0
        brute_s = sub_s * (n_q_full / max(1, n_q_sub))
        brute_pred = {r.query_id: r.pred_label for r in rows_sub}
    else:
        brute_s = _timed(lambda: q_knn(spark, tier))
        brute_pred = {
            r.query_id: r.pred_label for r in q_knn(spark, tier).collect()
        }

    model, _cost = kmeans_fit(spark, tier, k=k_cells, seed=42)
    cents = [
        (int(i), [round(float(x), 6) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    work = tempfile.mkdtemp(prefix="ann_index_bench_")
    rows = []
    try:
        indexes = [
            (
                "ivf-index",
                IVFIndexView(
                    os.path.join(work, "ivf"), cents,
                    dim=EMBEDDING_DIM, n_probe=np_,
                ),
            )
        ]
        books, _err = pq_fit(spark, tier, k=8, n_iter=2)
        cbs = [(r.sub, r.code, list(r.centroid)) for r in books.collect()]
        indexes.append(
            (
                "pq-index",
                IVFPQIndexView(
                    os.path.join(work, "pq"), cents, cbs,
                    dim=EMBEDDING_DIM, n_probe=np_,
                ),
            )
        )
        for kind, idx in indexes:
            t0 = time.perf_counter()
            idx.refresh(spark, emb, batch_id="b0")
            build_s = time.perf_counter() - t0
            serve_s = _timed(lambda: knn_ann(spark, tier, index=idx))
            queries = emb.filter(
                F.col("vec_id") % KNN_QUERY_STRIDE == 0
            ).select(F.col("vec_id").alias("query_id"), "embedding")
            if kind == "pq-index":
                nn = idx.query(
                    spark, queries, k=KNN_K,
                    full_vectors=lambda ids: emb.join(ids, "vec_id", "left_semi"),
                )
            else:
                nn = idx.query(spark, queries, k=KNN_K)
            # recall truth at the affordable stride: full stride below
            # the cap, the sparse sample above it (the sampled queries
            # are a subset of the served ones, so the join inside
            # ann_recall_frame scores exactly them)
            rec_stride = SAMPLE_STRIDE if brute_estimated else KNN_QUERY_STRIDE
            rec = ann_recall_frame(
                spark, tier, nn, stride=rec_stride, k=KNN_K
            ).agg(F.avg("recall")).first()[0]
            preds = knn_ann(spark, tier, index=idx).collect()
            scored = [r for r in preds if r.query_id in brute_pred]
            agree = sum(
                1 for r in scored if brute_pred[r.query_id] == r.pred_label
            )
            rows.append({
                "kind": kind,
                "tier": tier,
                "n_vectors": n_vectors,
                "n_queries_served": len(preds),
                "n_queries_scored": len(scored),
                "k_cells": k_cells,
                "n_probe": np_,
                "brute_s": round(brute_s, 3),
                "brute_s_estimated": brute_estimated,
                "index_build_s": round(build_s, 3),
                "serving_s": round(serve_s, 3),
                "speedup_serving": round(brute_s / serve_s, 2),
                "recall_at_k": round(float(rec), 4),
                "agreement": f"{agree}/{len(scored)}",
            })
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return rows


def main() -> None:
    if "--index" in sys.argv:
        tiers = [a for a in sys.argv[1:] if a != "--index"] or ["/tmp/sf1.0"]
        results = [row for t in tiers for row in run_index_tier(t)]
        for r in results:
            print(json.dumps(r))
        print(
            "\n| kind | tier | vectors | cells | probe | brute (s) | "
            "build (s) | serving (s) | speedup | recall@10 | agreement |",
            file=sys.stderr,
        )
        print("| " + " | ".join(["---"] * 11) + " |", file=sys.stderr)
        for r in results:
            est = " (est)" if r.get("brute_s_estimated") else ""
            print(
                f"| {r['kind']} | {os.path.basename(r['tier'])} | "
                f"{r['n_vectors']} | {r['k_cells']} | {r['n_probe']} | "
                f"{r['brute_s']}{est} | {r['index_build_s']} | {r['serving_s']} | "
                f"**{r['speedup_serving']}×{est}** | {r['recall_at_k']} | "
                f"{r['agreement']} |",
                file=sys.stderr,
            )
        return
    tiers = sys.argv[1:] or ["/root/testdata/sf0.1", "/tmp/sf1.0"]
    if "/tmp/sf1.0" in tiers and not os.path.exists("/tmp/sf1.0/_BUILT.json"):
        from tools.scale_bench_10x import ensure_tier

        ensure_tier(10, "/tmp/sf1.0")
    results = [row for t in tiers for row in run_tier(t)]
    for r in results:
        print(json.dumps(r))
    print(
        "\n| tier | vectors | cells | probe | brute q_knn (s) | "
        "ann cold (s) | ann serving (s) | speedup (serving) | recall@10 "
        "| agreement |",
        file=sys.stderr,
    )
    print(
        "| --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |",
        file=sys.stderr,
    )
    for r in results:
        probe = f"{r['n_probe']}{' (auto)' if r['auto'] else ''}"
        print(
            f"| {os.path.basename(r['tier'])} | {r['n_vectors']} | "
            f"{r['k_cells']} | {probe} | {r['brute_s']} | "
            f"{r['ann_cold_s']} | {r['ann_serving_s']} | "
            f"**{r['speedup_serving']}×** | {r['recall_at_k']} | "
            f"{r['agreement']} |",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
