#!/usr/bin/env python
"""Diagnose WHERE the hard tier's attainable recall is lost.

For every missed true pair (same truth cluster, different predicted
cluster) of each kind (hard / orphan), attribute the miss to the first
stage that dropped it:

- not_candidate:   the pair never appeared in blocked candidate gen
                   (MinHash band miss or per-block cap; the candidates
                   relation contains ALL capped within-block pairs —
                   blocking.candidate_pairs_with_est "no floor here")
- prefilter_dropped: became a candidate but est-Jaccard fell below
                   sig_prefilter at featurization (pipeline.py cand
                   features), so it was never scored (proba is NULL)
- gate_rejected:   scored, but no acceptance gate passed it (its
                   accept_path is NULL); broken down below by the gate
                   regions that hold it (a floors-region pair sat below
                   the floors bar, the calibrated edge threshold)
- clustered_apart: the DIRECT pair was dropped but recall is pairwise
                   over clusters — these leaves are only truly lost if
                   no other member path links them (already counted in
                   the miss set by construction).

Usage: python scripts/hard_recall_diag.py [--scale 0.25]
(scale shrinks the corpus for a faster diagnostic loop)
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=float, default=float(os.environ.get("SPARK_GRAFT_HARD_SCALE", "1.0")))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()
    os.environ["SPARK_GRAFT_HARD_SCALE"] = str(args.scale)
    os.environ["SPARK_GRAFT_HARD_CORPUS"] = f"/tmp/bench_hard_corpus_s{args.scale}"

    import bench
    bench.HARD_SCALE = args.scale
    bench.HARD_CORPUS_DIR = os.environ["SPARK_GRAFT_HARD_CORPUS"]
    from pyspark.sql import functions as F

    from bigdataentityresolution_spark.operators.clustering import extract_matches
    from bigdataentityresolution_spark.session import get_spark
    from bigdataentityresolution_spark.plans.pipeline import ERConfig, run_er_pipeline

    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    spark = get_spark(app_name="hard_recall_diag")
    files, truth, pairs = bench.ensure_hard_corpus(spark)
    files = files.cache()
    t0 = time.time()
    result = run_er_pipeline(spark, files, pairs, workdir=None, config=ERConfig())
    labels = result["labels"].cache()
    labels.count()
    gates = result["gates"]
    print(f"pipeline: {time.time() - t0:.1f}s  gates={ {g.name: g.bar for g in gates} }")

    true_pairs = bench.truth_pairs_by_kind(truth).cache()
    pred_pairs = extract_matches(labels).select("a", "b")
    missed = true_pairs.join(pred_pairs, ["a", "b"], "left_anti").cache()

    # candidates_all (r5+): both channels — attributing against the
    # lexical channel alone would mislabel semantic-channel candidates
    # as not_candidate
    cand = result["candidates_all"].select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"), F.lit(1).alias("is_cand")
    )
    scored = result["scored"].select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"),
        "proba", "accept_path", "f_cosine", "f_jaccard", "f_vocab_cov",
    )
    diag = (
        missed.join(cand, ["a", "b"], "left")
        .join(scored, ["a", "b"], "left")
        .withColumn(
            "stage",
            F.when(F.col("is_cand").isNull(), "not_candidate")
            # NULL proba = candidate that the est-Jaccard prefilter
            # dropped before scoring (ADVICE r4: without this branch the
            # NULL falls into gate_rejected and pollutes the proba
            # aggregations below)
            .when(F.col("proba").isNull(), "prefilter_dropped")
            .when(F.col("accept_path").isNull(), "gate_rejected")
            .otherwise("accepted"),
        )
    ).cache()

    print("\n== miss attribution (missed true pairs by kind x stage) ==")
    diag.groupBy("kind", "stage").count().orderBy("kind", "stage").show(50, False)

    print("== feature distribution of scored-but-rejected misses ==")
    (
        diag.filter(F.col("stage") == "gate_rejected")
        .groupBy("kind", "stage")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("proba"), 3).alias("avg_proba"),
            F.round(F.expr("percentile(proba, 0.5)"), 3).alias("p50_proba"),
            F.round(F.expr("percentile(proba, 0.9)"), 3).alias("p90_proba"),
            F.round(F.avg("f_cosine"), 3).alias("avg_cos"),
            F.round(F.avg("f_jaccard"), 3).alias("avg_jacc"),
        )
        .orderBy("kind", "stage")
        .show(50, False)
    )

    # A gate-rejected pair missed the bar of every gate whose region holds
    # it; "why" lists those regions, read from the run's own gate table.
    print("== gate_rejected misses by the gate regions that hold them ==")
    in_regions = F.concat_ws("+", *[F.when(g.region, g.name) for g in gates])
    (
        diag.filter(F.col("stage") == "gate_rejected")
        .withColumn("why", F.when(in_regions == "", "no region").otherwise(in_regions))
        .groupBy("kind", "why")
        .count()
        .orderBy("kind", "why")
        .show(50, False)
    )

    print("== totals ==")
    tk = true_pairs.groupBy("kind").count().collect()
    mk = missed.groupBy("kind").count().collect()
    tot = {r["kind"]: r["count"] for r in tk}
    mis = {r["kind"]: r["count"] for r in mk}
    for k in sorted(tot):
        m = mis.get(k, 0)
        print(f"kind={k}: true={tot[k]} missed={m} recall={1 - m / tot[k]:.4f}")

    result["runner"].release()
    spark.stop()


if __name__ == "__main__":
    main()
