#!/usr/bin/env python
"""Feasibility measurement for the SEMANTIC candidate channel
(VERDICT r4 'Next' #1): can TF-IDF-cosine blocking surface orphan-kind
true pairs (shingle Jaccard below the lexical channel's reach), and can
the scorer separate them from the template-similar negatives that live
in the same high-cosine region?

For each population on the hard tier —
  orphan true pairs        (the recall target: est-J < prefilter)
  hard-kind true pairs     (sanity: the lexical channel's home turf)
  unique-header tmpl pairs (the precision threat: cosine ~0.9 non-clones)
  global-header tmpl pairs (should be defused by IDF already)
  labeled negatives        (what a calibrated bar would see)
— report the distribution of exact TF-IDF cosine, MinHash est-Jaccard,
bounded prefix Levenshtein, and model proba (trained by the standard
pipeline run). The output answers, with data:
  1. coverage: what fraction of orphan pairs clears a cosine floor c
     (candidate-reachable by a cosine-LSH channel)
  2. separation: in the region {cosine >= c, est_j < sig_prefilter},
     where do orphan-positive probas sit vs the negatives' max?

Usage: python scripts/orphan_channel_diag.py [--scale 0.25]
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
    ap.add_argument("--scale", type=float, default=0.25)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()
    os.environ["SPARK_GRAFT_HARD_SCALE"] = str(args.scale)
    os.environ["SPARK_GRAFT_HARD_CORPUS"] = f"/tmp/bench_hard_corpus_s{args.scale}"
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)

    import bench
    bench.HARD_SCALE = args.scale
    bench.HARD_CORPUS_DIR = os.environ["SPARK_GRAFT_HARD_CORPUS"]
    from pyspark.sql import functions as F

    from bigdataentityresolution_spark.operators import blocking as B
    from bigdataentityresolution_spark.operators import scoring as S
    from bigdataentityresolution_spark.plans.pipeline import ERConfig, run_er_pipeline
    from bigdataentityresolution_spark.session import get_spark

    spark = get_spark(app_name="orphan_channel_diag")
    files, truth, pairs = bench.ensure_hard_corpus(spark)
    files = files.cache()
    cfg = ERConfig()
    t0 = time.time()
    result = run_er_pipeline(spark, files, pairs, workdir=None, config=cfg)
    docs_prep = result["docs_prep"]
    model = result["model"]
    print(f"pipeline: {time.time() - t0:.1f}s  thr={result['edge_threshold']:.4f} "
          f"gates={ {g.name: g.bar for g in result['gates']} }", flush=True)

    kind = F.regexp_extract("spec_id", r"src/(hard|orphan|tmpl_\d+)", 1)
    t = truth.withColumn("kind", kind)

    def truth_pairs_of(kind_re: str):
        tt = t.filter(F.col("kind").rlike(kind_re))
        return (
            tt.select(F.col("spec_id").alias("a"), "cluster_id")
            .join(tt.select(F.col("spec_id").alias("b"), "cluster_id"), "cluster_id")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
        )

    n_uniq = int(200 * args.scale)  # bench.ensure_hard_corpus's n_unique_header_groups
    uniq_ids = "|".join(f"{g:04d}" for g in range(n_uniq))

    def tmpl_pairs(unique: bool):
        # within-group ALL pairs (distinct entities; all are non-clones)
        sel = t.filter(F.col("kind").startswith("tmpl_"))
        if unique:
            sel = sel.filter(F.col("kind").rlike(f"tmpl_({uniq_ids})$"))
        else:
            sel = sel.filter(~F.col("kind").rlike(f"tmpl_({uniq_ids})$"))
        g = sel.select("spec_id", F.col("kind").alias("grp"))
        return (
            g.select(F.col("spec_id").alias("a"), "grp")
            .join(g.select(F.col("spec_id").alias("b"), "grp"), "grp")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
        )

    lab_neg = pairs.filter(F.col("label") == 0).select(
        F.least("left_spec_id", "right_spec_id").alias("a"),
        F.greatest("left_spec_id", "right_spec_id").alias("b"),
    )

    pops = {
        "orphan_true": truth_pairs_of("^orphan$"),
        "hard_true": truth_pairs_of("^hard$").sample(0.05, seed=1),
        "tmpl_uniqhdr_neg": tmpl_pairs(unique=True),
        "tmpl_globhdr_neg": tmpl_pairs(unique=False).sample(0.1, seed=1),
        "labeled_neg": lab_neg,
    }

    for name, p in pops.items():
        feats = S.pair_features(B.pairs_with_est(p, docs_prep), docs_prep, cfg.lev_bound)
        scored = S.predict(feats, model).cache()
        agg = scored.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.round(F.expr(f"percentile(f_cosine, {q})"), 3).alias(f"cos_p{int(q*100)}")
              for q in (0.1, 0.5, 0.9)],
            F.round(F.expr("percentile(f_jaccard, 0.5)"), 3).alias("estj_p50"),
            F.round(F.expr("percentile(f_lev, 0.5)"), 3).alias("lev_p50"),
            *[F.round(F.expr(f"percentile(proba, {q})"), 4).alias(f"proba_p{int(q*100)}")
              for q in (0.1, 0.5, 0.9)],
            F.round(F.max("proba"), 4).alias("proba_max"),
        ).collect()[0]
        print(f"\n== {name} ==\n{agg.asDict()}", flush=True)
        # the semantic region: candidates a cosine channel would add
        for cmin in (0.35, 0.5, 0.65):
            reg = scored.filter(
                (F.col("f_cosine") >= cmin) & (F.col("f_jaccard") < cfg.sig_prefilter)
            )
            r = reg.agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.expr("percentile(proba, 0.5)"), 4).alias("p50"),
                F.round(F.expr("percentile(proba, 0.1)"), 4).alias("p10"),
                F.round(F.max("proba"), 4).alias("pmax"),
            ).collect()[0]
            cov = (r["n"] / agg["n"]) if agg["n"] else 0.0
            print(f"   region cos>={cmin} & est_j<{cfg.sig_prefilter}: "
                  f"n={r['n']} ({cov:.1%} of pop) proba p10/p50/max="
                  f"{r['p10']}/{r['p50']}/{r['pmax']}", flush=True)
        scored.unpersist()

    result["runner"].release()
    spark.stop()


if __name__ == "__main__":
    main()
