#!/usr/bin/env python
"""Sweep recall-lever configs on the HARD tier and report quality+cost.

Each named config runs the full pipeline on the hard corpus and prints
one JSON line: wall, n_candidates, pairwise P/R/F1, per-kind recall,
labeled-pair F1. The sweep answers, with measurements instead of
banding algebra: which lever combination buys back the attainable
(hard-kind) recall, at what candidate-volume / wall cost, and does the
calibrated override bar hold precision.

Usage: python scripts/hard_sweep.py [name ...]   (default: all)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# Every config pins semantic_channel=False: this sweep isolates the
# LEXICAL levers (banding constants, prefilter/override floors), and the
# r5 semantic channel would both mask their recall effect (it reaches
# the same pairs another way) and make n_candidates incomparable across
# rounds. "base" is therefore "shipped defaults minus the semantic
# channel" — the r4 operating point. Sweep semantic levers (topk, cap,
# sem gate) separately if needed; scripts/semantic_blocking_probe.py
# (last at fd3f363) covered the channel's own selection sweep.
_LEX = {"semantic_channel": False}
CONFIGS = {
    # the shipped r4 default (64 perms / 32 bands, prefilter+override
    # floor 0.12) — the sweep's winner, promoted into ERConfig
    "base": {**_LEX},
    # the pre-r4 default, pinned explicitly so the sweep stays
    # reproducible against the old operating point
    "old_default": {
        **_LEX,
        "num_perm": 32, "bands": 16,
        "sig_prefilter": 0.2, "edge_override_jaccard_min": 0.2,
    },
    # banding lever alone: candidate prob at exact-J 0.15/0.20/0.25
    # goes 30/48/64% -> 52/73/87%
    "bands32_only": {**_LEX, "sig_prefilter": 0.2, "edge_override_jaccard_min": 0.2},
    # prefilter lever alone on the old banding (est noise at 32 perms
    # drops true J~0.25 pairs below 0.2)
    "old_bands_pref12": {**_LEX, "num_perm": 32, "bands": 16},
    # the recall-critical setting: hard-kind recall 0.986 at x2.8
    # candidates / +43% easy-bench wall
    "bands48_pref12": {**_LEX, "num_perm": 96, "bands": 48},
    # diminishing-returns point: 0.993 at x3.6 candidates
    "bands64_pref12": {**_LEX, "num_perm": 128, "bands": 64},
}


def main() -> None:
    names = sys.argv[1:] or list(CONFIGS)
    os.environ.setdefault("SPARK_GRAFT_HARD_SCALE", "1.0")
    import bench

    from bigdataentityresolution_spark.session import get_spark
    from bigdataentityresolution_spark.plans.pipeline import (
        ERConfig,
        labeled_pair_f1,
        pairwise_f1,
        run_er_pipeline,
    )

    spark = get_spark(app_name="hard_sweep")
    files, truth, pairs = bench.ensure_hard_corpus(spark)
    files = files.cache()
    pairs = pairs.cache()
    files.count()

    for name in names:
        cfg = ERConfig(**CONFIGS[name])
        t0 = time.time()
        result = run_er_pipeline(spark, files, pairs, workdir=None, config=cfg)
        n_cand = result["candidates"].count()
        labels = result["labels"].cache()
        labels.count()
        wall = time.time() - t0
        m = pairwise_f1(labels, truth)
        lm = labeled_pair_f1(labels, pairs)
        by_kind = bench._hard_recall_by_kind(labels, truth)
        print(json.dumps({
            "config": name,
            "wall_sec": round(wall, 1),
            "n_candidates": n_cand,
            "precision": round(m["precision"], 4),
            "recall": round(m["recall"], 4),
            "f1": round(m["f1"], 4),
            "recall_hard": by_kind.get("recall_hard"),
            "recall_orphan": by_kind.get("recall_orphan"),
            "labeled_f1": round(lm["f1"], 4),
            "labeled_fp": lm["fp"],
            "labeled_fn": lm["fn"],
            "gates": {g.name: g.bar for g in result["gates"]},
        }), flush=True)
        labels.unpersist()
        result["runner"].release()

    spark.stop()


if __name__ == "__main__":
    main()
