"""The benchmark's metric names, units and directions, in one place.

``BENCHMARK.json`` lists the same names; ``test_smoke.py`` checks that the
two agree and that a run prints every one of them.
"""

from __future__ import annotations

# (name, unit, better, bound): what a user of the engine sees. Wall time
# is per-layer (pipeline.wall_s): on a shared host, episodes of 10-22%
# hypervisor steal stretch a rep's wall time by up to 60% for minutes at a
# time, which spread it past any bound, while its CPU time holds steady.
END_TO_END = [
    ("cpu_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

# pipeline stage -> layer (package module) that does its work
STAGE_LAYER = {
    "signatures": "blocking",
    "blocking": "blocking",
    "candidates": "blocking",
    "sem_candidates": "blocking",
    "postings": "tfidf",
    "top_vocab": "tfidf",
    "prep": "tfidf",
    "train_features": "scoring",
    "cand_features": "scoring",
    "closure": "clustering",
    "cluster": "clustering",
}

STAGE_FIELDS = [
    ("s", "s", "lower"),
    ("rows", "count", "lower"),
    ("cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"),
]

# (name, unit, better); a workload that does not run a layer reports 0
PER_LAYER = [
    (f"{layer}.{stage}.{field}", unit, better)
    for stage, layer in STAGE_LAYER.items()
    for field, unit, better in STAGE_FIELDS
] + [
    ("scoring.fit_lr_newton.s", "s", "lower"),
    ("scoring.fit_lr_newton.calls", "count", "lower"),
    ("scoring.calibrate.s", "s", "lower"),
    ("clustering.connected_components.s", "s", "lower"),
    ("clustering.cc_rounds", "count", "lower"),
    ("blocking.candidates_lexical", "count", "lower"),
    ("blocking.candidates_semantic", "count", "lower"),
    ("blocking.candidates_union", "count", "lower"),
    ("blocking.pair_completeness", "ratio", "higher"),
    ("blocking.pair_yield", "ratio", "higher"),
    ("scoring.featurized_pairs", "count", "lower"),
    ("scoring.prefilter_survival", "ratio", "lower"),
    ("scoring.train_pairs", "count", "lower"),
    ("clustering.n_clusters", "count", "higher"),
    ("quality.pairwise_precision", "ratio", "higher"),
    ("quality.pairwise_recall", "ratio", "higher"),
    ("quality.pairwise_f1", "ratio", "higher"),
    ("quality.labeled_pair_f1", "ratio", "higher"),
    ("checkpoint.resumed_stages", "count", "higher"),
    ("checkpoint.mb", "MB", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("sources.load_s", "s", "lower"),
    ("pipeline.wall_s", "s", "lower"),
    ("pipeline.files_per_s", "1/s", "higher"),
    ("pipeline.traced_wall_s", "s", "lower"),
    ("pipeline.driver_self_s", "s", "lower"),
    ("pipeline.trace_overhead_s", "s", "lower"),
    ("pipeline.other.cpu_s", "s", "lower"),
    ("pipeline.cached_mb", "MB", "lower"),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
