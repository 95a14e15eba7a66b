"""The flagship ER pipeline: ingest → TF-IDF prep → LSH blocking →
candidate scoring → transitive clustering, with stage checkpoints.

Spark lifecycle of the reference's main pipeline (src/main.c:46-548,
mapped in SURVEY.md §3.1), re-architected:

  stage        reference                            here
  ------------ ------------------------------------ -------------------------
  ingest       readDataset JSON walk                content identity: per-row
                                                    sha2(content,256) folded
                                                    into the files multiset
  closure      readCSV merge/negative links         connected components over
               (incremental clique merge)           labeled positives
  prep         hash_to_bow + tfidf_apply + top-1000 postings/vocab/doc_state
  blocking     hash1 mod 500 buckets                MinHash/LSH band keys
  candidates   bucket-stripe enumeration            capped within-block pairs
  features     concat sparse TF-IDF vectors         cosine/jaccard/levenshtein
  train        Hogwild batched GD                   synchronous IRLS rounds
  score        logistic_predict_proba               JVM sigmoid expression
  self-train   1 retrain round, band [0.85/0.15]    same semantics
  cluster      (clusters == label closure)          label closure ∪ accepted
                                                    predicted edges
  sinks        extractMatches/extractNegatives      same, as DataFrames

Every stage checkpoints through plans.checkpoint.StageRunner under a
fingerprint derived from the STAGES table (the sources, config settings
and upstream stages it reads); a killed run resumes every stage whose
manifest is complete under its fingerprint, and a changed input reruns
exactly the stages that read it and their descendants. The same table
schedules the stages (run_stages): each starts, as a concurrent Spark
job, once what it reads is materialized.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, fields
from functools import reduce
from typing import ClassVar, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataentityresolution_spark.functions import hashes as H
from bigdataentityresolution_spark.functions.text import tokenize
from bigdataentityresolution_spark.operators import blocking as B
from bigdataentityresolution_spark.operators import clustering as C
from bigdataentityresolution_spark.operators import scoring as S
from bigdataentityresolution_spark.operators import tfidf as TI
from bigdataentityresolution_spark.plans.checkpoint import StageRunner


@dataclass(frozen=True)
class ERConfig:
    """The pipeline's settings. The six dataclass fields are what a caller
    varies (the banding and the lexical-recall levers scripts/hard_sweep.py
    sweeps, self-training, the semantic channel); each is type- and
    range-checked at construction and raises ValueError there. The
    ClassVar constants are fixed, like the reference's compile-time
    MOST_SIGN=1000 (src/boWords.c) and ×12 pairs_limit (src/functs.c:23):
    read them as ``config.x``, set none. Every one of them, field or
    constant, joins the checkpoint fingerprints (STAGES). The gate bars
    (the edge threshold is the floors bar) are not settings: edge_gates
    calibrates them on each run's labeled pairs."""

    shingle_n: ClassVar[int] = 2
    # MinHash sketch width / LSH banding. 64 perms in 32 bands × 2 rows
    # (r4; was 32/16): candidate probability at exact-shingle-J
    # 0.15/0.20/0.25 rises 30/48/64% → 52/73/87%, which on the HARD tier
    # bought attainable (hard-kind) pair recall 0.8865 → 0.9708 at
    # precision 0.9997 and +10% easy-bench wall (candidates ×1.9, sketch
    # 256 B/doc — still ~nothing vs content). 96/48 reaches 0.986 at
    # ×2.8 candidates (+43% wall): the recall-critical setting, not the
    # default. Measured: scripts/hard_sweep.py.
    num_perm: int = 64
    bands: int = 32
    per_block_cap: ClassVar[int] = 64
    # Drop terms appearing in > this fraction of docs from the ER vocab
    # (boilerplate carries no pairwise discrimination; see tfidf.er_vocab).
    # The prune auto-falls-back on tiny/common-vocab corpora.
    max_df_ratio: ClassVar[float] = 0.35
    lev_bound: ClassVar[int] = 128
    # Drop candidates with est-Jaccard below this before featurization.
    # 0.12 (r4; was 0.2): at 32 perms the estimator's sampling noise
    # pushed true J≈0.25 pairs under 0.2 (~8% of them); with 64 perms
    # the estimate is tight enough to admit the J 0.12-0.2 band the LSH
    # now surfaces. Measured on the HARD tier: 540 true pairs died at
    # the 0.2 prefilter; lowering it (with the matching override floor)
    # is worth ~3 recall points at unchanged precision — the calibrated
    # override bar, not this filter, is the precision defense. None
    # featurizes every lexical candidate.
    sig_prefilter: float | None = 0.12
    newton_rounds: ClassVar[int] = 5  # IRLS is quadratic — 5 rounds reach |step| < 1e-4
    self_train: bool = True
    self_train_limit_factor: ClassVar[int] = 12  # pairs_limit = train_size × 12 (src/functs.c:23)
    # Precision-first link policy: a PREDICTED edge must clear BOTH an
    # exact TF-IDF cosine floor and a MinHash est-Jaccard floor, not just
    # the model threshold. Rationale: one false edge chains two clusters
    # under transitive closure — asymmetric, unrecoverable damage — while
    # a missed true edge is healed whenever any other member pair links
    # the clusters. The two floors are INDEPENDENT failure modes:
    # est-Jaccard has a sampling-noise tail (32 perms ⇒ est ≈ 0.3 on
    # J ≈ 0.05 pairs happens ~1e-4, × millions of candidates ⇒ hundreds
    # of false edges) but such pairs have low exact cosine; template-
    # similar corpora produce unrelated pairs with cosine up to ~0.9 but
    # those can't also beat the est-Jaccard floor. Measured on the bench
    # corpus: either floor alone leaves 361/682 false edges, both
    # together leave 0.
    edge_cosine_floor: ClassVar[float] = 0.5
    edge_jaccard_floor: ClassVar[float] = 0.45
    # High-confidence override: an edge whose model probability clears
    # a calibrated bar is accepted under RELAXED floors (the *_override_*
    # minima below) instead of the full floors. Motivated by the HARD corpus
    # tier (synthetic.generate_hard_corpus): adversarial low-overlap true
    # clones sit at est-Jaccard 0.3-0.45 — under the full floors alone
    # they are unreachable (recall 0.49 measured), while the trained
    # model separates them from template-similar negatives almost
    # perfectly. The override is NEVER floor-free: a model can be trained
    # on labeled pairs whose negatives are all of one shape, and such a
    # model can emit proba ≈ 1.0 for arbitrarily dissimilar pairs
    # (measured r4: an LR fit where every labeled negative was a
    # template pair learned NEGATIVE weights on all three similarity
    # features — "dissimilar ⇒ confident match" — and a floor-free
    # override then merged 4.3k unrelated files into one cluster).
    # The relaxed minima are a structural sanity bar the model cannot
    # override: no edge below them is accepted no matter the score. The
    # bar (edge_gates, scoring.calibrate_override_bar) gave hard-tier
    # recall 0.69 when fixed at 0.98, 0.84 calibrated at the r4 32/16
    # banding and 0.971 hard-kind at the shipped 64/32 banding, precision
    # 0.9997 throughout.
    # 0.12 in lockstep with sig_prefilter (r4; was 0.2): an edge the
    # prefilter admits must also be ACCEPTABLE, else the featurization
    # was wasted — and the 64-perm estimate at 0.12 is as reliable as
    # the 32-perm one was at 0.2 (same ±1 std-dev band). Precision holds
    # because the calibrated bar re-learns over whatever labeled
    # negatives enter the widened relaxed region.
    edge_override_jaccard_min: float = 0.12
    edge_override_cosine_min: ClassVar[float] = 0.35
    # --- SEMANTIC candidate channel (r5; VERDICT r4 'Next' #1) ---------
    # The lexical MinHash channel's measured ceiling is pairs whose
    # shingle Jaccard sits below band reach (hard-tier orphan kind:
    # recall 0.517 at r4) — yet those same pairs keep their rare
    # discriminative identifiers, so their vocab-pruned TF-IDF cosine
    # stays HIGH (measured p10/p50/p90 = 0.63/0.79/0.91,
    # scripts/orphan_channel_diag.py, last at 91c6baf). The second
    # channel blocks on each doc's top-k TF-IDF terms (prefix filtering,
    # PPJoin family — measured 99.8% orphan-pair coverage at ~1x the
    # lexical channel's candidate volume vs 71% at 11x for
    # SimHash-over-TF-IDF bands, scripts/semantic_blocking_probe.py,
    # last at fd3f363). Candidates from this channel bypass the
    # est-Jaccard prefilter (they are chosen BECAUSE they sit below it);
    # their acceptance gate is the exact TF-IDF cosine + a separately
    # calibrated high-confidence bar (edge_gates).
    semantic_channel: bool = True
    semantic_topk: ClassVar[int] = 5
    # Hot top-terms are capped like every other channel; 32 (vs the
    # lexical 64) because a term-block's members are ALL mutually
    # candidate — the quadratic term is the whole cost here.
    semantic_block_cap: ClassVar[int] = 32
    # A semantic edge must clear this exact-cosine floor AND the
    # calibrated semantic bar. 0.35 aligns with edge_override_cosine_min
    # — deliberately: the labeled negatives that anchor the semantic
    # bar's evidence (template-similar pairs) live at cosine 0.38-0.47
    # on the hard tier, so a higher floor would empty the evidence
    # region and the bar would stay at its cap (no semantic edges). Those
    # negatives score proba <= 0.22, so the bar lands at its 0.8
    # structural floor there while orphan true pairs score 0.84+.
    edge_semantic_cosine_min: ClassVar[float] = 0.35
    # Connected-components loop controls: round bound and reliable-
    # checkpoint cadence. Each `cc_checkpoint_every` rounds the frontier
    # is persisted (parquet when a workdir/checkpoint_dir is set) —
    # amortize by raising the cadence when the checkpoint dir lives on
    # slow object storage; lower it when rounds are huge and lineage
    # re-computation on executor loss would be costlier than the write.
    cc_max_iter: ClassVar[int] = 50
    cc_checkpoint_every: ClassVar[int] = 2
    # TF weighting for the pair-join TF-IDF vectors: "log" (sublinear
    # damping — the boilerplate defense, see tfidf.doc_vectors_indexed);
    # the operator also takes "raw" (reference-exact tf/n_tokens).
    tf_mode: ClassVar[str] = "log"
    seed: ClassVar[int] = 42

    def __post_init__(self) -> None:
        for f in fields(self):
            v = getattr(self, f.name)
            admits, what = _ADMITS[f.type]
            if not admits(v):
                raise ValueError(f"{f.name} must be {what}, got {v!r}")
        if self.num_perm % self.bands != 0:
            raise ValueError(f"bands={self.bands} must divide num_perm={self.num_perm}")


def _number(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


# What each declared ERConfig field type admits: counts are ints of at
# least 1, switches are bools, and floors and ratios are numbers in
# [0, 1] (NaN fails the range), or None where the type allows it (off).
_ADMITS = {
    "int": (lambda v: _number(v) and isinstance(v, int) and v >= 1, "an int of at least 1"),
    "bool": (lambda v: isinstance(v, bool), "a bool"),
    "float": (lambda v: _number(v) and 0 <= v <= 1, "a number in [0, 1]"),
    "float | None": (lambda v: v is None or _number(v) and 0 <= v <= 1,
                     "None or a number in [0, 1]"),
}


# The stage graph, declared once: stage -> (what it reads: the sources
# "files"/"labels" and upstream stages; the ERConfig settings, fields or
# constants, it reads).
# Every checkpoint fingerprint derives from it (stage_fingerprints), so a
# change reruns only the stages that read it and their descendants, and
# so does the schedule (run_stages): a stage starts once every stage it
# reads is materialized, in table order among those ready.
# cluster reads every setting (ALL_FIELDS): each reaches it anyway, through
# an upstream stage or its own edge/CC settings, so it has no list to fall
# out of sync.
# No stage reads blocking (the band membership; candidates re-derives its
# band keys with the sketches attached, which saves a join back to them).
# It stays a stage only because the benchmark counts it: the partial-resume
# check expects it among the 7 reused stages and the per-layer metrics name
# blocking.blocking.*. Being read by none, it is never counted in cache
# mode (it stays lazy), and in checkpoint mode its write overlaps
# candidates.
ALL_FIELDS = tuple(ERConfig.__annotations__)
STAGES: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "signatures": (("files",), ("shingle_n", "num_perm", "seed")),
    "postings": (("files",), ()),
    "top_vocab": (("files", "postings"), ("max_df_ratio",)),
    "prep": (("files", "postings", "signatures", "top_vocab"), ("lev_bound", "tf_mode")),
    "blocking": (("signatures",), ("bands", "num_perm")),
    "candidates": (("signatures",), ("bands", "num_perm", "per_block_cap")),
    "sem_candidates": (("prep",), ("semantic_topk", "semantic_block_cap")),
    "closure": (("files", "labels"), ("cc_max_iter", "cc_checkpoint_every")),
    "train_features": (("labels", "prep"), ("seed", "lev_bound")),
    "cand_features": (("candidates", "sem_candidates", "prep"),
                      ("sig_prefilter", "semantic_channel", "lev_bound")),
    "cluster": (("files", "labels", "closure", "train_features", "cand_features"),
                ALL_FIELDS),
}


def _sha(payload) -> str:
    return hashlib.sha256(json.dumps(payload).encode()).hexdigest()[:16]


def stage_fingerprints(config: ERConfig, sources: dict) -> dict[str, str | None]:
    """Checkpoint fingerprint of every stage in STAGES: the sha of
    [name, [fingerprint of each read], [value of each field]], where a
    source's fingerprint is its identity in ``sources`` ("files",
    "labels"; any JSON value, e.g. a multiset_signature triple). A stage
    the config switches off (sem_candidates without the semantic channel)
    has fingerprint None."""
    fp = dict(sources)
    off = set() if config.semantic_channel else {"sem_candidates"}
    for name, (reads, cfg_fields) in STAGES.items():
        key = [name, [fp[r] for r in reads], [getattr(config, f) for f in cfg_fields]]
        fp[name] = None if name in off else _sha(key)
    return {name: fp[name] for name in STAGES}


class Gate(NamedTuple):
    """One edge-acceptance path: a scored pair inside ``region`` whose
    proba clears ``bar`` may become an edge."""

    name: str
    region: Column
    bar: float


def edge_gates(config: ERConfig, labeled: DataFrame, model: S.LRModel) -> list[Gate]:
    """The ordered edge-acceptance table derived from ``config``:

      floors    full cosine + est-Jaccard floors; bar: the edge threshold
      override  relaxed floors; bar: max(threshold, high-confidence bar)
      semantic  exact-cosine floor; bar: max(threshold, its own bar)
                (semantic channel only)

    The threshold and every high-confidence bar are calibrated on
    ``labeled`` (label + feature columns + f_vocab_cov) under ``model``
    from ONE ordered driver read (label, proba, and an in-region flag per
    calibrated gate); each bar over its gate's own region, so the region
    that grants the bar is exactly the region it admits. No bar is below
    the threshold, so a pair some gate admits always clears it. Past
    DRIVER_MAX_ROWS it raises ValueError rather than calibrate on an
    arbitrary subset.

    A cosine floor exempts pairs where either doc has an EMPTY vocab
    projection (f_vocab_cov == 0, so f_cosine is identically 0): they
    must still clear the Jaccard floor and the bar, but a cosine floor
    must not hard-veto them or vocab-diverse corpora lose recall
    silently (ADVICE.md r1). The semantic region IS "cosine at least
    cmin", so it has no exemption and no Jaccard requirement: it is the
    only gate low-shingle-overlap near-dups (the semantic channel's whole
    purpose) can clear. Every gate applies to every scored pair — policy
    over feature space, not candidate provenance.
    """
    jac, cos = F.col("f_jaccard"), F.col("f_cosine")
    vocab_empty = F.col("f_vocab_cov") == 0

    floors = ((cos >= F.lit(config.edge_cosine_floor)) | vocab_empty) & (
        jac >= F.lit(config.edge_jaccard_floor)
    )
    regions = {
        "override": (jac >= F.lit(float(config.edge_override_jaccard_min)))
        & ((cos >= F.lit(config.edge_override_cosine_min)) | vocab_empty),
    }
    if config.semantic_channel:
        regions["semantic"] = cos >= F.lit(config.edge_semantic_cosine_min)
    pdf = S._driver_rows(labeled.select(
        F.col("label").cast("double").alias("label"), S.proba_expr(model).alias("proba"),
        *[F.coalesce(r, F.lit(False)).alias(name) for name, r in regions.items()],
    ))
    if pdf is None:
        raise ValueError(f"more than DRIVER_MAX_ROWS={S.DRIVER_MAX_ROWS} labeled pairs to calibrate on")
    thr = S.calibrate_edge_threshold(pdf["label"].to_numpy(), pdf["proba"].to_numpy(), model.threshold)
    neg = pdf[pdf["label"] == 0.0]
    return [Gate("floors", floors, thr)] + [
        Gate(name, region, max(thr, S.calibrate_override_bar(neg["proba"][neg[name]].to_numpy())))
        for name, region in regions.items()
    ]


def accept_path(gates: list[Gate]) -> Column:
    """The edge decision: name of the first gate whose region holds the
    pair and whose bar its proba clears; NULL when no gate accepts it."""
    path = None
    for g in gates:
        ok = g.region & (F.col("proba") >= F.lit(g.bar))
        path = F.when(ok, g.name) if path is None else path.when(ok, g.name)
    return path


def oriented_pairs(labeled_pairs: DataFrame, *cols: str) -> DataFrame:
    """``labeled_pairs`` as (a, b, *cols), a the least of its two spec
    ids and b the greatest: the orientation of every candidate pair."""
    return labeled_pairs.select(
        F.least("left_spec_id", "right_spec_id").alias("a"),
        F.greatest("left_spec_id", "right_spec_id").alias("b"),
        *cols,
    )


def union_pairs(channels: list[DataFrame]) -> DataFrame:
    """The (a, b, est_j) pairs of every candidate channel, each pair once.
    est_j is a pure function of the pair, so max() keeps its one value;
    one channel needs no dedup."""
    pairs = reduce(DataFrame.unionByName, channels)
    return pairs if len(channels) == 1 else pairs.groupBy("a", "b").agg(F.max("est_j").alias("est_j"))


def doc_state(
    files: DataFrame,
    postings: DataFrame,
    sigs: DataFrame,
    top_vocab: DataFrame,
    n_docs: int,
    lev_bound: int,
    tf_mode: str,
) -> DataFrame:
    """(spec_id, prefix, features, sig) — the compact per-doc state every
    pair join carries (scoring.pair_features): the Levenshtein prefix,
    the int-keyed TF-IDF map over the shared top-k vocabulary (empty for
    a doc with no vocab term) and the MinHash sig. The raw content and
    token arrays never ride a pair join (measured: full-payload joins
    spill at multi-million-candidate scale and stop scaling). The prep
    stage builds it once for the whole corpus; train pairs and candidate
    pairs both join that one relation.
    """
    # tfidf operators speak "doc_id" internally; map back to spec_id.
    vecs = TI.doc_vectors_indexed(postings, top_vocab, n_docs, tf_mode=tf_mode).withColumnRenamed(
        "doc_id", "spec_id"
    )
    empty_map = F.map_from_arrays(
        F.array().cast("array<int>"), F.array().cast("array<float>")
    )
    # shuffle_hash hints: at corpus scale these are corpus×corpus
    # equi-joins — the planner must never try to broadcast either side
    # (see scoring.pair_features for the measured failure).
    return (
        files.select("spec_id", F.substring("content", 1, lev_bound).alias("prefix"))
        .join(vecs.hint("shuffle_hash"), "spec_id", "left")
        .withColumn("features", F.coalesce("features", empty_map))
        .join(sigs.hint("shuffle_hash"), "spec_id")
    )


# A stage's jobs run in the FAIR scheduler pool of its own name (session
# sets spark.scheduler.mode=FAIR; fairness is between pools, so a short
# job gets task slots at once instead of queueing behind every wave of a
# long one), except these: perfbench's tracer (tracing.POOL_STAGE) maps
# the pools train (train_features and the fit) and candfeat to stages.
POOLS = {"train_features": "train", "cand_features": "candfeat"}


def run_stages(
    runner: StageRunner, builders: dict, fingerprints: dict, then: dict | None = None
) -> tuple[dict[str, DataFrame], dict]:
    """Run the stages in ``builders`` (stage -> (outputs so far) ->
    DataFrame) as concurrent Spark jobs, the reference's threaded job
    scheduler (src/jobscheduler.c) on Spark's thread-safe one: a stage is
    submitted, in STAGES order among the ready ones, once every stage it
    reads (STAGES, restricted to ``builders``) is materialized — written
    in checkpoint mode, counted once (its ``rows``) in cache mode, so no
    reader touches a cache before it is filled. A cache-mode stage that
    no stage reads is not counted. ``then[stage]`` runs on the
    materialized output in the same thread and pool. Each stage's wall
    ``start``/``end`` and ``pool`` join ``runner.manifests[stage]``. An
    exception in any stage is raised once the running stages end; no
    later stage starts.

    Returns ({stage: output}, {stage: then[stage]'s result})."""
    then = then or {}
    sc = runner.spark.sparkContext
    reads = {s: {r for r in STAGES[s][0] if r in builders} for s in builders}
    read = {r for rs, _ in STAGES.values() for r in rs}
    outs: dict[str, DataFrame] = {}
    results: dict = {}

    def task(name: str) -> None:
        pool = POOLS.get(name, name)
        # local properties are per Python thread (pinned-thread mode)
        sc.setLocalProperty("spark.scheduler.pool", pool)
        try:
            start = time.time()
            df = runner.run(name, lambda: builders[name](outs), fingerprints[name])
            if not runner.enabled and name in read:
                runner.manifests[name]["rows"] = df.count()
            runner.manifests[name].update(start=start, end=time.time(), pool=pool)
            outs[name] = df
            if name in then:
                results[name] = then[name](df)
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    pending = [s for s in STAGES if s in builders]
    done: set[str] = set()
    running: dict = {}
    with ThreadPoolExecutor(max_workers=len(pending)) as ex:
        while pending or running:
            for name in [s for s in pending if reads[s] <= done]:
                pending.remove(name)
                running[ex.submit(task, name)] = name
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for f in finished:
                f.result()
                done.add(running.pop(f))
    return outs, results


def run_er_pipeline(
    spark: SparkSession,
    files: DataFrame,
    labeled_pairs: DataFrame,
    workdir: str | None = None,
    config: ERConfig = ERConfig(),
) -> dict:
    """Run the full pipeline; returns dict with labels/model/metrics.

    files: (spec_id, repo, path, commit, lang, content[, content_sha])
    labeled_pairs: (left_spec_id, right_spec_id, label[, split])
    """
    runner = StageRunner(spark, workdir)
    # Source identities [n, h, s], from content: per-row sha2(content, 256)
    # folded into the files multiset (n is n_docs) and, only when
    # checkpointing, every labeled-pair column (PLANS.md "Checkpoints: one
    # stage table" says why not inputFiles()).
    files_id = list(files.agg(*H.multiset_signature("spec_id", F.sha2("content", 256))).first())
    n_docs = files_id[0]
    labels_id = (
        list(labeled_pairs.agg(*H.multiset_signature(*sorted(labeled_pairs.columns))).first())
        if runner.enabled else None
    )
    fp = stage_fingerprints(config, {"files": files_id, "labels": labels_id})
    tok = tokenize("content")

    # ---- stage: top-k vocabulary (tiny) ------------------------------------
    # index_vocab folded into the stage: the dense term_idx assignment is
    # a single-partition global sort by nature (measured ~1-2 s at bench
    # scale), so it runs ONCE here, cached/checkpointed, and at production
    # vocab sizes a resumed run never repeats it. k scales with the
    # corpus: the reference's fixed MOST_SIGN=1000 (src/boWords.c) suits
    # its ~30k-record camera-spec corpus, whose natural vocabulary is
    # small; tfidf.er_vocab gives why a fixed k fails on a large corpus
    # and why 1M caps it.
    vocab_k = min(max(1000, n_docs), 1_000_000)

    def top_vocab(o):
        return TI.index_vocab(
            TI.er_vocab(
                TI.vocab(o["postings"], n_docs), n_docs, vocab_k, max_df_ratio=config.max_df_ratio
            )
        )

    # connected components over ``edges`` and every file, checkpointed
    # under <workdir>/<prefix>_<fingerprint> when checkpointing
    def components(edges: DataFrame, prefix: str, fingerprint: str) -> DataFrame:
        return C.connected_components(
            edges,
            nodes=files.select("spec_id"),
            checkpoint_dir=os.path.join(workdir, f"{prefix}_{fingerprint}") if workdir else None,
            max_iter=config.cc_max_iter,
            checkpoint_every=config.cc_checkpoint_every,
            cached=runner.cached,
        )

    # ---- stage: label closure (reference semantics: ALL labels) ------------
    # (spec_id, cluster_id) over the positive labels, computed once: the
    # final clustering builds on it (final_cluster), as every later step
    # of the reference reads its one readCSV closure (src/functs.c:539-675).
    def closure(o):
        return components(
            labeled_pairs.filter(F.col("label") == 1).select(
                F.col("left_spec_id").alias("a"), F.col("right_spec_id").alias("b")
            ),
            "cc_closure", fp["closure"],
        )

    # ---- stage: training pairs + features ----------------------------------
    # Train on the train split's labeled pairs (reference: LR trains on
    # pairs among first-60% specs, src/main.c:296-308), featurized by the
    # one pair featurizer against the prep stage's doc state — the same
    # relation the candidate pairs join. The prep state carries sig, so
    # it also serves the est-Jaccard join.
    def train_features(o):
        lp = labeled_pairs
        if "split" not in lp.columns:
            # default split is the SCALE path: deterministic hash buckets,
            # no global window (seeded_shuffle_split's exact-count split
            # funnels the relation through one partition — kept for tests
            # only, VERDICT.md r1 #5/#10)
            from bigdataentityresolution_spark.sources.readers import hash_split

            lp = hash_split(lp, seed=config.seed)
        tp = oriented_pairs(lp.filter(F.col("split") == "train"), "label").distinct()
        # no prefilter: every labeled pair must be featurized; f_vocab_cov
        # rides along because the gate regions calibrated here read it
        return S.pair_features(
            B.pairs_with_est(tp, o["prep"]), o["prep"], config.lev_bound
        ).select("a", "b", "label", *S.FEATURE_COLS, "f_vocab_cov")

    # `channels` holds one (candidates with est_j, est-Jaccard prefilter or
    # None) entry per channel. The semantic channel has no prefilter: its
    # pairs are chosen BECAUSE they sit below the sketch estimate's reach;
    # their gate is the exact cosine computed downstream.
    def channels(o):
        return [(o["candidates"], config.sig_prefilter)] + [
            (o[s], None) for s in ("sem_candidates",) if s in o
        ]

    # ---- stage: candidate features -----------------------------------------
    # The features don't read the model (only the cheap predict projection
    # does), so this stage overlaps the train+fit unit instead of stacking
    # after it. Prefiltering each channel BEFORE the union keeps ~10% of the
    # lexical side, so the dedup shuffle sees ~0.4M rows at bench scale
    # instead of the 4M raw union (measured: filtering after the union
    # cost ~1 full pair shuffle of mostly-dead rows).
    def cand_features(o):
        cand = union_pairs([
            c if p is None else c.filter(F.col("est_j") >= F.lit(float(p))) for c, p in channels(o)
        ])
        return S.pair_features(cand, o["prep"], config.lev_bound).select(
            "a", "b", *S.FEATURE_COLS, "f_vocab_cov"
        )

    builders = {
        # ONE corpus scan → 256 B sketch per record
        "signatures": lambda o: B.minhash_signatures_df(
            files, id_col="spec_id", text_col="content",
            shingle_n=config.shingle_n, num_perm=config.num_perm,
            seed=config.seed, tokenizer=tok,
        ),
        # The ONLY corpus tokenize+explode pass, materialized as its own
        # stage: vocab, doc-lengths, and doc-vectors all re-read it.
        # Without it the TF-IDF chain re-scans and RE-TOKENIZES the corpus
        # 3-4× (measured: five full corpus scans inside one prep
        # materialization, ~60-100 core-s/run wasted at bench scale).
        "postings": lambda o: TI.postings(
            files, id_col="spec_id", text_col="content", tokenizer=tok
        ),
        "top_vocab": top_vocab,
        # compact per-doc state: prefix + TF-IDF map + sig
        "prep": lambda o: doc_state(
            files, o["postings"], o["signatures"], o["top_vocab"], n_docs,
            config.lev_bound, config.tf_mode,
        ),
        "blocking": lambda o: B.membership_from_signatures(
            o["signatures"], bands=config.bands, num_perm=config.num_perm
        ),
        # est-Jaccard is computed in-block at generation time (signatures
        # are already co-located after the membership shuffle), so the
        # similarity join downstream only sees prefilter survivors — see
        # blocking.candidate_pairs_with_est for the measured rationale.
        "candidates": lambda o: B.candidate_pairs_with_est(
            o["signatures"], bands=config.bands, num_perm=config.num_perm,
            per_block_cap=config.per_block_cap,
        ),
        # SEMANTIC candidates (top-k TF-IDF term blocking) read the prep
        # state, NOT a new corpus scan: the top-k is an expression-side
        # sort/slice of the map each doc already carries, so the channel
        # costs one blocking shuffle of k rows/doc plus the capped in-block
        # pair explosion. Both channels run blocking.candidate_pairs on a
        # membership carrying sig, so est_j is one expression and the two
        # union on an identical schema.
        "sem_candidates": lambda o: B.candidate_pairs(
            B.semantic_topk_membership(o["prep"], k=config.semantic_topk, carry_cols=("sig",)),
            per_block_cap=config.semantic_block_cap,
        ),
        "closure": closure,
        "train_features": train_features,
        "cand_features": cand_features,
    }
    # train+fit is one unit in the train pool: the model is not a stage
    outs, fitted = run_stages(
        runner,
        {s: b for s, b in builders.items() if fp[s] is not None},
        fp,
        then={"train_features": lambda tp: S.fit_lr_newton(
            runner.cache(tp), max_rounds=config.newton_rounds
        )},
    )
    train_pairs, model = outs["train_features"], fitted["train_features"]
    cand_feats = runner.cache(outs["cand_features"])
    scored = S.predict(cand_feats, model)

    # ---- one self-training round (count_retrain < 1, src/functs.c:1717) ---
    if config.self_train:
        pseudo = S.self_training_pseudo_labels(
            scored,
            known_pairs=train_pairs.select("a", "b"),
            limit=config.self_train_limit_factor
            * max(runner.manifests["train_features"]["rows"], 1),
        ).select("a", "b", "label", *S.FEATURE_COLS)
        refit_input = train_pairs.select("a", "b", "label", *S.FEATURE_COLS).unionByName(
            pseudo
        )
        model = S.fit_lr_newton(refit_input, max_rounds=config.newton_rounds)
        scored = S.predict(cand_feats, model)

    # ---- stage: final clustering -------------------------------------------
    # Edges: the label closure (must-link, ALL splits — reference closure
    # covers 100% of labels) ∪ predicted matches, minus pairs explicitly
    # labeled 0 (we never add a predicted edge a human label contradicts;
    # the reference adds no predicted edges at all).
    # calibrated on the TRUE labeled pairs (never on pseudo-labels), after
    # the self-train refit if one ran; every scored pair carries its
    # decision, the accepting gate's name or NULL
    gates = edge_gates(config, train_pairs, model)
    scored = scored.withColumn("accept_path", accept_path(gates))
    fp_cluster = _sha([fp["cluster"], [(g.name, g.bar) for g in gates]])
    label_clusters = outs["closure"]

    def final_cluster(o):
        # a star from each member to its label component's minimum connects
        # exactly the nodes the positive labels connect, and the components'
        # minima (the cluster ids) are the same
        label_edges = label_clusters.filter(F.col("spec_id") != F.col("cluster_id")).select(
            F.col("spec_id").alias("a"), F.col("cluster_id").alias("b")
        )
        neg_label_pairs = oriented_pairs(labeled_pairs.filter(F.col("label") == 0))
        pred_edges = scored.filter(F.col("accept_path").isNotNull()).select("a", "b").join(
            neg_label_pairs, ["a", "b"], "left_anti"
        )
        return components(label_edges.unionByName(pred_edges), "cc_final", fp_cluster)

    outs.update(run_stages(runner, {"cluster": final_cluster}, {"cluster": fp_cluster})[0])
    return {
        "candidates": outs["candidates"],
        "sem_candidates": outs.get("sem_candidates"),
        "candidates_all": union_pairs([c for c, _ in channels(outs)]),
        "label_clusters": label_clusters,
        "train_pairs": train_pairs,
        "model": model,
        "scored": scored,
        "gates": gates,
        "labels": outs["cluster"],
        "runner": runner,
    }


def labeled_pair_f1(predicted_labels: DataFrame, labeled_pairs: DataFrame) -> dict:
    """Pairwise F1 restricted to the LABELED pairs — the north rule's
    actual criterion ("pairwise F1≥0.99 on labeled pairs drawn at the
    same blocking key").

    predicted same-cluster vs the pair's label. Positive labels are
    must-link edges in the pipeline, so recall here is structural; the
    metric's teeth are on the NEGATIVE side: an explicitly-negative pair
    may never be merged directly (the pipeline anti-joins them out of
    predicted edges), but transitive closure can still chain its two
    sides through falsely-accepted UNLABELED edges — exactly what the
    hard corpus tier's template groups try to force.
    """
    lp = oriented_pairs(labeled_pairs, "label").distinct()
    la = predicted_labels.select(F.col("spec_id").alias("a"), F.col("cluster_id").alias("_ca"))
    lb = predicted_labels.select(F.col("spec_id").alias("b"), F.col("cluster_id").alias("_cb"))
    joined = lp.join(la, "a").join(lb, "b").withColumn(
        "pred", (F.col("_ca") == F.col("_cb")).cast("int")
    )
    cm = {
        (r["label"], r["pred"]): r["n"]
        for r in joined.groupBy("label", "pred").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    tp = cm.get((1, 1), 0)
    fp = cm.get((0, 1), 0)
    fn = cm.get((1, 0), 0)
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": precision, "recall": recall, "f1": f1}


def pairwise_f1(predicted_labels: DataFrame, truth_labels: DataFrame) -> dict:
    """Pairwise precision/recall/F1 of predicted clustering vs truth.

    Both inputs: (spec_id, cluster_id). Pairs = within-cluster pairs
    (a < b, clustering.extract_matches). Computed distributed (no collect
    of pair sets)."""
    pred = C.extract_matches(predicted_labels).select("a", "b").cache()
    true = C.extract_matches(truth_labels).select("a", "b").cache()
    tp = pred.join(true, ["a", "b"], "left_semi").count()
    n_pred = pred.count()
    n_true = true.count()
    pred.unpersist()
    true.unpersist()
    precision = tp / n_pred if n_pred else 1.0
    recall = tp / n_true if n_true else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp,
        "pred_pairs": n_pred,
        "true_pairs": n_true,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }
