"""End-to-end pipeline: F1 vs ground truth + vs label closure,
checkpoint/resume equivalence, and the stage table's fingerprints
(what reruns when a config field or an input changes)."""

from __future__ import annotations

import dataclasses
import glob
import hashlib
import json
import os
import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdataentityresolution_spark.operators import clustering as C
from bigdataentityresolution_spark.plans import checkpoint as CK
from bigdataentityresolution_spark.plans import pipeline as P


@pytest.fixture(scope="module")
def pipeline_result(spark, tiny_tables):
    files_df, truth_df, pairs_df = tiny_tables
    return P.run_er_pipeline(spark, files_df, pairs_df, workdir=None)


def test_f1_vs_ground_truth(pipeline_result, tiny_tables):
    _, truth_df, _ = tiny_tables
    m = P.pairwise_f1(pipeline_result["labels"], truth_df)
    assert m["f1"] >= 0.99, m


def test_f1_vs_reference_label_closure(spark, pipeline_result, tiny_tables):
    """north_rule parity: the reference's clusters ARE the transitive
    closure of labeled positives (src/main.c steps 4-6). The closure
    stage's output (result["label_clusters"]) must be that closure row
    for row, and our final clusters must agree with it on labeled pairs:
    every closure pair predicted same-cluster (recall 1.0 by
    construction — label edges are must-link), and explicitly-negative
    pairs must not be merged unless the ground truth says otherwise."""
    files_df, truth_df, pairs_df = tiny_tables
    ref_labels, _ = C.closure_from_labeled_pairs(
        pairs_df, nodes=files_df.select("spec_id")
    )
    label_clusters = pipeline_result["label_clusters"]
    assert label_clusters.exceptAll(ref_labels).count() == 0
    assert ref_labels.exceptAll(label_clusters).count() == 0
    # all reference within-cluster pairs must be within-cluster for us
    ref_pairs = C.extract_matches(ref_labels).select("a", "b")
    our_pairs = C.extract_matches(pipeline_result["labels"]).select("a", "b")
    missed = ref_pairs.join(our_pairs, ["a", "b"], "left_anti").count()
    assert missed == 0
    # F1 of our clusters vs the closure clusters evaluated on LABELED pairs
    lp = pairs_df.select(
        F.least("left_spec_id", "right_spec_id").alias("a"),
        F.greatest("left_spec_id", "right_spec_id").alias("b"),
        "label",
    ).distinct()
    ours = lp.join(our_pairs.withColumn("pred", F.lit(1)), ["a", "b"], "left").fillna(
        {"pred": 0}
    )
    stats = ours.groupBy("label", "pred").count().collect()
    cm = {(r["label"], r["pred"]): r["count"] for r in stats}
    tp = cm.get((1, 1), 0)
    fp = cm.get((0, 1), 0)
    fn = cm.get((1, 0), 0)
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, cm


def test_f1_holdout_labels(spark, tiny_tables):
    """The STRONG claim: run the pipeline with only the train-split labels
    (60%) and require the scored-edge predictions + closure to recover the
    held-out pairs — F1 vs full ground truth ≥ 0.99."""
    files_df, truth_df, pairs_df = tiny_tables
    train_only = pairs_df.filter(F.col("split") == "train")
    r = P.run_er_pipeline(spark, files_df, train_only, workdir=None)
    m = P.pairwise_f1(r["labels"], truth_df)
    assert m["f1"] >= 0.99, m


def test_model_quality(pipeline_result):
    model = pipeline_result["model"]
    assert model.rounds_trained > 0
    assert 0.2 <= model.threshold <= 0.8


def _decisions(result) -> tuple:
    """Every decision a run makes, exactly: the fit, the calibrated gate
    bars (the floors bar is the edge threshold), and a sha of the sorted
    labels."""
    model = result["model"]
    labels = sorted(map(tuple, result["labels"].collect()))
    return (
        model.weights,
        model.bias,
        [(g.name, g.bar) for g in result["gates"]],
        hashlib.sha256(repr(labels).encode()).hexdigest(),
    )


def test_decisions_independent_of_partitioning(spark, pipeline_result, tiny_tables):
    """The fit and both calibrations sum in an order fixed by the rows'
    values, so repartitioned input or another shuffle width gives
    bit-equal weights, threshold, bars and labels."""
    files_df, _, pairs_df = tiny_tables
    expected = _decisions(pipeline_result)
    variants = {
        "files_13": (files_df.repartition(13), pairs_df, None),
        "files_1": (files_df.coalesce(1), pairs_df, None),
        "pairs_5": (files_df, pairs_df.repartition(5), None),
        "shuffle_3": (files_df, pairs_df, "3"),
    }
    for name, (files_in, pairs_in, shuffle) in variants.items():
        prior = spark.conf.get("spark.sql.shuffle.partitions")
        if shuffle is not None:
            spark.conf.set("spark.sql.shuffle.partitions", shuffle)
        try:
            r = P.run_er_pipeline(spark, files_in, pairs_in, workdir=None)
            assert _decisions(r) == expected, name
            r["runner"].release()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_one_calibration_read(spark, pipeline_result, tiny_tables, monkeypatch):
    """A run reads the driver three times: the fit, the self-train refit,
    and one calibration read for the threshold and every gate bar
    (pipeline.edge_gates), with the same decisions."""
    from bigdataentityresolution_spark.operators import scoring as S

    files_df, _, pairs_df = tiny_tables
    reads = []
    driver_rows = S._driver_rows
    monkeypatch.setattr(S, "_driver_rows", lambda df: reads.append(df.columns) or driver_rows(df))
    r = P.run_er_pipeline(spark, files_df, pairs_df, workdir=None)
    assert _decisions(r) == _decisions(pipeline_result)
    r["runner"].release()
    features = [*S.FEATURE_COLS, "label"]
    assert reads == [features, features, ["label", "proba", "override", "semantic"]]


def test_pairwise_f1_leaves_no_cache(spark, tiny_tables):
    """pairwise_f1 unpersists the pair relations it caches."""
    _, truth_df, _ = tiny_tables
    truth_df.count()

    def cached_rdds() -> set:
        return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached_rdds()
    for _ in range(2):
        assert P.pairwise_f1(truth_df, truth_df)["f1"] == 1.0
    assert cached_rdds() == before


def _resumed(result) -> set:
    return {s for s, m in result["runner"].manifests.items() if m.get("resumed")}


def _sorted_labels(result) -> list:
    return sorted(map(tuple, result["labels"].collect()))


def test_checkpoint_resume_equivalence(spark, pipeline_result, tiny_tables, tmp_path_factory):
    """Kill-and-resume: a second run over the same workdir must reuse
    every stage (manifest hit). The checkpointed run, its full resume and
    the cache-mode run make bit-equal decisions: weights, threshold,
    bars and labels."""
    files_df, truth_df, pairs_df = tiny_tables
    wd = str(tmp_path_factory.mktemp("ckpt"))
    r1 = P.run_er_pipeline(spark, files_df, pairs_df, workdir=wd)
    r2 = P.run_er_pipeline(spark, files_df, pairs_df, workdir=wd)
    assert _resumed(r2) == set(P.STAGES)
    assert _decisions(r1) == _decisions(r2) == _decisions(pipeline_result)
    # manifests carry per-partition lineage
    m = r2["runner"].manifests["candidates"]
    assert m["rows"] == sum(p["rows"] for p in m["partitions"])
    r1["runner"].release()
    r2["runner"].release()


@pytest.mark.parametrize("case", ["tiny", "empty_corpus"])
def test_manifest_lineage_from_written_files(spark, pipeline_result, tiny_tables, tmp_path, case):
    """Each stage manifest has one entry per file its write produced, with
    the rows Spark reads from that file, and ``rows`` is their sum. A
    cache-mode run counts the same rows for every stage another stage
    reads. An empty corpus writes rows 0 everywhere and resumes every
    stage."""
    files_df, _, pairs_df = tiny_tables
    if case == "empty_corpus":
        files_df, pairs_df = files_df.limit(0), pairs_df.limit(0)
    wd = str(tmp_path)
    cfg = P.ERConfig(self_train=False)
    r = P.run_er_pipeline(spark, files_df, pairs_df, workdir=wd, config=cfg)
    r["runner"].release()
    read = {s for reads, _ in P.STAGES.values() for s in reads}
    for stage in P.STAGES:
        m = CK.read_manifest(os.path.join(wd, stage))
        assert m == {k: v for k, v in r["runner"].manifests[stage].items() if k in m}
        data = spark.read.parquet(os.path.join(wd, stage, CK.DATA))
        per_file = {
            os.path.basename(row["f"]): row["count"]
            for row in data.groupBy(F.input_file_name().alias("f")).count().collect()
        }
        files = {p["file"]: p["rows"] for p in m["partitions"]}
        assert set(per_file) <= set(files), stage
        assert files == {f: per_file.get(f, 0) for f in files}, stage
        assert m["rows"] == sum(files.values()) == data.count(), stage
        if case == "empty_corpus":
            assert m["rows"] == 0, stage
        elif stage in read:
            assert pipeline_result["runner"].manifests[stage]["rows"] == m["rows"], stage
    if case == "empty_corpus":
        r2 = P.run_er_pipeline(spark, files_df, pairs_df, workdir=wd, config=cfg)
        assert _resumed(r2) == set(P.STAGES)
        r2["runner"].release()


def test_resume_submits_no_job(spark, base_workdir):
    """A resumed stage is read under the schema its manifest records, the
    schema Spark would infer: resuming submits no Spark job."""
    sc = spark.sparkContext
    runner = CK.StageRunner(spark, base_workdir)
    for stage in P.STAGES:
        m = CK.read_manifest(os.path.join(base_workdir, stage))
        group = f"resume-{stage}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = runner.run(stage, lambda: pytest.fail(f"{stage} recomputed"), m["fingerprint"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], stage
        assert runner.manifests[stage]["resumed"], stage
        inferred = spark.read.parquet(os.path.join(base_workdir, stage, CK.DATA)).schema
        assert out.schema == inferred, stage


def test_identical_second_run_compiles_no_class(spark, tiny_tables, tmp_path):
    """Spark's generated-class cache (session.CODEGEN_CACHE_ENTRIES) holds
    every class one pipeline run generates, so an identical second run in
    the same JVM compiles none. Plan shapes added past the cache size, or
    code that differs on every run (a limit inside a codegen stage), fail
    here instead of silently recompiling each run."""
    files_df, _, pairs_df = tiny_tables
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = []
    for run in ("first", "second"):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        r = P.run_er_pipeline(
            spark, files_df, pairs_df, workdir=str(tmp_path / run), config=P.ERConfig()
        )
        r["labels"].count()
        compiles.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
        r["runner"].release()
    assert compiles[1] == 0, compiles


@pytest.mark.parametrize("mode", ["cache", "checkpoint"])
def test_release_unpersists_every_run_cache(spark, tiny_tables, tmp_path, mode):
    """The runner holds every cache a run makes: in checkpoint mode the
    stage outputs the pipeline re-reads are parquet reads it caches, in
    cache mode the connected components' last localCheckpoint (closure
    and final) joins the stage caches. So release() alone leaves only the
    RDDs cached before the run."""
    files_df, _, pairs_df = tiny_tables
    files_df.count(), pairs_df.count()

    def cached_rdds() -> set:
        return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached_rdds()
    workdir = str(tmp_path) if mode == "checkpoint" else None
    r = P.run_er_pipeline(spark, files_df, pairs_df, workdir=workdir, config=P.ERConfig())
    r["labels"].count()
    r["runner"].release()
    assert cached_rdds() <= before


@pytest.mark.parametrize("mode", ["cache", "checkpoint"])
def test_schedule_follows_stage_table(spark, pipeline_result, tiny_tables, tmp_path, mode):
    """Every stage's wall start/end, pool and resumed flag are in
    runner.manifests in both modes, and the schedule is the one STAGES
    implies: each stage starts after every stage it reads has ended, and
    with a workdir too the closure overlaps the corpus stages (it reads
    only the sources)."""
    files_df, _, pairs_df = tiny_tables
    if mode == "cache":
        r = pipeline_result
    else:
        cfg = P.ERConfig(self_train=False)
        r = P.run_er_pipeline(spark, files_df, pairs_df, workdir=str(tmp_path), config=cfg)
    m = r["runner"].manifests
    assert set(m) == set(P.STAGES)
    for stage, (reads, _) in P.STAGES.items():
        assert {"start", "end", "pool", "resumed"} <= set(m[stage]), stage
        assert m[stage]["resumed"] is False
        assert m[stage]["start"] <= m[stage]["end"]
        assert m[stage]["pool"] == P.POOLS.get(stage, stage)
        for read in set(reads) & set(P.STAGES):
            assert m[stage]["start"] >= m[read]["end"], (stage, read)
    assert m["closure"]["start"] < m["prep"]["end"]
    if mode == "checkpoint":
        r["runner"].release()


def test_stage_failure_stops_the_schedule(spark):
    """An exception in one stage propagates out of run_stages once the
    running stages end: no stage that reads the failed one starts, and no
    worker thread is left behind."""
    import threading

    from bigdataentityresolution_spark.plans.checkpoint import StageRunner

    started = []

    def stage(name):
        def build(outs):
            started.append(name)
            return spark.range(3)

        return build

    def failing(outs):
        raise RuntimeError("postings failed")

    builders = {s: stage(s) for s in ("signatures", "top_vocab", "prep", "closure")}
    builders["postings"] = failing
    runner = StageRunner(spark, None)
    with pytest.raises(RuntimeError, match="postings failed"):
        P.run_stages(runner, builders, dict.fromkeys(builders, ""))
    runner.release()
    assert "top_vocab" not in started and "prep" not in started
    assert {"signatures", "closure"} <= set(started)
    assert not [t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")]


def test_stage_fingerprint_cascade():
    """A change of one input changes the fingerprints of exactly the
    stages that read it and their descendants (pure Python, no Spark)."""
    sources = {"files": [100, 7, 9], "labels": [40, 3, 5]}
    default = P.stage_fingerprints(P.ERConfig(), sources)
    assert len(default) == 11 and len(set(default.values())) == 11
    everything = set(P.STAGES)
    sem_off = {"semantic_channel": False}
    # (base config fields, changed fields, changed source, changed stages)
    cases = [
        ({}, {"edge_override_jaccard_min": 0.2}, {}, {"cluster"}),
        ({}, {"self_train": False}, {}, {"cluster"}),
        ({}, {"sig_prefilter": 0.2}, {}, {"cand_features", "cluster"}),
        ({}, {"sig_prefilter": None}, {}, {"cand_features", "cluster"}),
        (sem_off, {"sig_prefilter": 0.2}, {}, {"cand_features", "cluster"}),
        ({}, sem_off, {}, {"sem_candidates", "cand_features", "cluster"}),
        ({}, {"bands": 16}, {}, {"blocking", "candidates", "cand_features", "cluster"}),
        ({}, {"num_perm": 32, "bands": 16}, {}, everything - {"postings", "top_vocab", "closure"}),
        ({}, {}, {"files": [100, 7, 10]}, everything),
        ({}, {}, {"labels": [40, 4, 5]}, {"closure", "train_features", "cluster"}),
    ]
    for base_fields, fields, source, expected in cases:
        base = P.stage_fingerprints(P.ERConfig(**base_fields), sources)
        got = P.stage_fingerprints(
            P.ERConfig(**base_fields, **fields), {**sources, **source}
        )
        assert {s for s in base if got[s] != base[s]} == expected, (base_fields, fields, source)


RESUME_CFG = P.ERConfig(self_train=False)


@pytest.fixture(scope="module")
def base_workdir(spark, tiny_tables, tmp_path_factory):
    """A workdir holding every checkpoint of one RESUME_CFG run; tests
    copy it, so each starts from the same complete state."""
    files_df, _, pairs_df = tiny_tables
    wd = str(tmp_path_factory.mktemp("ckpt_base"))
    P.run_er_pipeline(spark, files_df, pairs_df, workdir=wd, config=RESUME_CFG)
    return wd


def _copy_workdir(base, tmp_path) -> str:
    wd = str(tmp_path / "ckpt")
    shutil.copytree(base, wd)
    return wd


@pytest.mark.parametrize(
    "change, rerun",
    [
        ({"sig_prefilter": 0.2}, {"cand_features", "cluster"}),
        ({"edge_override_jaccard_min": 0.2}, {"cluster"}),
    ],
    ids=["sig_prefilter", "edge_override_jaccard_min"],
)
def test_resume_invalidates_on_config_change(
    spark, tiny_tables, base_workdir, tmp_path, change, rerun
):
    files_df, _, pairs_df = tiny_tables
    wd = _copy_workdir(base_workdir, tmp_path)
    cfg = dataclasses.replace(RESUME_CFG, **change)
    r = P.run_er_pipeline(spark, files_df, pairs_df, workdir=wd, config=cfg)
    assert _resumed(r) == set(P.STAGES) - rerun
    if "edge_override_jaccard_min" in change:
        fresh = P.run_er_pipeline(spark, files_df, pairs_df, workdir=None, config=cfg)
        assert _sorted_labels(r) == _sorted_labels(fresh)
        fresh["runner"].release()


def test_resume_follows_input(spark, tiny_tables, base_workdir, tmp_path):
    """Checkpoints are keyed by input content: a different corpus run
    into the same workdir resumes nothing and labels exactly its own
    files; one changed content row reruns every stage."""
    from bigdataentityresolution_spark.sources.synthetic import corpus_to_spark, generate_corpus

    files_df, _, pairs_df = tiny_tables
    files_b, _, pairs_b = corpus_to_spark(spark, generate_corpus(30, n_unrelated=30, seed=2))
    wd = _copy_workdir(base_workdir, tmp_path)
    r = P.run_er_pipeline(spark, files_b, pairs_b, workdir=wd, config=RESUME_CFG)
    assert _resumed(r) == set()
    ids_b = sorted(row["spec_id"] for row in files_b.select("spec_id").collect())
    assert sorted(row["spec_id"] for row in r["labels"].select("spec_id").collect()) == ids_b

    one_id = files_df.agg(F.min("spec_id")).first()[0]
    tampered = files_df.withColumn(
        "content",
        F.when(F.col("spec_id") == one_id, F.concat("content", F.lit("x")))
        .otherwise(F.col("content")),
    )
    wd2 = _copy_workdir(base_workdir, tmp_path / "tampered")
    r2 = P.run_er_pipeline(spark, tampered, pairs_df, workdir=wd2, config=RESUME_CFG)
    assert _resumed(r2) == set()
    assert set(r2["runner"].manifests) == set(P.STAGES)


@pytest.mark.parametrize("case", ["one_stage", "whole_workdir"])
def test_checkpoint_written_by_older_code_recomputes(
    spark, tiny_tables, base_workdir, tmp_path, case
):
    """Older code recorded a stage's schema as a simpleString and none in
    CC round manifests. Such a manifest is not complete, so its stage
    recomputes once, with the same labels. With one such stage, its
    readers resume (their manifests are complete under unchanged
    fingerprints); a workdir older code wrote whole reruns every stage,
    and its CC rounds start again from round 0."""
    files_df, _, pairs_df = tiny_tables
    wd = _copy_workdir(base_workdir, tmp_path)
    old = {"candidates"} if case == "one_stage" else set(P.STAGES)
    for stage in old:
        base = os.path.join(wd, stage)
        m = CK.read_manifest(base)
        with open(os.path.join(base, CK.MANIFEST), "w") as f:
            json.dump({**m, "schema": CK.read_data(spark, base, m).schema.simpleString()}, f)
    if case == "whole_workdir":
        for mpath in glob.glob(os.path.join(wd, "cc_*", "round_*", CK.MANIFEST)):
            with open(mpath) as f:
                m = json.load(f)
            with open(mpath, "w") as f:
                json.dump({k: v for k, v in m.items() if k != "schema"}, f)
    assert not any(CK.read_manifest(os.path.join(wd, s)) for s in old)

    r = P.run_er_pipeline(spark, files_df, pairs_df, workdir=wd, config=RESUME_CFG)
    assert _resumed(r) == set(P.STAGES) - old
    rounds = glob.glob(os.path.join(wd, "cc_*", "round_*"))
    assert rounds and all(CK.read_manifest(d) for d in rounds)
    cluster = os.path.join(base_workdir, "cluster")
    expected = CK.read_data(spark, cluster, CK.read_manifest(cluster))
    assert _sorted_labels(r) == sorted(map(tuple, expected.collect()))
    r["runner"].release()


def _degenerate_inputs(case, files_df, pairs_df):
    if case == "empty_corpus":
        return files_df.limit(0), pairs_df.limit(0)
    if case == "no_labels":
        return files_df, pairs_df.limit(0)
    if case == "positives_only":
        return files_df, pairs_df.filter(F.col("label") == 1)
    # no doc has a token, so every vocab map comes from doc_state's
    # empty-map fill ("x x x x" would not do: er_vocab falls back to the
    # unpruned vocab, which keeps "x" at idf 0)
    return files_df.withColumn("content", F.lit("- - - -")), pairs_df


@pytest.mark.parametrize(
    "case", ["empty_corpus", "no_labels", "positives_only", "empty_vocab"]
)
def test_degenerate_inputs(spark, tiny_tables, case):
    """Degenerate inputs give defined results, not a failure deep in a plan."""
    files_df, _, pairs_df = tiny_tables
    files_in, pairs_in = _degenerate_inputs(case, files_df, pairs_df)
    cfg = P.ERConfig(self_train=False)
    r = P.run_er_pipeline(spark, files_in, pairs_in, workdir=None, config=cfg)
    bars = {g.name: g.bar for g in r["gates"]}
    n_labels = r["labels"].count()
    if case == "empty_corpus":
        assert n_labels == 0
        assert bars == {"floors": 0.5, "override": 0.99, "semantic": 0.99}
    else:
        assert n_labels == files_df.count()
    if case == "positives_only":
        assert bars["override"] == bars["semantic"] == 0.99
    if case == "empty_vocab":
        scored = r["scored"]
        assert scored.count() > 0
        assert scored.filter(F.col("f_vocab_cov") != 0).count() == 0
    r["runner"].release()


def test_semantic_channel_without_prefilter(spark, tiny_tables):
    """sig_prefilter=None with the semantic channel on: every lexical
    candidate is featurized and the run still reaches labels."""
    files_df, _, pairs_df = tiny_tables
    cfg = P.ERConfig(sig_prefilter=None, self_train=False)
    r = P.run_er_pipeline(spark, files_df, pairs_df, workdir=None, config=cfg)
    assert r["labels"].count() == files_df.count()
    r["runner"].release()


@pytest.mark.parametrize(
    "kwargs",
    [
        # num_perm and bands: ints of at least 1, and bands divides num_perm
        {"num_perm": 64, "bands": 30},
        {"bands": 0},
        {"num_perm": 0},
        {"bands": "4"},
        {"num_perm": 64.0, "bands": 32.0},
        {"num_perm": 64.0},
        {"bands": 32.0},
        {"bands": True},
        {"num_perm": "64"},
        {"num_perm": None},
        # sig_prefilter: None (off) or a number in [0, 1]
        {"sig_prefilter": float("nan")},
        {"sig_prefilter": True},
        {"sig_prefilter": False},
        {"sig_prefilter": "auto"},
        {"sig_prefilter": "0.12"},
        {"sig_prefilter": float("inf")},
        # edge_override_jaccard_min: a number in [0, 1], never None
        {"edge_override_jaccard_min": 2.0},
        {"edge_override_jaccard_min": None},
        {"edge_override_jaccard_min": "auto"},
        {"edge_override_jaccard_min": True},
        {"edge_override_jaccard_min": float("-inf")},
        # the switches: bools only
        {"self_train": "no"},
        {"self_train": 1},
        {"self_train": 0},
        {"self_train": None},
        {"self_train": "auto"},
        {"semantic_channel": None},
        {"semantic_channel": 1},
        {"semantic_channel": "yes"},
        {"semantic_channel": 0.0},
    ],
)
def test_erconfig_rejects_invalid(kwargs):
    with pytest.raises(ValueError):
        P.ERConfig(**kwargs)


def test_erconfig_settable_fields():
    """ERConfig holds the six settings a caller varies; the rest are
    constants, read as config.x and named in the stage table."""
    assert [f.name for f in dataclasses.fields(P.ERConfig)] == [
        "num_perm", "bands", "sig_prefilter", "self_train",
        "edge_override_jaccard_min", "semantic_channel",
    ]
    cfg = P.ERConfig()
    assert (cfg.shingle_n, cfg.seed, cfg.per_block_cap) == (2, 42, 64)
    # cluster's fingerprint reads the constants too
    assert len(P.STAGES["cluster"][1]) == 22
    with pytest.raises(TypeError):
        P.ERConfig(per_block_cap=32)


# Values a caller may pass by mistake: out of range, NaN, ±inf, None,
# strings, bools, and floats where an int belongs.
_ODD = st.sampled_from(
    [0, -1, 2, 2.5, 64.0, float("nan"), float("inf"), float("-inf"), None,
     "auto", "4", "", True, False]
)
_DECLARED = {
    "int": st.sampled_from([1, 2, 16, 32, 64, 96]) | st.integers(1, 200),
    "bool": st.booleans(),
    "float": st.floats(0, 1),
    "float | None": st.none() | st.floats(0, 1),
}


def test_config_space():
    """Every ERConfig either raises ValueError at construction or is
    accepted, and an accepted one gives all 11 stage fingerprints, None
    exactly for sem_candidates when the channel is off (no Spark)."""
    sources = {"files": [100, 7, 9], "labels": [40, 3, 5]}
    seen = {"accepted": 0, "rejected": 0}

    names = [f.name for f in dataclasses.fields(P.ERConfig)]

    # each field from its declared type, then up to two of them odd
    @settings(max_examples=600, derandomize=True, database=None, deadline=None)
    @given(
        st.fixed_dictionaries({f.name: _DECLARED[f.type] for f in dataclasses.fields(P.ERConfig)}),
        st.dictionaries(st.sampled_from(names), _ODD, max_size=2),
    )
    def check(declared, odd):
        kwargs = {**declared, **odd}
        try:
            cfg = P.ERConfig(**kwargs)
        except ValueError:
            seen["rejected"] += 1
            return
        seen["accepted"] += 1
        fps = P.stage_fingerprints(cfg, sources)
        assert set(fps) == set(P.STAGES)
        off = set() if cfg.semantic_channel else {"sem_candidates"}
        assert {s for s, v in fps.items() if v is None} == off
        assert all(isinstance(v, str) and len(v) == 16 for s, v in fps.items() if s not in off)

    check()
    assert seen["accepted"] > 100 and seen["rejected"] > 100, seen


def _gate_table(spark, config, thr, calibrated):
    """edge_gates(config) with the threshold and each calibrated bar
    pinned (no calibration evidence needed), bars built as edge_gates
    builds them: floors at ``thr``, every other gate at max(thr, its
    ``calibrated`` bar). The regions come from the config."""
    from bigdataentityresolution_spark.operators import scoring as S

    labeled = spark.createDataFrame(
        [], "label int, f_cosine double, f_jaccard double, f_lev double, f_vocab_cov int"
    )
    gates = P.edge_gates(config, labeled, S.LRModel(weights=(0.0, 0.0, 0.0), bias=0.0))
    return [
        g._replace(bar=thr if g.name == "floors" else max(thr, calibrated[g.name])) for g in gates
    ]


def _paths(spark, gates, rows):
    """accept_path(gates) of each (f_cosine, f_jaccard, f_vocab_cov, proba)."""
    df = spark.createDataFrame(
        [r[:4] for r in rows], "f_cosine double, f_jaccard double, f_vocab_cov int, proba double"
    )
    return [r["path"] for r in df.select(P.accept_path(gates).alias("path")).collect()]


def test_accept_path_gate_table(spark):
    # Pinned bars, so the table reads only the regions and the bars:
    # floors cos 0.5 / jacc 0.45, bar thr 0.3; override jacc 0.12, cos
    # 0.35, bar 0.9; semantic cos 0.35, bar 0.85 (dropped with the
    # channel off).
    calibrated = {"override": 0.9, "semantic": 0.85}
    with_sem = _gate_table(spark, P.ERConfig(), 0.3, calibrated)
    no_sem = _gate_table(spark, P.ERConfig(semantic_channel=False), 0.3, calibrated)
    assert [(g.name, g.bar) for g in with_sem] == [
        ("floors", 0.3), ("override", 0.9), ("semantic", 0.85)
    ]
    assert [g.name for g in no_sem] == ["floors", "override"]
    # (f_cosine, f_jaccard, f_vocab_cov, proba, path, path without semantic)
    rows = [
        (0.6, 0.5, 5, 0.5, "floors", "floors"),          # inside floors
        (0.6, 0.5, 5, 0.3, "floors", "floors"),          # floors at thr
        (0.6, 0.5, 5, 0.2999, None, None),               # floors just below thr
        (0.5, 0.45, 5, 0.5, "floors", "floors"),         # exactly at both floors
        (0.4999, 0.5, 5, 0.5, None, None),               # cosine just below floor
        (0.6, 0.4499, 5, 0.5, None, None),               # jaccard just below floor
        (0.0, 0.5, 0, 0.5, "floors", "floors"),          # vocab-empty exemption
        (0.0, 0.5, 3, 0.99, None, None),                 # cos 0 but vocab not empty
        (0.6, 0.5, 5, 0.95, "floors", "floors"),         # floors and override: first wins
        (0.0, 0.2, 0, 0.9, "override", "override"),      # override at its bar
        (0.0, 0.2, 0, 0.8999, None, None),               # override just below its bar
        (0.4, 0.1199, 5, 0.95, "semantic", None),        # jaccard just outside override
        (0.4, 0.2, 5, 0.95, "override", "override"),     # override and semantic
        (0.35, 0.05, 5, 0.85, "semantic", None),         # semantic at its bar
        (0.35, 0.05, 5, 0.8499, None, None),             # semantic just below its bar
        (0.3499, 0.05, 5, 0.99, None, None),             # cosine just outside semantic
    ]
    for gates, col in ((with_sem, 4), (no_sem, 5)):
        assert _paths(spark, gates, rows) == [r[col] for r in rows]

    # A calibrated bar below thr is raised to it: at thr 0.95 the
    # override and semantic pairs need proba 0.95, not their 0.9 / 0.85.
    high = _gate_table(spark, P.ERConfig(), 0.95, calibrated)
    assert [g.bar for g in high] == [0.95, 0.95, 0.95]
    rows = [
        (0.0, 0.2, 0, 0.95, "override"),     # override at thr
        (0.0, 0.2, 0, 0.9499, None),         # clears its calibrated 0.9, not thr
        (0.35, 0.05, 5, 0.95, "semantic"),   # semantic at thr
        (0.35, 0.05, 5, 0.9, None),          # clears its calibrated 0.85, not thr
        (0.6, 0.5, 5, 0.95, "floors"),       # floors at thr
        (0.6, 0.5, 5, 0.9499, None),         # floors just below thr
    ]
    assert _paths(spark, high, rows) == [r[4] for r in rows]


def test_gate_calibration_uses_acceptance_region(spark):
    """A bar is calibrated over its gate's own region: a labeled
    negative with f_cosine == 0 but a non-empty vocab projection is
    outside the override region (acceptance exempts only f_vocab_cov ==
    0), so it grants no evidence and the bar stays at its 0.99 cap."""
    from bigdataentityresolution_spark.operators import scoring as S

    m_low = S.LRModel(weights=(-8.0, -8.0, 0.0), bias=-4.0)
    schema = "label int, f_cosine double, f_jaccard double, f_lev double, f_vocab_cov int"
    cfg = P.ERConfig(semantic_channel=False)
    pos = [(1, 0.9, 0.8, 0.1, 5)] * 10

    def override_bar(vocab_cov):
        df = spark.createDataFrame([(0, 0.0, 0.3, 0.5, vocab_cov)] * 160 + pos, schema)
        return {g.name: g.bar for g in P.edge_gates(cfg, df, m_low)}["override"]

    assert override_bar(3) == 0.99
    assert override_bar(0) == 0.8
