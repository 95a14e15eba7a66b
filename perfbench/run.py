#!/usr/bin/env python3
"""Benchmark of the ER engine (blocking -> scoring -> clustering) on
generated corpora.

    python3 perfbench/run.py --workload std_ckpt --seed 1 --seconds 6 --trace 0

Run it from the repository root. One process is one closed-loop client
with one request in flight: it starts one Spark session on
``local[$(nproc)]``, times ``setup_s``, then runs the workload's timed
reps one after another and checks every output.

- ``std_ckpt``: ``run_er_pipeline`` with a checkpoint ``workdir``. A
  first, untimed run in the fresh JVM writes every stage checkpoint and
  compiles every plan shape. Then each timed rep is a partial resume:
  the manifests of the four stages after candidate generation
  (``closure``, ``train_features``, ``cand_features``, ``cluster``) and
  the connected-components round state are deleted, as after a crash
  there, and the pipeline is run again. It must reuse the other seven
  stages and reproduce the first run's labels. Reps follow until they add
  up to ``--seconds`` (one at least).
- ``candidates``: the pipeline's first two stages (MinHash signatures,
  then LSH band candidates with est-Jaccard) through the same
  ``StageRunner`` in cache mode, on a corpus 2.5 times larger. The
  cold rep and six more let the JIT settle; measured reps follow until
  they add up to ``--seconds`` (three at least).

``cpu_s`` is the median CPU time of the measured reps (the JVM, its
Python workers and this process); ``setup_s`` the median of three
set-ups. Wall time is reported by the traced run (``pipeline.wall_s``,
again the median of the untraced measured reps) and not bounded: on a
shared host, minutes-long episodes of hypervisor steal stretch it far
more than they move CPU time.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Lines before it that start with
``#`` are diagnostics: host record per rep, quality, and the output hash
(``labels_sha``: sha256 of the sorted (spec_id, cluster_id) rows), which
a change meant to keep behaviour can compare across commits.

``--trace 1`` wraps the engine's entry points from outside (see
tracing.py), forces each stage's output inside its span, turns on the
Spark event log, and traces the first run of ``std_ckpt`` (so all 11
stages run inside their spans) or one extra rep of ``candidates``. Workload
parameters and the measurements behind them are in workloads.json.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import metrics as M
import workloads as W
from tracing import (
    HostWindow,
    Tracer,
    fold_event_log,
    interval_union,
    read_event_log,
    self_cpu_s,
    tree_cpu_s,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
DRIVER_MEM = "2g"
WARMUP_REPS = 6
MEASURED_REPS_MIN = 3
RESUME_REPS_MIN = 1
# a partial resume reruns these stages and reuses every other one
RERUN_STAGES = ("closure", "train_features", "cand_features", "cluster")
LABELED_PAIR_F1_MIN = 0.99


def _env(work: str, trace: bool) -> None:
    """Keep every file the run writes inside the checkout."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(work, "eventlog")


def _say(tag: str, obj) -> None:
    print(f"# {tag} " + json.dumps(obj, sort_keys=True), flush=True)


def _du_mb(path: str) -> float:
    total = 0
    for d, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total / 2**20


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def rows_sha(df, cols: tuple[str, str]) -> str:
    """sha256 of the sorted rows of a two-column relation."""
    rows = sorted((r[cols[0]], r[cols[1]]) for r in df.select(*cols).collect())
    h = hashlib.sha256()
    for a, b in rows:
        h.update(f"{a}\t{b}\n".encode())
    return h.hexdigest()


def true_pairs(truth):
    from pyspark.sql import functions as F

    return (
        truth.select(F.col("spec_id").alias("a"), "cluster_id")
        .join(truth.select(F.col("spec_id").alias("b"), "cluster_id"), "cluster_id")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )


class Session:
    """The Spark session plus the cached corpus tables."""

    def __init__(self, cdir: str, trace: bool):
        self.cdir = cdir
        self.trace = trace
        self.spark = None
        self.setup_s: list[float] = []
        self.start_s: list[float] = []

    def setup(self) -> None:
        """get_spark + read the parquet corpus + materialize its cache.
        A repeat stops the previous session first."""
        from bigdataentityresolution_spark.session import get_spark

        if self.spark is not None:
            self.spark.catalog.clearCache()
            self.spark.stop()
        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.trace:
            conf["spark.eventLog.compress"] = "false"  # the fold reads plain JSON
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        self.load()
        t2 = time.perf_counter()
        self.start_s.append(t1 - t0)
        self.setup_s.append(t2 - t0)
        self.app_id = self.spark.sparkContext.applicationId

    def load(self) -> None:
        read = self.spark.read.parquet
        self.files = read(os.path.join(self.cdir, "files")).cache()
        self.pairs = read(os.path.join(self.cdir, "pairs")).cache()
        self.truth = read(os.path.join(self.cdir, "truth")).cache()
        self.n_files = self.files.count()
        self.pairs.count()
        self.truth.count()

    def reset(self) -> None:
        """Drop every cached relation a rep left behind (the pipeline
        caches some stage outputs outside its runner), then cache the
        corpus again, so the next rep reuses nothing."""
        self.spark.catalog.clearCache()
        self.load()

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def timed(sess: Session, body) -> dict:
    """One timed rep of ``body`` (which forces its final output). CPU is
    the JVM's process tree (with its Python workers) plus this process;
    the host record covers the same window."""
    pid = sess.jvm_pid()
    store0 = _storage_mb(sess.spark)
    host = HostWindow()
    cpu0 = tree_cpu_s(pid) + self_cpu_s()
    t0 = time.time()
    out = body()
    wall = time.time() - t0
    return {
        "wall_s": wall,
        "cpu_s": tree_cpu_s(pid) + self_cpu_s() - cpu0,
        "t0": t0,
        "cached_mb": _storage_mb(sess.spark) - store0,
        "host": host.close(),
        **out,
    }


def pipeline_body(sess: Session, workdir: str | None):
    from bigdataentityresolution_spark.plans.pipeline import ERConfig, run_er_pipeline

    def body():
        result = run_er_pipeline(sess.spark, sess.files, sess.pairs, workdir=workdir,
                                 config=ERConfig())
        n_clusters = result["labels"].select("cluster_id").distinct().count()
        return {"result": result, "n_clusters": n_clusters}

    return body


def candidates_body(sess: Session):
    """The pipeline's signatures and candidates stages, with the
    pipeline's default config, through a cache-mode StageRunner."""
    from pyspark.sql import functions as F

    from bigdataentityresolution_spark.functions.text import tokenize
    from bigdataentityresolution_spark.operators import blocking as B
    from bigdataentityresolution_spark.plans.checkpoint import StageRunner
    from bigdataentityresolution_spark.plans.pipeline import ERConfig

    cfg = ERConfig()

    def body():
        runner = StageRunner(sess.spark, None)
        sigs = runner.run("signatures", lambda: B.minhash_signatures_df(
            sess.files, id_col="spec_id", text_col="content", shingle_n=cfg.shingle_n,
            num_perm=cfg.num_perm, seed=cfg.seed, tokenizer=tokenize("content"),
        ))
        cands = runner.run("candidates", lambda: B.candidate_pairs_with_est(
            sigs, bands=cfg.bands, num_perm=cfg.num_perm, per_block_cap=cfg.per_block_cap,
        ))
        # the pairs the pipeline goes on to featurize
        survivors = cands.filter(F.col("est_j") >= F.lit(float(cfg.sig_prefilter)))
        return {"result": {"runner": runner, "candidates": cands, "survivors": survivors},
                "n_survivors": survivors.count()}

    return body


def output_counts(sess: Session, result: dict) -> dict:
    """Candidate counts of one rep and how many true pairs they hold:
    the pipeline's channel union, or the lexical candidates alone."""
    tp = true_pairs(sess.truth).cache()
    n_true = max(tp.count(), 1)
    cand = result.get("candidates_all", result["candidates"]).cache()
    n_union = cand.count()
    n_in = cand.join(tp, ["a", "b"], "left_semi").count()
    out = {
        "blocking.candidates_lexical": result["candidates"].count(),
        "blocking.candidates_union": n_union,
        "blocking.pair_completeness": n_in / n_true,
        "blocking.pair_yield": n_in / max(n_union, 1),
    }
    if result.get("sem_candidates") is not None:
        out["blocking.candidates_semantic"] = result["sem_candidates"].count()
    cand.unpersist()
    tp.unpersist()
    return out


def release(rep: dict) -> None:
    result = rep.pop("result", None)
    if result is not None:
        result["runner"].release()
        if "train_pairs" in result:
            result["train_pairs"].unpersist()


def quality(sess: Session, labels) -> dict:
    from bigdataentityresolution_spark.plans.pipeline import labeled_pair_f1, pairwise_f1

    m = pairwise_f1(labels, sess.truth)
    lm = labeled_pair_f1(labels, sess.pairs)
    return {
        "quality.pairwise_precision": m["precision"],
        "quality.pairwise_recall": m["recall"],
        "quality.pairwise_f1": m["f1"],
        "quality.labeled_pair_f1": lm["f1"],
    }


class Run:
    """Bookkeeping of one benchmark run: reps attempted and failed,
    failed checks, and the per-layer values the protocol measured."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}

    def attempt(self, fn):
        """One rep: fn()'s value, or None after counting a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=4))
            return None

    def checks(self, *results: tuple[bool, str]) -> None:
        """Checks of one rep; any failure fails the rep."""
        bad = [what for ok, what in results if not ok]
        self.errors += bad
        self.failed += 1 if bad else 0


def drop_after_candidates(sess: Session, workdir: str) -> None:
    """Leave the checkpoints as a crash after candidate generation would:
    no manifest for the stages after it, no connected-components state."""
    from bigdataentityresolution_spark.plans.checkpoint import StageRunner

    runner = StageRunner(sess.spark, workdir)
    for stage in RERUN_STAGES:
        runner.invalidate(stage)
    for cc_dir in glob.glob(os.path.join(workdir, "cc_*")):
        shutil.rmtree(cc_dir)


def run_std_ckpt(args, sess: Session, run: Run, corpus: dict, work: str, tracer) -> dict:
    workdir = os.path.join(work, "ckpt")
    expected = W.expected_clusters(corpus)
    if tracer is not None:
        tracer.install()  # per-layer stage numbers come from the first run
    first = run.attempt(lambda: timed(sess, pipeline_body(sess, workdir)))
    if tracer is not None:
        tracer.uninstall()
    if first is None:
        return {"reps": [], "measured": []}
    first["out_sha"] = rows_sha(first["result"]["labels"], ("spec_id", "cluster_id"))
    first["checkpoint_mb"] = _du_mb(workdir)
    q = quality(sess, first["result"]["labels"])
    run.checks(
        (first["n_clusters"] == expected, f"n_clusters {first['n_clusters']} != {expected}"),
        (q["quality.labeled_pair_f1"] >= LABELED_PAIR_F1_MIN,
         f"labeled_pair_f1 {q['quality.labeled_pair_f1']} < {LABELED_PAIR_F1_MIN}"),
    )
    run.layer.update(q)
    run.layer["checkpoint.mb"] = first["checkpoint_mb"]
    _say("first", {k: v for k, v in first.items() if k != "result"})
    _say("quality", q)
    if tracer is not None:
        run.layer.update(output_counts(sess, first["result"]))

    reused = set(M.STAGE_LAYER) - set(RERUN_STAGES)
    resumes: list[dict] = []
    prev = first
    while len(resumes) < RESUME_REPS_MIN or sum(r["wall_s"] for r in resumes) < args.seconds:
        release(prev)
        sess.reset()
        drop_after_candidates(sess, workdir)
        res = run.attempt(lambda: timed(sess, pipeline_body(sess, workdir)))
        if res is None:
            break
        res["out_sha"] = rows_sha(res["result"]["labels"], ("spec_id", "cluster_id"))
        resumed = {s for s, m in res["result"]["runner"].manifests.items() if m.get("resumed")}
        run.checks(
            (res["out_sha"] == first["out_sha"],
             "labels_sha differs between the first run and a partial resume"),
            (resumed == reused, f"partial resume reused {sorted(resumed)}, not {sorted(reused)}"),
        )
        _say("rep", {k: v for k, v in res.items() if k != "result"})
        resumes.append(res)
        prev = res
    if resumes:
        run.layer["checkpoint.resumed_stages"] = len(resumed)
        run.layer["checkpoint.resume_s"] = statistics.median(r["wall_s"] for r in resumes)
    return {"reps": [first] + resumes, "measured": resumes, "traced": first}


def run_candidates(args, sess: Session, run: Run, corpus: dict, work: str, tracer) -> dict:
    reps: list[dict] = []

    def one_rep() -> bool:
        if reps:
            release(reps[-1])
        rep = run.attempt(lambda: timed(sess, candidates_body(sess)))
        if rep is None:
            return False
        rep["out_sha"] = rows_sha(rep["result"]["survivors"], ("a", "b"))
        run.checks((not reps or rep["out_sha"] == reps[0]["out_sha"],
                    "candidate pairs differ between reps"))
        _say("rep", {k: v for k, v in rep.items() if k != "result"})
        reps.append(rep)
        return True

    # the cold rep and WARMUP_REPS more let the JIT settle; measured reps
    # follow until they add up to --seconds, MEASURED_REPS_MIN at least
    warm = 1 + WARMUP_REPS
    while (
        len(reps) < warm + MEASURED_REPS_MIN or sum(r["wall_s"] for r in reps[warm:]) < args.seconds
    ) and one_rep():
        pass
    measured = reps[warm:]
    if tracer is not None and measured:
        # one more rep, traced, to compare with the untraced warm ones
        tracer.install()
        one_rep()
        tracer.uninstall()
    if reps:
        # share of true pairs the lexical channel keeps above the prefilter
        tp = true_pairs(sess.truth)
        n_in = reps[-1]["result"]["survivors"].join(tp, ["a", "b"], "left_semi").count()
        completeness = n_in / max(tp.count(), 1)
        _say("quality", {"survivor_pair_completeness": completeness})
        if tracer is not None:
            run.layer.update(output_counts(sess, reps[-1]["result"]))
        run.checks((completeness >= W.CANDIDATE_COMPLETENESS_MIN,
                    f"pair_completeness {completeness} < {W.CANDIDATE_COMPLETENESS_MIN}"))
    return {"reps": reps, "measured": measured,
            "traced": reps[-1] if tracer is not None and measured else None}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import bigdataentityresolution_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    spec = W.load()
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    _env(work, bool(args.trace))
    try:
        return measure(args, spec, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: close the py4j
    client first (so nothing talks to the JVM at interpreter exit), then
    the gateway process exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure(args, spec: dict, work: str) -> int:
    wl = spec["workloads"][args.workload]
    corpus = spec["corpora"][wl["corpus"]]
    cdir = W.ensure_corpus(wl["corpus"], corpus, args.seed)
    sess = Session(cdir, bool(args.trace))
    for _ in range(SETUP_REPS):
        sess.setup()
    _say("setup", {"setup_s": sess.setup_s, "start_s": sess.start_s, "n_files": sess.n_files})

    run = Run()
    tracer = Tracer(sess.spark) if args.trace else None
    protocol = run_std_ckpt if wl["kind"] == "pipeline" else run_candidates
    try:
        out = protocol(args, sess, run, corpus, work, tracer)
    except Exception:  # a check that raised: the run reports a failure
        run.failed += 1
        run.errors.append(traceback.format_exc(limit=4))
        out = {"reps": [], "measured": []}
    reps, measured, traced = out["reps"], out["measured"], out.get("traced")
    ok = bool(measured) and (tracer is None or traced is not None)

    metrics: dict[str, float] = {}
    if ok:
        sha_key = "labels_sha" if wl["kind"] == "pipeline" else "candidate_pairs_sha"
        _say("output", {"workload": args.workload, "seed": args.seed,
                        sha_key: reps[0]["out_sha"], "first_run_s": reps[0]["wall_s"],
                        "wall_s": statistics.median(r["wall_s"] for r in measured)})
        if tracer is not None:
            metrics = layer_metrics(sess, tracer, traced, measured, run)
        else:
            metrics = {
                "cpu_s": statistics.median(r["cpu_s"] for r in measured),
                "setup_s": statistics.median(sess.setup_s),
            }
    for r in reps:
        release(r)
    sess.spark.stop()
    if tracer is not None and ok:
        metrics.update(fold_metrics(tracer, work, sess, traced))
    names = [n for n, *_ in (M.PER_LAYER if tracer is not None else M.END_TO_END)]
    for e in run.errors:
        print("# error " + e.replace("\n", "\n# "), flush=True)
    print(json.dumps({
        "correct": ok and not run.errors and run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed if ok else max(run.failed, 1),
        "metrics": {n: {"value": metrics[n], "unit": M.UNITS[n]} for n in names if n in metrics},
    }), flush=True)
    return 0


def _rep_spans(tracer, rep: dict) -> list[dict]:
    t0, t1 = rep["t0"] - 1e-3, rep["t0"] + rep["wall_s"] + 1e-3
    return [s for s in tracer.spans if s["start"] >= t0 and s["end"] <= t1]


def layer_metrics(sess: Session, tracer, rep: dict, untraced: list[dict], run: Run) -> dict:
    """Per-layer metrics of the traced rep ``rep`` (spans, operator calls,
    counts); 0 for a layer the workload does not run. ``untraced`` are
    the workload's measured reps, for the tracing overhead."""

    out = {name: 0.0 for name, *_ in M.PER_LAYER}
    out.update(run.layer)
    spans = _rep_spans(tracer, rep)
    stages = {s["name"]: s for s in spans if s["kind"] == "stage"}
    for name, s in stages.items():
        layer = M.STAGE_LAYER[name]
        out[f"{layer}.{name}.s"] = s["end"] - s["start"]
        out[f"{layer}.{name}.rows"] = s["rows"]
    ops: dict[str, list] = {}
    for s in spans:
        if s["kind"] == "op":
            ops.setdefault(s["name"], []).append(s["end"] - s["start"])
    for name in ("scoring.fit_lr_newton", "scoring.calibrate", "clustering.connected_components"):
        out[f"{name}.s"] = sum(ops.get(name, []))
    out["scoring.fit_lr_newton.calls"] = len(ops.get("scoring.fit_lr_newton", []))
    out["clustering.cc_rounds"] = tracer.counts.get("cc_round", 0)

    featurized = stages["cand_features"]["rows"] if "cand_features" in stages else rep["n_survivors"]
    out["scoring.featurized_pairs"] = featurized
    out["scoring.prefilter_survival"] = featurized / max(out["blocking.candidates_union"], 1)
    out["scoring.train_pairs"] = stages["train_features"]["rows"] if "train_features" in stages else 0
    out["clustering.n_clusters"] = rep.get("n_clusters", 0)
    out["session.start_s"] = sess.start_s[0]
    out["sources.load_s"] = statistics.median(a - b for a, b in zip(sess.setup_s, sess.start_s))
    wall = statistics.median(r["wall_s"] for r in untraced)
    out["pipeline.wall_s"] = wall
    out["pipeline.files_per_s"] = sess.n_files / wall
    out["pipeline.traced_wall_s"] = rep["wall_s"]
    out["pipeline.driver_self_s"] = rep["wall_s"] - interval_union(
        [(s["start"], s["end"]) for s in spans]
    )
    if any(s["checkpointed"] for s in stages.values()):
        # checkpoint mode: StageRunner.run already wrote the stage, so
        # the forced count is a re-read the untraced run never does
        out["pipeline.trace_overhead_s"] = sum(s["force_s"] for s in stages.values())
    else:
        out["pipeline.trace_overhead_s"] = rep["wall_s"] - wall
    out["pipeline.cached_mb"] = rep["cached_mb"]
    return out


def fold_metrics(tracer, work: str, sess: Session, rep: dict) -> dict:
    """Task CPU, GC and shuffle bytes of the traced rep, per stage span."""

    events = read_event_log(os.path.join(work, "eventlog"), sess.app_id)
    window = (rep["t0"], rep["t0"] + rep["wall_s"])
    folded = fold_event_log(events, _rep_spans(tracer, rep), window)
    out = {}
    for name, layer in M.STAGE_LAYER.items():
        f = folded["stage"].get(name, {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0})
        out[f"{layer}.{name}.cpu_s"] = f["cpu_s"]
        out[f"{layer}.{name}.gc_s"] = f["gc_s"]
        out[f"{layer}.{name}.shuffle_mb"] = f["shuffle_mb"]
    out["pipeline.other.cpu_s"] = folded["other"]["cpu_s"]
    return out


if __name__ == "__main__":
    sys.exit(main())
