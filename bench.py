#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headliners:
- er_pipeline:    the flagship blocking → scoring → clustering run over a
                  deterministic synthetic source-code corpus (input_hint
                  shape, written to parquet first so Spark reads columnar
                  like production). Reports candidate-pairs/sec — the
                  BASELINE.json throughput metric.
- tfidf_flagship: TF-IDF top-terms query on documents.parquet
- dedup_minhash:  MinHash near-dup pairs on documents.parquet
- ann_lsh_topk:   LSH cosine top-k on embeddings.parquet
- tpch_q1:        generic OLAP agg on lineitem.parquet

Usage: python bench.py            # full bench, one JSON line on stdout
       python bench.py --er-only  # only the ER pipeline headliner
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_CLUSTERS = int(os.environ.get("SPARK_GRAFT_BENCH_CLUSTERS", "8000"))
BENCH_UNRELATED = int(os.environ.get("SPARK_GRAFT_BENCH_UNRELATED", "16000"))
CORPUS_DIR = os.environ.get(
    "SPARK_GRAFT_BENCH_CORPUS", f"/tmp/bench_corpus_c{BENCH_CLUSTERS}_u{BENCH_UNRELATED}"
)


def ensure_corpus(spark):
    """Materialize the synthetic corpus as parquet (once; deterministic)."""
    files_path = os.path.join(CORPUS_DIR, "files")
    pairs_path = os.path.join(CORPUS_DIR, "pairs")
    truth_path = os.path.join(CORPUS_DIR, "truth")
    if not os.path.exists(os.path.join(files_path, "_SUCCESS")):
        from bigdataentityresolution_spark.sources.synthetic import (
            corpus_to_spark,
            generate_corpus,
        )

        corpus = generate_corpus(
            n_clusters=BENCH_CLUSTERS, n_unrelated=BENCH_UNRELATED, n_repos=100, seed=42
        )
        files_df, truth_df, pairs_df = corpus_to_spark(spark, corpus)
        files_df.repartition(CPUS).write.mode("overwrite").parquet(files_path)
        truth_df.write.mode("overwrite").parquet(truth_path)
        pairs_df.write.mode("overwrite").parquet(pairs_path)
    return (
        spark.read.parquet(files_path),
        spark.read.parquet(truth_path),
        spark.read.parquet(pairs_path),
    )


HARD_SCALE = float(os.environ.get("SPARK_GRAFT_HARD_SCALE", "1.0"))
HARD_CORPUS_DIR = os.environ.get(
    "SPARK_GRAFT_HARD_CORPUS", f"/tmp/bench_hard_corpus_s{HARD_SCALE}"
)


def ensure_hard_corpus(spark):
    """Materialize the HARD adversarial tier as parquet (once).

    Sized ~40k files at the default scale — comparable to the easy bench
    corpus — with every adversarial component scaled up: see
    synthetic.generate_hard_corpus. A perfect pairwise score is
    unattainable by construction, so this corpus is the one whose P/R/F1
    numbers can MOVE when the scorer or floors regress (VERDICT r3 #1).
    """
    files_path = os.path.join(HARD_CORPUS_DIR, "files")
    truth_path = os.path.join(HARD_CORPUS_DIR, "truth")
    pairs_path = os.path.join(HARD_CORPUS_DIR, "pairs")
    if not os.path.exists(os.path.join(files_path, "_SUCCESS")):
        from bigdataentityresolution_spark.sources.synthetic import (
            corpus_to_spark,
            generate_hard_corpus,
        )

        corpus = generate_hard_corpus(
            n_hard_clusters=int(5000 * HARD_SCALE),
            n_orphan_clusters=int(1200 * HARD_SCALE),
            n_template_groups=int(1200 * HARD_SCALE),
            template_group_size=6,
            n_unique_header_groups=int(200 * HARD_SCALE),
            hot_block_size=int(2000 * HARD_SCALE),
            n_unrelated=int(8000 * HARD_SCALE),
            n_repos=100,
            seed=1337,
        )
        files_df, truth_df, pairs_df = corpus_to_spark(spark, corpus)
        files_df.repartition(CPUS).write.mode("overwrite").parquet(files_path)
        truth_df.write.mode("overwrite").parquet(truth_path)
        pairs_df.write.mode("overwrite").parquet(pairs_path)
    return (
        spark.read.parquet(files_path),
        spark.read.parquet(truth_path),
        spark.read.parquet(pairs_path),
    )


def bench_er_hard(spark) -> dict:
    """Full pipeline on the HARD tier; precision/recall broken out.

    The headline er_pipeline's F1 saturates at 1.0 (every round, every
    config) — a metric pinned at its ceiling cannot detect quality
    regressions. This entry reports pairwise precision / recall / F1
    (which CAN move: orphan clusters bound recall < 1 by construction)
    plus the north rule's labeled-pair F1 (must stay ≥ 0.99).
    """
    from bigdataentityresolution_spark.plans.pipeline import (
        ERConfig,
        labeled_pair_f1,
        pairwise_f1,
        run_er_pipeline,
    )

    files, truth, pairs = ensure_hard_corpus(spark)
    files = files.cache()
    pairs = pairs.cache()
    n_files = files.count()
    pairs.count()
    # Timing protocol (VERDICT r4 #3): SPARK_GRAFT_HARD_REPS reps in the
    # same JVM, min reported, all reps recorded. Default 2: er_hard runs
    # after the er_pipeline phase has compiled every plan shape this
    # pipeline uses, so rep 0 is already warm-shaped, but one rep leaves
    # the wall at the mercy of a single host-noise episode. The tag below
    # makes the protocol explicit; _regressions reports a changed tag as
    # a protocol break instead of comparing walls across it.
    reps = int(os.environ.get("SPARK_GRAFT_HARD_REPS", "2"))
    rep_secs = []
    for _ in range(max(1, reps)):
        t0 = time.time()
        result = run_er_pipeline(spark, files, pairs, workdir=None, config=ERConfig())
        result["labels"].select("cluster_id").distinct().count()
        rep_secs.append(time.time() - t0)
        if len(rep_secs) < max(1, reps):
            result["runner"].release()
            spark.sparkContext._jvm.System.gc()
            time.sleep(1.0)
    elapsed = min(rep_secs)
    # accounting outside the timed window, once on the final rep (same
    # protocol as bench_er_pipeline): the cross-channel distinct union is
    # bookkeeping, not pipeline work, and its value is deterministic
    # across reps
    n_candidates = result["candidates_all"].count()
    n_candidates_lexical = result["candidates"].count()
    m = pairwise_f1(result["labels"], truth)
    by_kind = _hard_recall_by_kind(result["labels"], truth)
    lm = labeled_pair_f1(result["labels"], pairs)
    result["runner"].release()
    files.unpersist()
    pairs.unpersist()
    return {
        "sec": elapsed,
        "rep_secs": [round(s, 3) for s in rep_secs],
        "rep_protocol": (
            f"{max(1, reps)}-rep min, warm plan shapes "
            "(er_pipeline phase precompiles them in the same JVM)"
        ),
        "n_files": n_files,
        "n_candidates": n_candidates,
        "n_candidates_lexical": n_candidates_lexical,
        "candidate_pairs_per_sec": n_candidates / elapsed,
        "candidate_pairs_per_sec_lexical": n_candidates_lexical / elapsed,
        "precision": round(m["precision"], 4),
        "recall": round(m["recall"], 4),
        "f1": round(m["f1"], 4),
        "true_pairs": m["true_pairs"],
        "pred_pairs": m["pred_pairs"],
        "labeled_pair_f1": round(lm["f1"], 4),
        "labeled_pair_fp": lm["fp"],
        "labeled_pair_fn": lm["fn"],
        **by_kind,
    }


def truth_pairs_by_kind(truth):
    """(a, b, kind): every true pair of the hard tier, a < b, with its
    kind — "hard" or "orphan", encoded in the synthetic path
    (src/<kind>/...) carried inside spec_id; "" for neither."""
    from pyspark.sql import functions as F

    from bigdataentityresolution_spark.operators.clustering import extract_matches

    kind = truth.select("spec_id", "cluster_id",
                        F.regexp_extract("spec_id", r"src/(hard|orphan)", 1).alias("kind"))
    # Kind-homogeneity guard (ADVICE r4): a pair takes its kind from side
    # 'a' only, which is correct ONLY while every truth cluster is
    # kind-homogeneous (true for generate_hard_corpus today). A future
    # corpus with mixed-kind clusters would silently skew the attribution;
    # fail loudly instead.
    n_mixed = (
        kind.groupBy("cluster_id")
        .agg(F.count_distinct("kind").alias("nk"))
        .filter(F.col("nk") > 1)
        .count()
    )
    if n_mixed:
        raise RuntimeError(
            f"hard-corpus truth has {n_mixed} mixed-kind clusters; "
            "the side-a kind attribution no longer holds"
        )
    return extract_matches(truth).join(
        kind.select(F.col("spec_id").alias("a"), "kind"), "a"
    ).select("a", "b", "kind")


def _hard_recall_by_kind(predicted_labels, truth) -> dict:
    """Attribute the hard tier's recall gap: attainable vs by-construction.

    True pairs come only from hard_* (medium mutation — findable) and
    orphan_* (heavy mutation — clone↔seed shingle Jaccard below the
    candidate prefilter, unreachable by design) clusters
    (truth_pairs_by_kind). recall_hard is the number that reflects
    engine quality; recall_orphan ≈ 0 is the corpus doing its job."""
    from pyspark.sql import functions as F

    from bigdataentityresolution_spark.operators.clustering import extract_matches

    tp_pairs = truth_pairs_by_kind(truth)
    pred_pairs = extract_matches(predicted_labels).select("a", "b", F.lit(1).alias("hit"))
    rows = (
        tp_pairs.join(pred_pairs, ["a", "b"], "left")
        .groupBy("kind")
        .agg(F.count("*").alias("n_true"), F.sum(F.coalesce("hit", F.lit(0))).alias("n_tp"))
        .collect()
    )
    out = {}
    for r in rows:
        k = r["kind"] or "other"
        out[f"recall_{k}"] = round(r["n_tp"] / r["n_true"], 4) if r["n_true"] else 1.0
        out[f"true_pairs_{k}"] = r["n_true"]
    return out


HOTKEY_CORPUS_DIR = os.environ.get("SPARK_GRAFT_HOTKEY_CORPUS", "/tmp/bench_hotkey_corpus")


def bench_hotkey(spark) -> dict:
    """The SURVEY §7.2 hot-key scenario (VERDICT r3 'Next' #2; reference
    analog: 4-bucket stripes + pairs_limit, src/functs.c:1752-1768,1718).

    12k files share a byte-identical license header (pairwise shingle
    Jaccard ≈ 0.95) → they land in ONE LSH block per band. Uncapped
    that block alone would emit 12k·(12k-1)/2 ≈ 72M pairs per band;
    measured here: the per-block cap and the salted variant both hold
    the pair count and the wall bounded on the pathological block.
    """
    from pyspark.sql import functions as F

    from bigdataentityresolution_spark.operators import blocking as B

    files_path = os.path.join(HOTKEY_CORPUS_DIR, "files")
    if not os.path.exists(os.path.join(files_path, "_SUCCESS")):
        from bigdataentityresolution_spark.sources.synthetic import (
            corpus_to_spark,
            generate_hotkey_corpus,
        )

        corpus = generate_hotkey_corpus(n_hot=12000, n_background=12000, seed=7)
        files_df, _, _ = corpus_to_spark(spark, corpus)
        files_df.repartition(CPUS).write.mode("overwrite").parquet(files_path)
    files = spark.read.parquet(files_path)

    sigs = B.minhash_signatures_df(files, id_col="spec_id", text_col="content").cache()
    sigs.count()
    mem = B.membership_from_signatures(sigs).cache()
    mem.count()
    stats = mem.groupBy("block_key").count().agg(
        F.max("count").alias("mx"), F.count(F.lit(1)).alias("n_blocks")
    ).first()

    t0 = time.time()
    n_capped = B.candidate_pairs(mem, per_block_cap=64).count()
    t_capped = time.time() - t0
    t0 = time.time()
    n_salted = B.candidate_pairs_salted(mem, per_block_cap=64, salt_buckets=8).count()
    t_salted = time.time() - t0
    t0 = time.time()
    n_est = B.candidate_pairs_with_est(sigs, per_block_cap=64).count()
    t_est = time.time() - t0
    sigs.unpersist()
    mem.unpersist()
    return {
        # single-rep by design: each variant is a one-shot operator whose
        # absolute wall (~seconds) matters less than the PAIR COUNT being
        # held bounded; the _regressions check still compares the walls
        # round-over-round under this same protocol (VERDICT r4 #3)
        "rep_protocol": "single-rep, cold per variant (sigs/membership pre-cached)",
        "n_files": files.count(),
        "max_block_members": int(stats["mx"]),
        "n_blocks": int(stats["n_blocks"]),
        "capped_pairs": n_capped,
        "capped_sec": round(t_capped, 3),
        "salted_pairs": n_salted,
        "salted_sec": round(t_salted, 3),
        "with_est_pairs": n_est,
        "with_est_sec": round(t_est, 3),
    }


def bench_er_pipeline(spark, self_train: bool = True) -> dict:
    from pyspark.sql import functions as F

    from bigdataentityresolution_spark.plans.pipeline import (
        ERConfig,
        pairwise_f1,
        run_er_pipeline,
    )

    files, truth, pairs = ensure_corpus(spark)
    # Cache the source OUTSIDE the timed window: the pipeline legitimately
    # scans the source table several times (signatures / postings / prefix
    # projection), and on a real cluster those scans hit distributed
    # columnar storage whose aggregate bandwidth grows with executors. A
    # single local disk does not — it serializes the 32-thread run and
    # would benchmark the VM's disk, not the engine.
    #
    # SPARK_GRAFT_INPUT_PARTS=N > 0: repartition to N before caching. The
    # raw scan of a ~1-2 GB corpus yields only ~12-16 input splits
    # (maxPartitionBytes), so every downstream corpus pass (minhash
    # sketch, tokenize+explode) runs as ONE wave of coarse skewed tasks
    # at 16 cores (measured: the signature stage sat at (12+4)/16 tasks
    # for most of its wall). Fine-grained cache partitions are what a
    # production table gives anyway (a 100 TB Iceberg table has millions
    # of splits); identical at both scaling legs.
    n_parts = int(os.environ.get("SPARK_GRAFT_INPUT_PARTS", "0"))
    if n_parts > 0:
        files = files.repartition(n_parts)
    files = files.cache()
    pairs = pairs.cache()
    n_files = files.count()  # materializes the cache
    pairs.count()

    # SPARK_GRAFT_BENCH_REPS > 1 (DEFAULT 2 since r4) → run the full
    # pipeline that many times in the SAME JVM and report the min
    # (steady-state). Rationale, measured: every distinct plan shape pays
    # a one-time JIT/codegen warm-up (~2-5 s per stage, serial,
    # core-count independent — e.g. the signature stage runs 5.5 s cold /
    # 1.3 s warm). On a real cluster executors are long-lived and
    # amortize this across hours; in a <2-minute sandbox run the warm-up
    # is ~half the wall and masks the engine's scaling. Rep 0 (cold) is
    # also reported in rep_secs. The warm rep is warm only because the
    # codegen cache holds every generated class of a run
    # (session.CODEGEN_CACHE_ENTRIES): while it kept Spark's default 100
    # of the ~270 a run generates, the warm rep recompiled every class
    # evicted from it, and C2 JIT-compiled them again.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    # An untimed pass over a miniature corpus instead recovered only ~HALF
    # the JIT delta (measured r4, sf0.1, same session: 40.8 s cold / 32.2 s
    # mini-warmup / 23.3 s in-JVM warm rep): the miniature corpus compiles
    # different AQE/join plan shapes than the bench-scale run. An in-JVM
    # second rep is the honest warm number.
    rep_secs = []
    for _ in range(max(1, reps)):
        t0 = time.time()
        result = run_er_pipeline(
            spark, files, pairs, workdir=None, config=ERConfig(self_train=self_train)
        )
        n_clusters = result["labels"].select("cluster_id").distinct().count()
        rep_secs.append(time.time() - t0)
        # Candidate ACCOUNTING runs outside the timed window: the pipeline
        # itself never materializes the cross-channel distinct union (its
        # featurization reads per-channel survivors), so the union count
        # is bookkeeping for the pairs/sec metric, not engine work — and
        # measured ~2-3 s of pure counting inflated the r5 wall before
        # this moved. n_clusters stays inside (it forces the final labels
        # like every round). Both channels (r5+): the union IS the
        # engine's candidate set; lexical-only rides alongside for r4
        # comparability.
        n_candidates = result["candidates_all"].count()
        n_candidates_lexical = result["candidates"].count()
        f1 = pairwise_f1(result["labels"], truth)
        result["runner"].release()
        # Between-rep hygiene, OUTSIDE the timed window: shuffle files are
        # only deleted once the driver GCs the dead ShuffleDependency refs
        # (ContextCleaner is reference-triggered; its own periodicGC fires
        # every 30 min by default) — without this, rep K+1 runs on top of
        # rep K's accumulated tmpfs shuffle files + un-collected driver
        # garbage, and measured warm reps were consistently SLOWER than
        # cold (e.g. 73 s → 129 s at 16 cores). A long-lived cluster
        # reaches this steady state on its own; a 2-rep sandbox run needs
        # the nudge.
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.0)
    elapsed = min(rep_secs)

    return {
        "sec": elapsed,
        "rep_secs": [round(s, 3) for s in rep_secs],
        "self_train": self_train,
        "n_files": n_files,
        "n_candidates": n_candidates,
        "n_candidates_lexical": n_candidates_lexical,
        "n_clusters": n_clusters,
        "candidate_pairs_per_sec": n_candidates / elapsed,
        "candidate_pairs_per_sec_lexical": n_candidates_lexical / elapsed,
        "files_per_sec": n_files / elapsed,
        "f1": round(f1["f1"], 4),
    }


def bench_tfidf(spark) -> float:
    from bigdataentityresolution_spark.queries import flagship

    t0 = time.time()
    flagship(spark, SF_DIR).count()
    return time.time() - t0


def bench_dedup(spark) -> float:
    from bigdataentityresolution_spark.operators.dedup import minhash_duplicate_pairs

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    t0 = time.time()
    minhash_duplicate_pairs(docs, jaccard_threshold=0.6).count()
    return time.time() - t0


def bench_ann(spark) -> float:
    from pyspark.sql import functions as F

    from bigdataentityresolution_spark.operators.ann import lsh_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.limit(64).select(F.col("vec_id").alias("query_id"), "embedding")
    t0 = time.time()
    lsh_topk(emb, queries, k=10, dim=64).count()
    return time.time() - t0


def bench_tpch_q1(spark) -> float:
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    li.createOrReplaceTempView("lineitem")
    t0 = time.time()
    spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               sum(l_extendedprice) AS sum_base_price,
               sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               avg(l_quantity) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        """
    ).collect()
    return time.time() - t0


def _prior_round() -> dict:
    """Latest committed BENCH_r{N}.json carrying per-query walls (its
    parsed object; empty if none) — the baseline for the round-over-round
    regression check (VERDICT.md r2 #2: a 2x tfidf_flagship regression
    shipped with nothing noticing)."""
    import glob
    import re

    best_n, best = -1, {}
    for p in glob.glob(str(Path(__file__).resolve().parent / "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if not m:
            continue
        try:
            with open(p) as f:
                obj = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        obj = obj.get("parsed", obj)
        if int(m.group(1)) > best_n and isinstance(obj.get("queries"), dict):
            best_n, best = int(m.group(1)), obj
    return best


def _prior_round_queries() -> dict[str, float]:
    return _prior_round().get("queries", {})


def _regressions(
    queries: dict[str, float], threshold: float = 1.3, protocols: dict[str, str] | None = None
) -> dict:
    """Per-query walls that slipped past ``threshold`` × the prior round.
    ``protocols`` maps a query to this run's rep protocol (e.g.
    er_hard.rep_protocol): where the prior round recorded a different
    one, the walls do not compare, so the query is reported as a
    protocol break and never as a regression."""
    prior = _prior_round_queries()
    protocols = protocols or {}
    prior_protocols = {
        k: v.get("rep_protocol") for k, v in _prior_round().items() if isinstance(v, dict)
    }
    out = {}
    for name, now in queries.items():
        prev = prior.get(name)
        was, is_ = prior_protocols.get(name), protocols.get(name)
        if prev is not None and None not in (was, is_) and was != is_:
            out[name] = {"prev": prev, "now": now, "protocol_break": {"prev": was, "now": is_}}
            continue
        if prev is None and name == "er_pipeline_noselftrain":
            # r1/r2 benched er_pipeline with self_train=False — that key
            # is the comparable ancestor of the noselftrain variant
            prev = prior.get("er_pipeline")
        elif name == "er_pipeline" and "er_pipeline_noselftrain" in queries and \
                "er_pipeline_noselftrain" not in prior:
            continue  # prior er_pipeline was the noselftrain variant
        if prev and prev > 0 and now / prev > threshold:
            out[name] = {"prev": prev, "now": now, "ratio": round(now / prev, 2)}
    return out


def main() -> None:
    er_only = "--er-only" in sys.argv
    from bigdataentityresolution_spark.session import get_spark

    # No explicit master/shuffle args: get_spark resolves SPARK_GRAFT_MASTER
    # (e.g. local-cluster[k,c,m] for the multi-executor scaling legs) and
    # SPARK_GRAFT_SHUFFLE, defaulting to local[$SPARK_GRAFT_CPUS] / CPUS.
    # r2 bug: explicit master=local[N] + shuffle_partitions=N here silently
    # OVERRODE those envs — every "executors-mode" scaling leg actually ran
    # a single local[N] JVM with shuffle=N (a DIFFERENT plan per leg, and a
    # driver-sized-but-GC_THREADS=2 heap). Caught via event logs: all tasks
    # reported Executor ID 'driver'.
    spark = get_spark(app_name="bench")

    # Headline = the REFERENCE-SHAPED pipeline (self_train=True: exactly
    # one retrain round, src/functs.c:1716-1724). SPARK_GRAFT_SELF_TRAIN=0
    # benches the no-self-train variant instead (used where a leg must
    # stay comparable to a prior protocol).
    self_train = os.environ.get("SPARK_GRAFT_SELF_TRAIN", "1") != "0"
    queries: dict[str, float] = {}
    er = bench_er_pipeline(spark, self_train=self_train)
    queries["er_pipeline"] = round(er["sec"], 3)
    er_nst = None
    if not er_only:
        if self_train:
            # comparability variant: r1/r2 benched self_train=False
            er_nst = bench_er_pipeline(spark, self_train=False)
            queries["er_pipeline_noselftrain"] = round(er_nst["sec"], 3)
        # Root cause of the r2 "tfidf_flagship 2x regression" (VERDICT r2
        # #2): the ER phase leaves its corpus/stage caches resident, and
        # the later single-shot queries then run under executor-memory
        # pressure + eviction churn (measured: tfidf 7.6 s with caches
        # held, 2.4 s after clearCache — same JVM, same data). Each bench
        # phase must start from a cache-clean session.
        spark.catalog.clearCache()
        # HARD tier: the quality bench — P/R/F1 can MOVE here (the easy
        # corpus saturates at F1=1.0). Runs warm (the er_pipeline phase
        # above already compiled every plan shape this pipeline uses).
        er_hard = bench_er_hard(spark)
        queries["er_hard"] = round(er_hard["sec"], 3)
        spark.catalog.clearCache()
        # hot-key scenario (SURVEY §7.2): capped vs salted candidate
        # generation on a 12k-member pathological block
        hotkey = bench_hotkey(spark)
        queries["hotkey_capped"] = hotkey["capped_sec"]
        queries["hotkey_salted"] = hotkey["salted_sec"]
        spark.catalog.clearCache()
        queries["tfidf_flagship"] = round(bench_tfidf(spark), 3)
        queries["dedup_minhash"] = round(bench_dedup(spark), 3)
        queries["ann_lsh_topk"] = round(bench_ann(spark), 3)
        queries["tpch_q1"] = round(bench_tpch_q1(spark), 3)

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    out = {
        "metric": "candidate_pairs_per_sec",
        "value": round(er["candidate_pairs_per_sec"], 1),
        # Metric-definition transparency (r5): the numerator became the
        # distinct TWO-channel candidate union (lexical MinHash ∪
        # semantic top-k-term) and candidate counting moved outside the
        # timed wall (it is accounting, not pipeline work — the pipeline
        # never materializes the cross-channel union). value_lexical is
        # the r4-comparable figure: lexical-channel candidates over the
        # SAME wall. Round-over-round comparisons of `value` across
        # BENCH_r4/r5 must use value_lexical, not value.
        "value_lexical": round(er["candidate_pairs_per_sec_lexical"], 1),
        "metric_definition": (
            "distinct candidate pairs across both channels / warm er_pipeline "
            "wall; counts outside the timed window (r5+). value_lexical = "
            "lexical-channel-only numerator, comparable to r4's value."
        ),
        "unit": "pairs/sec",
        "queries": queries,
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        "cpus": CPUS,
        # ADVICE r3 #2: round-over-round comparisons must not mix timing
        # modes. "warm" = JIT/codegen compiled before the timed window
        # (multi-rep min); r1/r2 numbers were cold-timed. BENCH_r03
        # onward are warm-timed. warmup_pass (the untimed miniature-corpus
        # pass, removed) stays false so readers keep the key.
        "timing": {
            "mode": "warm" if reps > 1 else "cold",
            "reps": reps,
            "warmup_pass": False,
        },
        "er": {k: (round(v, 3) if isinstance(v, float) else v) for k, v in er.items()},
        "total_sec": round(sum(queries.values()), 3),
    }
    if er_nst is not None:
        out["er_noselftrain"] = {
            k: (round(v, 3) if isinstance(v, float) else v) for k, v in er_nst.items()
        }
    if not er_only:
        out["er_hard"] = er_hard
        out["hotkey"] = hotkey
    regressions = _regressions(
        queries, protocols=None if er_only else {"er_hard": er_hard["rep_protocol"]}
    )
    if regressions:
        out["regressions"] = regressions
        print(
            f"WARN per-query regressions / protocol breaks vs prior round: {regressions}",
            file=sys.stderr,
        )
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
