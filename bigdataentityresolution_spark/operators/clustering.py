"""Clustering: large-star/small-star connected components + reference
labeling semantics (must-link closure, cannot-link edges, pair sinks).

Replaces the reference's incremental clique merge
(mergeMatches/swapSpecsMatches, src/myMatches.c:151-228 +
src/mySpec.c:41-57) — a pointer union-find that cannot distribute —
with the large-star/small-star iterative DataFrame algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14): O(log n) rounds, each round two self-aggregating shuffles.

Semantics preserved from the reference:
- Closure is driven by POSITIVE pairs only; negative (cannot-link)
  edges label pairs but never veto a merge (src/functs.c:629-650).
- Negative links live at CLUSTER level, symmetric, deduplicated
  (updateNegativeMatches src/myMatches.c:219-228); when clusters merge,
  their negative lists union (combineNegativeLists src/myMatches.c:193-217).
  Here: neg edges are re-mapped through the final labeling and deduped
  on the normalized cluster-id pair — same result, one pass.
- Cluster id := min spec_id in the component (deterministic; the
  reference's cluster identity is an arbitrary surviving pointer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from bigdataentityresolution_spark.functions.hashes import multiset_signature


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Normalize to a<b, drop self-loops.

    No distinct(): the next star round's ``collect_set`` erases
    duplicates identically, and a distinct here is a full extra shuffle:
    of the largest edge set the pipeline ever materializes (labeled ∪
    predicted) on input, and of every round's output inside the CC loop
    (rounds cost 2 shuffles, not 4)."""
    return edges.select(
        F.least("a", "b").alias("a"),
        F.greatest("a", "b").alias("b"),
    ).filter(F.col("a") < F.col("b"))


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's min neighbor.

    Operates on the symmetric edge list: for node u with Γ(u),
    m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u.

    Symmetrization is a single-reference explode, NOT a self-union:
    a union references the input subtree twice, which re-evaluates an
    un-materialized upstream round twice AND breaks per-round
    ``observe()`` signatures (a CollectMetrics node duplicated by
    self-union fails metric collection — found when in-batch fixpoint
    detection landed in r2)."""
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
            )
        ).alias("e")
    ).select(F.col("e.u").alias("a"), F.col("e.v").alias("b"))
    nbrs = sym.groupBy("a").agg(F.collect_set("b").alias("nb"))
    m = F.least(F.array_min("nb"), F.col("a"))
    out = nbrs.select(
        F.explode(F.filter("nb", lambda v: v > F.col("a"))).alias("v"),
        m.alias("m"),
    )
    return out.select(F.col("v").alias("a"), F.col("m").alias("b"))


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges to (big, small); connect all small neighbors + self
    to the minimum."""
    oriented = edges.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    )
    nbrs = oriented.groupBy("u").agg(F.collect_set("v").alias("nb"))
    out = nbrs.select(
        F.explode(F.array_append("nb", F.col("u"))).alias("v"),
        F.array_min("nb").alias("m"),  # all v < u, so min(Γ⁻ ∪ {u}) = min(nb)
    )
    return out.select(F.col("v").alias("a"), F.col("m").alias("b")).filter(
        F.col("a") != F.col("b")
    )


def _observation_sigs(observations, timeout_sec: float = 10.0) -> list:
    """Bounded-wait collection of the per-round observe() signatures.

    ADVICE.md r2: ``Observation.get`` awaits the Scala metrics future with
    Duration.Inf — if a materializing action ever completed WITHOUT
    delivering a registered observation's row (and without erroring
    through py4j), a direct ``.get`` would hang the CC loop forever. So
    poll the JVM-side non-blocking ``getOrEmpty`` (itself a 100 ms wait
    per call) until the row is delivered or the shared deadline passes;
    ``.get`` is then guaranteed not to block. The materializing action
    has already finished when this runs, so the delivered case returns on
    the first poll; only degenerate plans (e.g. an empty edge set
    collapsing to a zero-task LocalTableScan, which skips CollectMetrics
    entirely) pay the timeout before the caller's direct-agg fallback."""
    import time

    deadline = time.monotonic() + timeout_sec
    sigs = []
    for o in observations:
        if o._jo is None:
            raise RuntimeError("observation never attached to a plan")
        while o._jo.getOrEmpty().isEmpty():
            if time.monotonic() > deadline:
                raise TimeoutError("observe() metrics not delivered in time")
        row = o.get
        sigs.append((int(row["n"]), int(row["h"]), int(row["s"])))
    return sigs


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 50,
    checkpoint_every: int = 2,
    checkpoint_dir: str | None = None,
    cached: list | None = None,
) -> DataFrame:
    """(spec_id, cluster_id) — component labels; cluster_id = min member id.

    edges: (a, b) positive pairs (any orientation, dupes ok).
    nodes: optional (spec_id) universe — isolated nodes get singleton
    clusters (reference: every record starts as a singleton cluster,
    matchesAdd src/myMatches.c:29-53).

    Alternates large-star/small-star until the edge set reaches a fixed
    point (signature: count + two independent hash folds). The
    checkpoint runs every ``checkpoint_every`` rounds, NOT every round:
    each driver barrier (eager materialization) is latency the loop pays
    serially, and the star fixpoint is idempotent — extra rounds past
    convergence are cheap no-ops, so a late fixpoint detection costs
    less than per-round barriers (r1 profiling: the CC loops were a
    flat ~16 s regardless of core count). EVERY round's signature rides
    the one checkpoint job as ``observe()`` metrics — zero extra scan,
    zero extra driver barrier — and fixpoint is detected from
    consecutive in-batch signatures, so a run that converges inside a
    batch never pays a trailing verify batch (r2: that extra batch was
    3-4 s of flat latency per CC call). The signature is over the
    edge MULTISET, which is sound: both star rounds aggregate through
    ``collect_set``, so round output is a function of the input SET —
    once the set reaches fixpoint the multiset emitted by the next round
    is bit-identical too, and equality of consecutive multiset
    signatures implies the set fixpoint the loop is looking for.

    checkpoint_dir: when set, round state is written as RELIABLE parquet
    (round_<k>/ + _cc_manifest.json) instead of localCheckpoint, and a
    rerun with the same dir RESUMES from the last completed round —
    localCheckpoint blocks live on executors, so on a real cluster one
    executor loss kills a multi-hour closure (VERDICT.md 'What's wrong'
    #4). The caller owns dir lifecycle (pass a per-input-fingerprint
    path; stale state for different edges is the caller's bug).

    cached: without a checkpoint_dir, the labels read the last round's
    localCheckpoint, whose blocks stay until its RDD is unpersisted;
    when a list is given, that RDD is appended to it (the pipeline
    passes its StageRunner.cached, so runner.release() frees it).
    """
    import json
    import os

    # below 1, the loop either never runs a round (labels that never
    # converged) or never advances (an empty batch, looped forever)
    if max_iter < 1 or checkpoint_every < 1:
        raise ValueError(
            f"max_iter={max_iter} and checkpoint_every={checkpoint_every} must be at least 1"
        )
    spark = edges.sparkSession
    e = _canonical_edges(edges)
    rounds_done = 0
    prev_sig: tuple[int, int] | None = None

    manifest_path = (
        os.path.join(checkpoint_dir, "_cc_manifest.json") if checkpoint_dir else None
    )
    if manifest_path and os.path.exists(manifest_path):
        try:
            with open(manifest_path) as f:
                m = json.load(f)
            rpath = os.path.join(checkpoint_dir, f"round_{m['round']}")
            if os.path.exists(os.path.join(rpath, "_SUCCESS")):
                e = spark.read.parquet(rpath)
                rounds_done = int(m["round"])
                prev_sig = tuple(m["sig"]) if m.get("sig") else None
        except (OSError, json.JSONDecodeError, KeyError):
            pass  # unreadable state → recompute from scratch

    converged = False
    while rounds_done < max_iter and not converged:
        # EVERY round in the batch carries its own observe() signature;
        # all of them ride the ONE materializing action. Fixpoint is then
        # detected from consecutive IN-BATCH signatures — the loop no
        # longer needs a whole extra no-op batch (2 star shuffles + a
        # driver barrier) just to see that the signature stopped moving
        # (r2 executors-mode profiling: that trailing verify batch was a
        # flat 3-4 s of latency per CC call at ANY core count).
        observations = []
        for _ in range(checkpoint_every):
            e = _canonical_edges(_large_star(e))
            e = _canonical_edges(_small_star(e))
            observations.append(Observation())
            e = e.observe(observations[-1], *multiset_signature("a", "b"))
            rounds_done += 1
        if checkpoint_dir:
            rpath = os.path.join(checkpoint_dir, f"round_{rounds_done}")
            e.write.mode("overwrite").parquet(rpath)
            e = spark.read.parquet(rpath)
        else:
            # cuts the doubling lineage; the eager job also delivers the
            # observe() signature metrics
            e = e.localCheckpoint(eager=True)
        try:
            batch_sigs = _observation_sigs(observations)
        except Exception:
            # Degenerate plans (e.g. an EMPTY edge set collapses to a
            # zero-task LocalTableScan) can skip the CollectMetrics nodes
            # entirely — no metrics row, Observation.get fails. Fall back
            # to one direct aggregation of the materialized batch output
            # (old per-batch semantics: convergence then needs one more
            # no-op batch — fine for the empty/degenerate case).
            row = e.agg(*multiset_signature("a", "b")).collect()[0]
            batch_sigs = [(int(row["n"]), int(row["h"]), int(row["s"]))]
        for sig in batch_sigs:
            if sig == prev_sig:
                converged = True
                break
            prev_sig = sig
        if manifest_path:
            tmp = manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"round": rounds_done, "sig": list(prev_sig)}, f)
            os.replace(tmp, manifest_path)  # atomic: kill-safe

    if cached is not None and not checkpoint_dir:
        cached.append(e._jdf.queryExecution().analyzed().rdd().toJavaRDD())

    # At fixpoint the edges form stars; canonical orientation (a < b)
    # puts the component-min root at `a`, members at `b`.
    labels = e.select(F.col("b").alias("spec_id"), F.col("a").alias("cluster_id")).unionByName(
        e.select(F.col("a").alias("spec_id"), F.col("a").alias("cluster_id"))
    )
    labels = labels.groupBy("spec_id").agg(F.min("cluster_id").alias("cluster_id"))

    if nodes is not None:
        singletons = nodes.select(F.col(nodes.columns[0]).alias("spec_id")).join(
            labels, "spec_id", "left_anti"
        )
        labels = labels.unionByName(
            singletons.select("spec_id", F.col("spec_id").alias("cluster_id"))
        )
    return labels


def closure_from_labeled_pairs(
    labeled_pairs: DataFrame,
    nodes: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    max_iter: int = 50,
    checkpoint_every: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """(labels, neg_cluster_edges) from a labels relation
    (left_spec_id, right_spec_id, label ∈ {0,1}).

    Reference lifecycle step 4 (src/main.c:231 → src/functs.c:539-675):
    positives drive transitive closure; negatives become symmetric
    cluster-level cannot-link edges against the FINAL clustering
    (the reference unions neg lists through merges — same fixpoint).
    """
    pos = labeled_pairs.filter(F.col("label") == 1).select(
        F.col("left_spec_id").alias("a"), F.col("right_spec_id").alias("b")
    )
    if nodes is None:
        # reference: every record referenced by a label has (at least) a
        # singleton cluster (matchesAdd src/myMatches.c:29-53) — without a
        # universe, default to all ids the labels mention so negative-only
        # specs still exist in the labeling.
        nodes = labeled_pairs.select(F.col("left_spec_id").alias("spec_id")).unionByName(
            labeled_pairs.select(F.col("right_spec_id").alias("spec_id"))
        ).distinct()
    labels = connected_components(
        pos,
        nodes=nodes,
        checkpoint_dir=checkpoint_dir,
        max_iter=max_iter,
        checkpoint_every=checkpoint_every,
    )

    neg = labeled_pairs.filter(F.col("label") == 0).select(
        F.col("left_spec_id").alias("l"), F.col("right_spec_id").alias("r")
    )
    lmap = labels.select(
        F.col("spec_id").alias("l"), F.col("cluster_id").alias("cid_l")
    )
    rmap = labels.select(
        F.col("spec_id").alias("r"), F.col("cluster_id").alias("cid_r")
    )
    neg_edges = (
        neg.join(lmap, "l", "left")
        .join(rmap, "r", "left")
        .select(
            F.coalesce("cid_l", "l").alias("ca"),
            F.coalesce("cid_r", "r").alias("cb"),
        )
        .select(F.least("ca", "cb").alias("cid_a"), F.greatest("ca", "cb").alias("cid_b"))
        .filter(F.col("cid_a") != F.col("cid_b"))  # contradictory labels → drop
        .distinct()
    )
    return labels, neg_edges


def extract_matches(labels: DataFrame) -> DataFrame:
    """All within-cluster pairs (a, b, 1), a < b — the positives sink
    (extractMatches, src/myMatches.c:255-330): full transitive-closure
    expansion via cluster self-join."""
    l1 = labels.select(F.col("spec_id").alias("a"), "cluster_id")
    l2 = labels.select(F.col("spec_id").alias("b"), "cluster_id")
    return (
        l1.join(l2, "cluster_id")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.lit(1).alias("label"))
    )


def extract_negatives(labels: DataFrame, neg_cluster_edges: DataFrame) -> DataFrame:
    """All cross-negative-cluster pairs (a, b, 0) — the negatives sink
    (extractNegatives, src/myMatches.c:332-405): members(cid_a) ×
    members(cid_b) for each cannot-link cluster edge."""
    mem_a = labels.select(F.col("cluster_id").alias("cid_a"), F.col("spec_id").alias("a"))
    mem_b = labels.select(F.col("cluster_id").alias("cid_b"), F.col("spec_id").alias("b"))
    return (
        neg_cluster_edges.join(mem_a, "cid_a")
        .join(mem_b, "cid_b")
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"), F.lit(0).alias("label"))
        .distinct()
    )


def trainable_records(
    labels: DataFrame, neg_cluster_edges: DataFrame | None = None
) -> DataFrame:
    """(spec_id) records eligible for training — the reference's
    trainable filter (retrain_with_all, src/functs.c:1740-1743: skip a
    record iff its cluster has no other member AND no negative links).

    labels: (spec_id, cluster_id); neg_cluster_edges: (cid_a, cid_b)
    normalized cannot-link cluster pairs (None ⇒ none). One aggregation
    on cluster_id + a broadcast-able semi-join on the (small) negative
    edge relation — no corpus self-join.
    """
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_n"))
    multi = sizes.filter(F.col("_n") >= 2).select("cluster_id")
    eligible_clusters = multi
    if neg_cluster_edges is not None:
        negged = (
            neg_cluster_edges.select(F.col("cid_a").alias("cluster_id"))
            .unionByName(neg_cluster_edges.select(F.col("cid_b").alias("cluster_id")))
            .distinct()
        )
        eligible_clusters = multi.unionByName(negged).distinct()
    return labels.join(eligible_clusters, "cluster_id", "left_semi").select("spec_id")


def extract_strong_matches(scored: DataFrame, proba_floor: float = 0.85) -> DataFrame:
    """Strong-matches sink (getStrongMatches, disabled in the reference
    build — SURVEY.md §2.1): predicted pairs above a confidence floor,
    as (a, b, proba). Compose after scoring.predict."""
    return scored.filter(F.col("proba") >= F.lit(float(proba_floor))).select(
        "a", "b", "proba"
    )


def label_candidate_pairs(
    candidates: DataFrame,
    labels: DataFrame,
    neg_cluster_edges: DataFrame,
) -> DataFrame:
    """isPair semantics (src/functs.c:1329-1355) over candidate (a, b):
    label 1 iff same cluster; 0 iff clusters negatively linked; row
    DROPPED otherwise (unknown pairs are not trainable)."""
    la = labels.select(F.col("spec_id").alias("a"), F.col("cluster_id").alias("ca"))
    lb = labels.select(F.col("spec_id").alias("b"), F.col("cluster_id").alias("cb"))
    joined = candidates.join(la, "a").join(lb, "b")
    pos = joined.filter(F.col("ca") == F.col("cb")).select("a", "b", F.lit(1).alias("label"))
    neg_norm = neg_cluster_edges.select("cid_a", "cid_b")
    negs = (
        joined.filter(F.col("ca") != F.col("cb"))
        .withColumn("cid_a", F.least("ca", "cb"))
        .withColumn("cid_b", F.greatest("ca", "cb"))
        .join(neg_norm, ["cid_a", "cid_b"], "left_semi")
        .select("a", "b", F.lit(0).alias("label"))
    )
    return pos.unionByName(negs)
