"""Pairwise scoring: similarity features + logistic regression.

Re-expression of the reference's classifier stage (src/logistic.c):

- The reference concatenates two 1000-dim TF-IDF vectors per pair
  (src/functs.c:1005-1031) and trains LR over 2·|V| weights with
  Hogwild-style concurrent batch updates under a mutex
  (src/logistic.c:346-472, batches of 500 pairs, 2 GD iterations each,
  lr=0.6, stop=0.15, moving threshold clamped to [0.2, 0.8]).
- The new engine computes THREE pairwise similarity features in one
  featurizer, :func:`pair_features`, shared by train and candidate
  pairs (cosine over top-k-pruned TF-IDF maps, MinHash-estimated
  Jaccard, bounded prefix Levenshtein — all JVM expressions,
  functions/similarity.py) and trains them with :func:`fit_lr_newton`:
  one synchronous IRLS loop whose per-round sums run in local numpy
  over one ordered driver read, or per hash batch in an applyInPandas
  kernel past DRIVER_MAX_ROWS, folded in batch order. The fit is a
  function of the rows' values alone — a deterministic replacement for
  the reference's racy Hogwild (SURVEY.md §2.10). :func:`fit_lr` keeps
  the reference's synchronous mini-batch GD for §2 parity.

Deliberate deviations (SURVEY.md §7.2, documented not cargo-culted):
- bias gradient = mean(missed), not the reference's mean(|missed|)
  (src/logistic.c:384-392 accumulates absolute values — a bug that
  makes the bias monotonically decrease).
- No int-truncating sparse dot (src/logistic.c:899).
- Threshold update reproduces logistic_overfit_dataList EXACTLY
  (src/logistic.c:693-734) including clamp-then-return ordering and
  cumulative fit1/fit0 counters.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdataentityresolution_spark.functions.similarity import (
    cosine_maps,
    levenshtein_bounded,
)

FEATURE_COLS = ("f_cosine", "f_jaccard", "f_lev")


@dataclass(frozen=True)
class LRModel:
    """Driver-held model state; broadcast per training round."""

    weights: tuple[float, ...] = (0.0, 0.0, 0.0)
    bias: float = 0.0
    threshold: float = 0.5
    lr: float = 0.6  # LEARING_RATE include/logistic.h:168
    stop_limit: float = 0.15  # STOP_LIMIT include/logistic.h:169
    fit1: int = 0
    fit0: int = 0
    rounds_trained: int = 0

    def w(self) -> np.ndarray:
        return np.asarray(self.weights, dtype=np.float64)


def pair_features(
    pairs_with_est: DataFrame,
    doc_state: DataFrame,
    lev_bound: int = 128,
) -> DataFrame:
    """The one pair featurizer: join (a, b, est_j[, ...]) pairs to both
    sides' per-doc state (plans.pipeline.doc_state: spec_id, prefix,
    features, sig) and compute

      f_jaccard   — the MinHash-estimated Jaccard, est_j as given
                    (blocking.est_jaccard; candidates carry it from the
                    blocking stage, train pairs from a sig join)
      f_cosine    — cosine over the top-k-pruned int-keyed TF-IDF maps
      f_lev       — bounded prefix Levenshtein, gated on f_jaccard
      f_vocab_cov — min map size of the pair (NOT a model feature)

    Extra pair columns (e.g. label) pass through; est_j is dropped. Any
    est-Jaccard prefilter is the caller's, applied BEFORE this join (the
    ER pipeline does it per candidate channel), so only survivors probe
    the doc state; signatures never ride this join.
    """
    # shuffle_hash hint: NEVER let the planner broadcast the doc-state
    # side. Its size estimate is unreliable before the cache materializes
    # (map columns), and a mis-planned broadcast of a corpus-scale table
    # is fatal (measured: a "small-looking" 384k-row side materialized a
    # 10.8 GiB broadcast and killed the job). Shuffled-hash join is the
    # plan that survives 10^12 rows: pairs shuffle on the id, docs build
    # per-partition hash tables, no sort of the pair side.
    side = doc_state.hint("shuffle_hash").select(
        F.col("spec_id").alias("_id"),
        F.col("features").alias("_vec"),
        F.col("prefix").alias("_prefix"),
    )
    a = side.select(
        F.col("_id").alias("a"), F.col("_vec").alias("_vec_a"),
        F.col("_prefix").alias("_prefix_a"),
    )
    b = side.select(
        F.col("_id").alias("b"), F.col("_vec").alias("_vec_b"),
        F.col("_prefix").alias("_prefix_b"),
    )
    out = (
        pairs_with_est.join(a, "a")
        .join(b, "b")
        .withColumn("f_jaccard", F.col("est_j"))
        .withColumn("f_cosine", F.round(cosine_maps(F.col("_vec_a"), F.col("_vec_b")), 9))
        # Levenshtein is the one O(len²) feature (lev_bound² DP cells per
        # pair); a pair with est-Jaccard < 0.1 gets f_lev = 0.0, which the
        # classifier reads the same way the true distance would.
        .withColumn(
            "f_lev",
            F.when(
                F.col("f_jaccard") >= 0.1,
                levenshtein_bounded(F.col("_prefix_a"), F.col("_prefix_b"), lev_bound),
            ).otherwise(F.lit(0.0)),
        )
        # A doc whose tokens all fall outside the top-k vocab has an empty
        # TF-IDF map and f_cosine identically 0 — edge policies must not
        # let a cosine floor hard-veto such pairs (ADVICE.md r1: recall
        # can silently collapse on vocab-diverse corpora).
        .withColumn(
            "f_vocab_cov",
            F.least(F.size(F.map_keys("_vec_a")), F.size(F.map_keys("_vec_b"))),
        )
    )
    return out.drop("est_j", "_vec_a", "_vec_b", "_prefix_a", "_prefix_b")


def pair_feature_concat_sparse(
    pairs: DataFrame,
    doc_vectors: DataFrame,
    vocab_k: int,
    id_col: str = "spec_id",
    vec_col: str = "features",
) -> DataFrame:
    """Reference-exact SPARSE pair representation: the pair's feature is
    the concatenation of the two docs' sparse TF-IDF vectors, with the
    second doc's term indices offset by the vocabulary size
    (spars_concat_col, reference src/functs.c:1185-1203: col[1] of the
    second spec's COO triples gets `+ bow->entries`; the first spec —
    the pair's left side — keeps its indices, no reordering).

    pairs: (a, b[, ...]); doc_vectors: (spec_id, features MAP<INT,FLOAT>).
    Output: pairs' columns + `pair_features` MAP<INT,FLOAT> over the
    doubled index space [0, 2*vocab_k). Docs missing from doc_vectors
    contribute an empty side (the engine's prep emits empty maps for
    vocab-disjoint docs — same convention).

    The engine's production scorer deliberately does NOT use this
    representation (3 similarity features instead, SURVEY.md §7.0); it
    exists for parity with the reference's LR feature space and for
    pipelines that want the raw bag-of-words pair vector.
    """
    empty = F.map_from_arrays(
        F.array().cast("array<int>"), F.array().cast("array<float>")
    )
    side = doc_vectors.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    out = (
        pairs.join(side.withColumnRenamed("_id", "a"), "a", "left")
        .withColumnRenamed("_v", "_v_a")
        .join(side.withColumnRenamed("_id", "b"), "b", "left")
        .withColumnRenamed("_v", "_v_b")
        .withColumn("_v_a", F.coalesce("_v_a", empty))
        .withColumn(
            "_v_b",
            F.transform_keys(
                F.coalesce("_v_b", empty), lambda k, _: k + F.lit(int(vocab_k))
            ),
        )
        .withColumn("pair_features", F.map_concat("_v_a", "_v_b"))
    )
    return out.drop("_v_a", "_v_b")


def pair_feature_concat_dense(
    pairs: DataFrame,
    doc_vectors: DataFrame,
    vocab_k: int,
    id_col: str = "spec_id",
    vec_col: str = "features",
) -> DataFrame:
    """Reference-exact DENSE pair representation: a 2*vocab_k float array
    where the doc with the LARGER vector element-sum occupies [0, k) and
    the other [k, 2k) — ties keep the pair's left side first
    (concat_specVectors, reference src/functs.c:1005-1031: the vectors
    swap places iff sum1 < sum2 strictly).

    Same caveats as :func:`pair_feature_concat_sparse`; the dense form
    additionally materializes 2*vocab_k floats per pair, so at candidate
    scale it belongs behind an aggressive prefilter. All arithmetic is
    JVM-side (transform/aggregate expressions), no Python in the path.
    """
    empty = F.map_from_arrays(
        F.array().cast("array<int>"), F.array().cast("array<float>")
    )

    def dense(m: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(int(vocab_k) - 1)),
            lambda i: F.coalesce(
                F.element_at(m, i), F.lit(0.0).cast("float")
            ),
        )

    def vec_sum(m: Column) -> Column:
        return F.aggregate(
            F.map_values(m),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double"),
        )

    side = doc_vectors.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    out = (
        pairs.join(side.withColumnRenamed("_id", "a"), "a", "left")
        .withColumnRenamed("_v", "_v_a")
        .join(side.withColumnRenamed("_id", "b"), "b", "left")
        .withColumnRenamed("_v", "_v_b")
        .withColumn("_v_a", F.coalesce("_v_a", empty))
        .withColumn("_v_b", F.coalesce("_v_b", empty))
        .withColumn(
            "pair_features",
            F.when(
                vec_sum(F.col("_v_a")) >= vec_sum(F.col("_v_b")),
                F.concat(dense(F.col("_v_a")), dense(F.col("_v_b"))),
            ).otherwise(F.concat(dense(F.col("_v_b")), dense(F.col("_v_a")))),
        )
    )
    return out.drop("_v_a", "_v_b")


def prune_weak_examples(
    scored: DataFrame, threshold: float, proba_col: str = "proba"
) -> DataFrame:
    """Weak-example pruning (dataI_remove_weak, src/logistic.c:1040-1065):
    keep a pseudo-labeled example only when its probability is in the
    CONFIDENT third of its side of the threshold —
    proba >= 1 - (1-t)/3 (strong positive) or proba <= t/3 (strong
    negative); the middle band is dropped. Boundary semantics match the
    reference exactly: `proba < limit1` and `proba > limit0` are the
    REMOVED bands, so both limits themselves survive.

    The reference build constructs but never invokes this pruning (its
    self-training path uses the fixed [0.85/0.15] confidence band —
    filter_confidence_band here); implemented for full §2 parity and for
    callers that want threshold-relative pseudo-label hygiene.
    """
    t = float(threshold)
    limit1 = 1.0 - (1.0 - t) / 3.0
    limit0 = t / 3.0
    p = F.col(proba_col)
    return scored.filter((p >= F.lit(limit1)) | (p <= F.lit(limit0)))


def proba_expr(model: LRModel, feature_cols: tuple[str, ...] = FEATURE_COLS) -> Column:
    """sigmoid(b + w·x) as a JVM expression (calc_s, src/logistic.c:915-950)."""
    z = F.lit(float(model.bias))
    for wj, c in zip(model.weights, feature_cols):
        z = z + F.lit(float(wj)) * F.col(c)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def predict(
    scored: DataFrame, model: LRModel, feature_cols: tuple[str, ...] = FEATURE_COLS
) -> DataFrame:
    """Adds proba + predict columns (logistic_predict_proba_dataList,
    src/logistic.c:522-552: predict = proba >= threshold)."""
    return scored.withColumn("proba", proba_expr(model, feature_cols)).withColumn(
        "predict", (F.col("proba") >= F.lit(float(model.threshold))).cast("int")
    )


def update_threshold(model: LRModel, n_pos: int, n_neg: int) -> LRModel:
    """Exact logistic_overfit_dataList (src/logistic.c:693-734):
    cumulative fit1/fit0; clamp-then-return at [0.2, 0.8]; rate from the
    majority side; threshold += (threshold/rate) * threshold."""
    fit1 = model.fit1 + n_pos
    fit0 = model.fit0 + n_neg
    t = model.threshold
    if t >= 0.8:
        return replace(model, fit1=fit1, fit0=fit0, threshold=0.8)
    if t <= 0.2:
        return replace(model, fit1=fit1, fit0=fit0, threshold=0.2)
    if fit1 > fit0:
        rate = float(fit1) if fit0 == 0 else fit1 / fit0
    else:
        rate = -float(fit0) if fit1 == 0 else -fit0 / fit1
    t = t + (t / rate) * t
    return replace(model, fit1=fit1, fit0=fit0, threshold=t)


def _batch_gradient_kernel(feature_cols: tuple[str, ...], weights: np.ndarray, bias: float):
    """applyInPandas kernel: one (n_pairs, b_grad, grad_0..grad_d) row per
    batch. Arrow-columnar in, numpy vectorized — no per-row Python."""

    d = len(feature_cols)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[list(feature_cols)].to_numpy(dtype=np.float64)
        y = pdf["label"].to_numpy(dtype=np.float64)
        z = bias + x @ weights
        proba = 1.0 / (1.0 + np.exp(-z))
        missed = proba - y
        n = len(pdf)
        grad = (x * missed[:, None]).sum(axis=0) / n
        out = {
            "n_pairs": [n],
            "b_grad": [missed.mean()],
            "abs_missed_sum": [np.abs(missed).sum()],
        }
        for j in range(d):
            out[f"g{j}"] = [grad[j]]
        return pd.DataFrame(out)

    schema = "n_pairs long, b_grad double, abs_missed_sum double, " + ", ".join(
        f"g{j} double" for j in range(d)
    )
    return kernel, schema


def fit_lr(
    pairs: DataFrame,
    feature_cols: tuple[str, ...] = FEATURE_COLS,
    label_col: str = "label",
    model: LRModel | None = None,
    max_rounds: int = 2,
    batch_size: int = 500,
) -> LRModel:
    """Synchronous mini-batch GD.

    Per round: batch id = row hash mod n_batches (deterministic stand-in
    for the reference's arrival-order batching, 500 pairs/batch
    src/functs.c:20); applyInPandas computes per-batch gradients
    (ONE shuffle on batch id); driver averages (weighted by batch size),
    updates weights (w -= lr·grad, weights_update src/logistic.c:773-801)
    and the moving threshold; stops when mean |missed| <= stop_limit or
    after max_rounds (reference: trained_times > 1 → stop,
    src/logistic.c:454 — default max_rounds=2 mirrors it; pipelines may
    raise it).
    """
    model = model or LRModel(weights=tuple(0.0 for _ in feature_cols))
    df = pairs.select(
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.col(label_col).cast("double").alias("label"),
    ).cache()
    n_total = df.count()
    if n_total == 0:
        return model
    n_batches = max(1, (n_total + batch_size - 1) // batch_size)
    batched = df.withColumn(
        "_batch",
        F.pmod(F.xxhash64(*feature_cols, "label"), F.lit(n_batches)),
    )

    label_counts = {
        int(r["label"]): r["n"]
        for r in df.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    for _ in range(max_rounds):
        kernel, schema = _batch_gradient_kernel(feature_cols, model.w(), model.bias)

        def with_batch(pdf: pd.DataFrame) -> pd.DataFrame:
            return kernel(_ordered(pdf)).assign(_batch=pdf["_batch"].iat[0])

        # each batch's rows sorted, the partials folded in batch-id order:
        # the same fit under any partitioning of ``pairs``
        rows = batched.groupBy("_batch").applyInPandas(with_batch, schema + ", _batch long")
        stats = sorted(rows.collect(), key=lambda r: r["_batch"])
        n = sum(r["n_pairs"] for r in stats)
        b_grad = sum(r["b_grad"] * r["n_pairs"] for r in stats) / n
        grad = np.array(
            [sum(r[f"g{j}"] * r["n_pairs"] for r in stats) / n for j in range(len(feature_cols))]
        )
        mean_abs_missed = sum(r["abs_missed_sum"] for r in stats) / n

        new_w = model.w() - model.lr * grad
        model = replace(
            model,
            weights=tuple(float(v) for v in new_w),
            bias=float(model.bias - model.lr * b_grad),
            rounds_trained=model.rounds_trained + 1,
        )
        model = update_threshold(model, label_counts.get(1, 0), label_counts.get(0, 0))
        if mean_abs_missed <= model.stop_limit:
            break

    df.unpersist()
    return model


def _ridge_penalty(d: int, ridge: float, n_total: int) -> np.ndarray:
    """(d+1)² ridge penalty, intercept UNPENALIZED (conventional ridge;
    the r1 version shrank the bias toward 0 and distorted the predicted
    base rate — ADVICE.md). The n-scaling keeps the penalty's relative
    strength constant as the pair count grows."""
    p = np.eye(d + 1) * (ridge * max(1.0, float(n_total)))
    p[0, 0] = 0.0
    return p


# The most rows the driver reads in one collect: the IRLS fit's driver
# path ((d+1) float64s per row — 2M pairs ≈ 64 MB) and the calibration
# read (plans.pipeline.edge_gates).
DRIVER_MAX_ROWS = 2_000_000


def _driver_rows(df: DataFrame) -> pd.DataFrame | None:
    """``df`` on the driver in ONE collect, ordered by its own column
    values (so every sum over it is the same whatever the partitioning);
    None when it holds more than DRIVER_MAX_ROWS rows."""
    pdf = df.limit(DRIVER_MAX_ROWS + 1).toPandas()
    if len(pdf) > DRIVER_MAX_ROWS:
        return None
    return _ordered(pdf)


def _ordered(pdf: pd.DataFrame) -> pd.DataFrame:
    """Rows sorted by every column: an order their values alone fix."""
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def _irls_sums(pdf: pd.DataFrame, feature_cols: tuple[str, ...], beta: np.ndarray) -> np.ndarray:
    """One IRLS round's sums over ``pdf``'s rows at coefficients ``beta``
    (intercept first): [n, n_pos, gradient (d+1), Hessian ((d+1)², row
    major)]. The feature count is tiny, so the Hessian is driver-solvable."""
    x = np.column_stack([np.ones(len(pdf)), pdf[list(feature_cols)].to_numpy(dtype=np.float64)])
    y = pdf["label"].to_numpy(dtype=np.float64)
    p = 1.0 / (1.0 + np.exp(-(x @ beta)))
    g = x.T @ (p - y)
    h = x.T @ (x * (p * (1.0 - p))[:, None])
    return np.concatenate([[len(y), (y == 1.0).sum()], g, h.ravel()])


def fit_lr_newton(
    pairs: DataFrame,
    feature_cols: tuple[str, ...] = FEATURE_COLS,
    label_col: str = "label",
    max_rounds: int = 8,
    ridge: float = 1e-3,
    tol: float = 1e-4,
) -> LRModel:
    """IRLS (Newton) fit — the pipeline's production trainer.

    One Newton loop; each round's (n, n_pos, gradient, Hessian) sums come
    from one kernel (_irls_sums), run where the rows are:
    - up to DRIVER_MAX_ROWS rows (the common case: labeled pairs are tiny
      next to the corpus): ONE ordered collect (_driver_rows), every
      round in local numpy. This removes max_rounds driver-barrier jobs —
      profiling showed the per-round applyInPandas+collect cycle was the
      single largest NON-scaling stage of the ER pipeline (13-30 s wall
      at bench scale regardless of core count, pure scheduling latency).
    - more: per round, one applyInPandas job runs the kernel over each
      of 64 hash batches (rows sorted within the batch) and the driver
      folds the partial sums in batch-id order.
    Both paths sum in an order fixed by the rows' values, so the fit is
    bit-equal under any partitioning of ``pairs``. Converges in ~5
    rounds where the reference's lr=0.6 GD (kept in fit_lr for parity)
    needs hundreds.

    Threshold bookkeeping matches fit_lr. Regularization (be precise —
    r4 audit): the ridge·n·I penalty (intercept diagonal zeroed, see
    _ridge_penalty) sits in the HESSIAN ONLY, i.e. Levenberg-style step
    damping, NOT an L2-penalized objective — iterated to convergence it
    would reach the unpenalized MLE. The effective regularizer is
    damping + the bounded round budget (max_rounds ≤ 8), which is what
    keeps near-separable fits from blowing the weights up in a
    noise-chosen direction (measured: w_jaccard ≈ +30, w_cosine ≈ −9.5
    at ridge 1e-8 — the sign on cosine was WRONG and MinHash noise-tail
    pairs crossed the threshold). A true-ridge variant (penalty in the
    gradient too) was tried in r4 and REJECTED on measurement: it
    flattens the fit enough that the calibrated edge threshold drops
    (0.45 → 0.18 on the tiny hard corpus) and full-floor template
    negatives walk over it (pairwise precision 0.95 → 0.17), while the
    hard-tier conditional structure the model needs (same cosine,
    LOWER lev ⇒ clone, not boilerplate — a legitimately negative
    conditional weight) is weakened. The damped/early-stopped fit is
    the behavior every committed quality number rests on.
    """
    d = len(feature_cols)
    df = pairs.select(
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.col(label_col).cast("double").alias("label"),
    )
    pdf = _driver_rows(df)
    batched = None
    if pdf is not None:
        def round_sums(beta: np.ndarray) -> np.ndarray:
            return _irls_sums(pdf, feature_cols, beta)
    else:
        batched = df.withColumn(
            "_batch", F.pmod(F.xxhash64(*feature_cols, "label"), F.lit(64))
        ).cache()
        schema = "_batch long, " + ", ".join(f"s{i} double" for i in range(2 + (d + 1) * (d + 2)))

        def round_sums(beta: np.ndarray) -> np.ndarray:
            def kernel(part: pd.DataFrame) -> pd.DataFrame:
                sums = _irls_sums(_ordered(part), feature_cols, beta)
                return pd.DataFrame([[int(part["_batch"].iat[0]), *sums]])

            rows = sorted(batched.groupBy("_batch").applyInPandas(kernel, schema).collect())
            return np.sum([r[1:] for r in rows], axis=0)

    model = LRModel(weights=tuple(0.0 for _ in feature_cols))
    beta = np.zeros(d + 1)
    for _ in range(max_rounds):
        sums = round_sums(beta)
        n, n_pos = int(sums[0]), int(sums[1])
        if n == 0:
            break
        g = sums[2 : d + 3]
        h = sums[d + 3 :].reshape(d + 1, d + 1) + _ridge_penalty(d, ridge, n)
        step = np.linalg.solve(h, g)
        beta = beta - step
        model = replace(
            model,
            weights=tuple(float(v) for v in beta[1:]),
            bias=float(beta[0]),
            rounds_trained=model.rounds_trained + 1,
        )
        model = update_threshold(model, n_pos, n - n_pos)
        if float(np.abs(step).max()) < tol:
            break
    if batched is not None:
        batched.unpersist()
    return model


def calibrate_edge_threshold(label: np.ndarray, proba: np.ndarray, fallback: float) -> float:
    """F1-maximizing decision threshold over labeled pairs' ``label``
    (0/1) and ``proba`` arrays.

    Why this exists: the reference's moving threshold
    (logistic_overfit_dataList, src/logistic.c:693-734 — kept verbatim in
    update_threshold for §2.9 parity) monotonically climbs to its 0.8
    clamp whenever cumulative fit1 > fit0. That is harmless for the
    reference's 2000-dim LR, whose probabilities saturate at 0/1 — but a
    compact similarity-feature model on a genuinely hard corpus is not
    that confident (measured on the HARD tier: max candidate proba 0.795
    < the 0.8 clamp → ZERO predicted edges, recall collapsed to the
    labeled closure). Calibrating on labeled data is the standard fix:
    sweep every distinct proba midpoint, pick the F1-argmax, tie-break
    toward the HIGHER threshold (precision-first, same reasoning as the
    edge floors).

    Driver-local by design: labeled pairs are the small relation of the
    problem, read once for every calibration (plans.pipeline.edge_gates).
    The result does not depend on the rows' order. Falls back to
    ``fallback`` (the model's own threshold) when the labels are
    single-class.
    """
    y = np.asarray(label, dtype=np.float64)
    p = np.asarray(proba, dtype=np.float64)
    n_pos = float((y == 1.0).sum())
    if n_pos == 0 or n_pos == len(y):
        return fallback
    order = np.argsort(-p)
    p_sorted, y_sorted = p[order], y[order]
    tp = np.cumsum(y_sorted)
    k = np.arange(1, len(y) + 1)
    f1 = 2 * tp / (k + n_pos)  # 2tp / (tp+fp + tp+fn)
    # candidate thresholds: midpoints ABOVE each cut position (accept the
    # top-k probas); collapse ties so a threshold never splits equal probas
    valid = np.r_[p_sorted[:-1] != p_sorted[1:], True]
    best = int(np.flatnonzero(valid)[np.argmax(f1[valid])])
    hi = p_sorted[best]
    lo = p_sorted[best + 1] if best + 1 < len(p_sorted) else max(hi - 1e-6, 0.0)
    return float(min((hi + lo) / 2.0, hi - 1e-12))


# The override bar's clamp [BAR_FLOOR, BAR_CAP], its least headroom and
# its evidence gate (calibrate_override_bar gives each value's reason).
BAR_FLOOR = 0.8
BAR_CAP = 0.99
BAR_MARGIN = 0.02
BAR_MIN_N = 150


def calibrate_override_bar(neg_proba: np.ndarray) -> float:
    """Calibrate a high-confidence override bar on ``neg_proba``: the
    probas of the labeled NEGATIVE pairs inside the bar's gate region.

    The override accepts an edge under RELAXED similarity floors when the
    model is sufficiently confident; the question is what "sufficiently"
    means. A fixed bar is either too strict (r4 measured: true
    adversarial clones score proba 0.95-0.98 and a 0.98 bar rejects all
    of them — recall 0.69) or unsafe on a corpus whose negatives the
    model scores high. Calibration answers it directly: the bar is the
    max proba any LABELED NEGATIVE inside the gate's region achieves,
    plus a margin — i.e. the smallest bar the evidence says no
    known-negative clears — clamped to [BAR_FLOOR, BAR_CAP].

    **Lowering the bar below BAR_CAP requires POSITIVE evidence.** If
    fewer than BAR_MIN_N labeled negatives fall inside the region, the
    sample says nothing about the high-proba tail of the corpus's
    in-region negatives, and the bar stays at the cap. Absence of
    evidence is not favorable evidence — measured r4: on the standard
    bench corpus ZERO labeled negatives pass the relaxed floors, and an
    earlier draft that fell back to the floor admitted 117 cross-cluster
    false edges scoring 0.80-0.898 (pairwise precision 1.0 -> 0.970),
    none of which any labeled pair foreshadowed. On the hard tier 381
    labeled negatives pass (max proba 0.177) — there the evidence is
    real, the floor bar is granted, and it admits 11.7k true low-overlap
    clone edges with zero false ones.

    BAR_MIN_N = 150 is the rule of three: n all-clean negative samples in
    the region bound the region's true high-proba negative rate below
    ~3/n at 95% confidence, so n=150 certifies ≲2%; the r4 value of 30
    certified only ≲10%, and the tiny hard corpus (46 in-region
    negatives, a fragile small-sample IRLS fit whose noise pocket the
    labels never sampled) walked through it: 120 false cluster pairs at
    proba 0.80-0.86, pairwise precision 0.95 → 0.80. A sample-size gate
    is the honest fix — weight-sign gating was tried and rejected,
    because at bench scale a negative CONDITIONAL weight (same cosine,
    lower lev ⇒ clone not boilerplate) is genuine generalizing signal,
    not pathology.

    BAR_FLOOR = 0.8 is the reference's own confidence clamp
    (logistic_overfit_dataList's threshold ceiling, src/logistic.c:734):
    no matter how clean the labeled negatives look, an override below
    that structural minimum is never granted, because a finite labeled
    negative sample can still under-represent the corpus's negative
    shapes.

    The region is the acceptance gate's own (plans.pipeline.edge_gates
    selects ``neg_proba`` by it), so the evidence that grants a bar is
    drawn from exactly the pairs the bar admits — e.g. the SEMANTIC
    gate's region IS "cosine at least cmin", and the (numerous,
    low-proba) zero-cosine labeled negatives outside it must not dilute
    the in-region evidence.
    """
    if len(neg_proba) < BAR_MIN_N:
        return BAR_CAP
    worst = float(np.max(neg_proba))
    # Headroom rule (r4): the bar must stand clear of the worst labeled
    # negative by at least half its remaining distance to certainty, not
    # a flat BAR_MARGIN. A labeled-negative max is an n-sample extreme —
    # the corpus's unlabeled negative tail WILL exceed it — so a worst
    # near the floor (say 0.78) must not be granted a bar of 0.80 with
    # only 0.02 of room; it gets 0.89. When the model separates sharply
    # (bench-scale hard tier: worst 0.177), the rule is inactive — the
    # floor clamp binds and the grant is unchanged. Note this rule is a
    # BACKSTOP for moderate worsts; the tiny-corpus failure mode (all
    # labeled negatives ≤ 0.6 yet an unlabeled pocket at 0.80-0.86,
    # because the thin-sample fit's geometry differs from the tail's) is
    # caught by the BAR_MIN_N evidence gate above, not by any margin on
    # the max.
    headroom = max(BAR_MARGIN, 0.5 * (1.0 - worst))
    return float(min(max(worst + headroom, BAR_FLOOR), BAR_CAP))


def accuracy(scored: DataFrame, label_col: str = "label") -> float:
    """corrects / total (logistic_score, src/logistic.c:601-615) — the
    global definition, not the reference's per-batch mean-of-means quirk
    (src/functs.c:1504-1508)."""
    row = scored.select(
        F.avg((F.col("predict") == F.col(label_col)).cast("double")).alias("acc")
    ).collect()[0]
    return float(row["acc"]) if row["acc"] is not None else 0.0


def self_training_pseudo_labels(
    scored_candidates: DataFrame,
    known_pairs: DataFrame,
    limit: int | None = None,
) -> DataFrame:
    """One self-training round's pseudo-labeled pairs
    (src/functs.c:1671-1728): keep label 1 iff 0.85 <= p < 1.0, label 0
    iff 0.0 < p <= 0.15 (confidence band src/functs.c:1846-1852); drop
    pairs already labeled (check_info_list src/functs.c:1883-1928);
    cap at `limit` (pairs_limit = set_size × 12, src/functs.c:23,1718),
    deterministic order (by confidence, then pair) instead of the
    reference's racy global counter."""
    banded = scored_candidates.withColumn(
        "label",
        F.when((F.col("proba") >= 0.85) & (F.col("proba") < 1.0), F.lit(1))
        .when((F.col("proba") > 0.0) & (F.col("proba") <= 0.15), F.lit(0))
        .otherwise(F.lit(None)),
    ).filter(F.col("label").isNotNull())
    known = known_pairs.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    )
    fresh = banded.join(known, ["a", "b"], "left_anti")
    if limit is not None:
        # Apply the cap only when it binds: an exact global top-`limit`
        # funnels `limit` rows through ONE partition (Sort + GlobalLimit),
        # and pairs_limit = 12 x train size can be millions — paying that
        # concentration point when fresh already fits under the cap is a
        # pure scaling loss (the common case at scale: the confidence
        # band + known-pair anti-join leave far fewer than 12x train).
        # The count is a cheap barrier over the already-filtered relation.
        conf = F.greatest(F.col("proba"), F.lit(1.0) - F.col("proba"))
        if fresh.count() > limit:
            fresh = fresh.orderBy(F.desc(conf), "a", "b").limit(limit)
    return fresh
