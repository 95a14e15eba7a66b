"""LR training/threshold/self-training vs a NumPy oracle (FIXTURES.md lr_batch)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdataentityresolution_spark.operators import scoring as S


def np_fit(x, y, rounds, lr=0.6, stop=0.15):
    """NumPy oracle of the synchronous full-batch GD + reference threshold."""
    w = np.zeros(x.shape[1])
    b = 0.0
    threshold = 0.5
    fit1 = fit0 = 0
    n_pos, n_neg = int(y.sum()), int(len(y) - y.sum())
    for _ in range(rounds):
        proba = 1 / (1 + np.exp(-(b + x @ w)))
        missed = proba - y
        w = w - lr * (x * missed[:, None]).sum(0) / len(y)
        b = b - lr * missed.mean()
        # threshold (logistic_overfit_dataList semantics)
        fit1 += n_pos
        fit0 += n_neg
        if threshold >= 0.8:
            threshold = 0.8
        elif threshold <= 0.2:
            threshold = 0.2
        else:
            if fit1 > fit0:
                rate = float(fit1) if fit0 == 0 else fit1 / fit0
            else:
                rate = -float(fit0) if fit1 == 0 else -fit0 / fit1
            threshold += (threshold / rate) * threshold
        if np.abs(missed).mean() <= stop:
            break
    return w, b, threshold


@pytest.fixture(scope="module")
def separable(spark):
    rng = np.random.default_rng(0)
    n = 600
    y = (rng.random(n) < 0.5).astype(float)
    x = np.zeros((n, 3))
    # matches: high cosine/jaccard/lev; non-matches: low
    for j in range(3):
        x[:, j] = np.where(y == 1, rng.uniform(0.7, 1.0, n), rng.uniform(0.0, 0.35, n))
    rows = [(float(a), float(b), float(c), int(l)) for (a, b, c), l in zip(x, y)]
    df = spark.createDataFrame(rows, "f_cosine double, f_jaccard double, f_lev double, label int")
    return df, x, y


def test_fit_lr_matches_numpy_full_batch(spark, separable):
    """With batch_size >= n (one batch) the applyInPandas gradient equals
    the full-batch NumPy gradient exactly."""
    df, x, y = separable
    model = S.fit_lr(df, max_rounds=2, batch_size=10**6)
    w, b, t = np_fit(x, y, rounds=2)
    assert np.allclose(model.w(), w, atol=1e-12)
    assert abs(model.bias - b) < 1e-12
    assert abs(model.threshold - t) < 1e-12


def test_fit_lr_batched_equals_full_batch(spark, separable):
    """Size-weighted average of per-batch gradients == full-batch gradient
    (same pairs, any partitioning) — so batching must not change the fit."""
    df, x, y = separable
    m_full = S.fit_lr(df, max_rounds=2, batch_size=10**6)
    m_batched = S.fit_lr(df, max_rounds=2, batch_size=100)
    assert np.allclose(m_full.w(), m_batched.w(), atol=1e-9)
    assert abs(m_full.bias - m_batched.bias) < 1e-9


def test_fit_lr_independent_of_partitioning(spark):
    """Each batch's rows are sorted and the per-batch stats fold in
    batch-id order, so the reference GD gives bit-equal weights with its
    input in 1 and in 5 partitions."""
    rng = np.random.default_rng(7)
    x = rng.random((3000, 3))
    logit = 4.0 * x[:, 0] + 2.0 * x[:, 1] - 3.0 * x[:, 2] - 1.0
    y = (rng.random(len(x)) < 1 / (1 + np.exp(-logit))).astype(int)
    noisy = spark.createDataFrame(
        [(float(a), float(b), float(c), int(l)) for (a, b, c), l in zip(x, y)],
        "f_cosine double, f_jaccard double, f_lev double, label int",
    )
    fits = [
        S.fit_lr(df, max_rounds=2, batch_size=100)
        for df in (noisy.coalesce(1), noisy.repartition(5))
    ]
    assert (fits[0].weights, fits[0].bias) == (fits[1].weights, fits[1].bias)


def test_trained_model_separates(spark, separable):
    """Newton/IRLS (the pipeline trainer) must nail a separable problem."""
    df, x, y = separable
    model = S.fit_lr_newton(df, max_rounds=8)
    scored = S.predict(df, model)
    acc = S.accuracy(scored)
    assert acc >= 0.99, f"accuracy {acc}"
    # probabilities should be extreme on both classes
    stats = scored.groupBy("label").agg(F.avg("proba").alias("p")).collect()
    p = {r["label"]: r["p"] for r in stats}
    assert p[1] > 0.9 and p[0] < 0.1


def test_threshold_clamp_bounds():
    m = S.LRModel(threshold=0.85)
    m2 = S.update_threshold(m, 10, 10)
    assert m2.threshold == 0.8
    m3 = S.update_threshold(S.LRModel(threshold=0.15), 10, 10)
    assert m3.threshold == 0.2
    # balanced labels → rate = -1 → threshold decreases by threshold^2...
    m4 = S.update_threshold(S.LRModel(threshold=0.5), 5, 5)
    assert m4.threshold == pytest.approx(0.5 + (0.5 / -1.0) * 0.5)


def test_fit_lr_newton_distributed_matches_driver_local(spark, separable, monkeypatch):
    """Past DRIVER_MAX_ROWS (distributed per-batch gradient + Hessian
    partials, scoring.py) the fit must equal the driver-local ordered
    read's — same loop, same kernel, different summation route
    (VERDICT.md r2 #7: this branch previously had no CI coverage). Both
    take the same rounds and reach the same threshold and counters, with
    bias and weights equal up to summation-order noise: on the separable
    fixture and on noisy rows spread over 5 partitions, at 2, 5 and 8
    rounds. Each path is bit-equal with its input in 1 and in 5
    partitions."""
    rng = np.random.default_rng(7)
    x = rng.random((3000, 3))
    logit = 4.0 * x[:, 0] + 2.0 * x[:, 1] - 3.0 * x[:, 2] - 1.0
    y = (rng.random(len(x)) < 1 / (1 + np.exp(-logit))).astype(int)
    noisy = spark.createDataFrame(
        [(float(a), float(b), float(c), int(l)) for (a, b, c), l in zip(x, y)],
        "f_cosine double, f_jaccard double, f_lev double, label int",
    ).repartition(5)
    cases = ((separable[0], 6), (noisy, 2), (noisy, 5), (noisy, 8))
    fits_local = [S.fit_lr_newton(df, max_rounds=rounds) for df, rounds in cases]
    assert S.fit_lr_newton(noisy.coalesce(1), max_rounds=5) == fits_local[2]
    with monkeypatch.context() as m:
        m.setattr(S, "DRIVER_MAX_ROWS", 0)
        fits_dist = [S.fit_lr_newton(df, max_rounds=rounds) for df, rounds in cases]
        assert S.fit_lr_newton(noisy.coalesce(1), max_rounds=5) == fits_dist[2]
    for (_, rounds), local, dist in zip(cases, fits_local, fits_dist):
        assert dist.rounds_trained == local.rounds_trained > 0
        assert (dist.threshold, dist.fit1, dist.fit0) == (local.threshold, local.fit1, local.fit0)
        assert dist.bias == pytest.approx(local.bias, rel=1e-9, abs=0)
        assert np.allclose(dist.w(), local.w(), rtol=1e-9, atol=0), (rounds, dist, local)


def np_irls(x, y, rounds=5, ridge=1e-3, tol=1e-4):
    """NumPy replica of fit_lr_newton's math (intercept unpenalized,
    n-scaled ridge, Newton steps, |step|<tol stop) incl. threshold."""
    n, d = x.shape
    xb = np.column_stack([np.ones(n), x])
    beta = np.zeros(d + 1)
    penalty = np.eye(d + 1) * (ridge * max(1.0, float(n)))
    penalty[0, 0] = 0.0
    threshold, fit1, fit0 = 0.5, 0, 0
    n_pos, n_neg = int((y == 1).sum()), int((y == 0).sum())
    for _ in range(rounds):
        p = 1.0 / (1.0 + np.exp(-(xb @ beta)))
        g = xb.T @ (p - y)
        h = xb.T @ (xb * (p * (1 - p))[:, None]) + penalty
        step = np.linalg.solve(h, g)
        beta = beta - step
        fit1 += n_pos
        fit0 += n_neg
        if threshold >= 0.8:
            threshold = 0.8
        elif threshold <= 0.2:
            threshold = 0.2
        else:
            if fit1 > fit0:
                rate = float(fit1) if fit0 == 0 else fit1 / fit0
            else:
                rate = -float(fit0) if fit1 == 0 else -fit0 / fit1
            threshold += (threshold / rate) * threshold
        if float(np.abs(step).max()) < tol:
            break
    return beta[1:], beta[0], threshold


def test_self_train_round_matches_numpy_reference(spark, separable):
    """Full reference self-training semantics end-to-end vs a NumPy
    replica (SURVEY.md §5.2 item 3; src/functs.c:1671-1728): train an
    initial model, score unlabeled candidates, select pseudo-labels via
    the half-open confidence band [0.85, 1.0) / (0.0, 0.15], drop
    already-known pairs, cap at pairs_limit = 12 × train size in
    confidence-then-pair order, then refit ONE round on train ∪ pseudo —
    the refit weights/bias/threshold must match the NumPy replica."""
    df, x, y = separable
    model = S.fit_lr_newton(df, max_rounds=5)

    # deterministic unlabeled candidates: confident matches, confident
    # non-matches, and an uncertain band that must be dropped
    rng = np.random.default_rng(7)
    n_cand = 300
    xc = np.zeros((n_cand, 3))
    kind = np.arange(n_cand) % 3  # 0: match-like, 1: non-match-like, 2: uncertain
    for j in range(3):
        xc[:, j] = np.where(
            kind == 0,
            rng.uniform(0.8, 1.0, n_cand),
            np.where(kind == 1, rng.uniform(0.0, 0.2, n_cand), rng.uniform(0.45, 0.55, n_cand)),
        )
    cand_rows = [
        (f"c{i:04d}", f"d{i:04d}", float(a), float(b), float(c))
        for i, (a, b, c) in enumerate(xc)
    ]
    cand = spark.createDataFrame(
        cand_rows, "a string, b string, f_cosine double, f_jaccard double, f_lev double"
    )
    scored = S.predict(cand, model)
    known = spark.createDataFrame([("c0000", "d0000")], "a string, b string")
    train_size = len(y)
    limit = 12 * train_size
    pseudo = S.self_training_pseudo_labels(scored, known_pairs=known, limit=limit)

    # ---- NumPy replica of band selection ----
    w, b = model.w(), model.bias
    p = 1.0 / (1.0 + np.exp(-(b + xc @ w)))
    sel = []
    for i in range(n_cand):
        if (f"c{i:04d}", f"d{i:04d}") == ("c0000", "d0000"):
            continue  # known pair dropped
        if 0.85 <= p[i] < 1.0:
            sel.append((i, 1))
        elif 0.0 < p[i] <= 0.15:
            sel.append((i, 0))
    sel.sort(key=lambda t: (-max(p[t[0]], 1 - p[t[0]]), f"c{t[0]:04d}", f"d{t[0]:04d}"))
    sel = sel[:limit]
    got = {(r["a"], r["b"]): r["label"] for r in pseudo.collect()}
    expect = {(f"c{i:04d}", f"d{i:04d}"): lbl for i, lbl in sel}
    assert got == expect

    # ---- exactly one retrain round over train ∪ pseudo, vs NumPy IRLS ----
    refit_input = df.select(
        F.lit("t").alias("a"), F.lit("t").alias("b"), "label", *S.FEATURE_COLS
    ).unionByName(pseudo.select("a", "b", "label", *S.FEATURE_COLS))
    refit = S.fit_lr_newton(refit_input, max_rounds=5)

    x_all = np.vstack([x, xc[[i for i, _ in sel]]])
    y_all = np.concatenate([y, np.array([lbl for _, lbl in sel], dtype=float)])
    w_np, b_np, t_np = np_irls(x_all, y_all, rounds=5)
    assert np.allclose(refit.w(), w_np, atol=1e-8), (refit.weights, w_np)
    assert abs(refit.bias - b_np) < 1e-8
    assert refit.threshold == pytest.approx(t_np, abs=1e-12)

    # quality: the refit model still separates the candidate bands
    rescored = S.predict(cand, refit)
    hi = rescored.filter(F.col("f_cosine") >= 0.8).agg(F.min("proba")).collect()[0][0]
    lo = rescored.filter(F.col("f_cosine") <= 0.2).agg(F.max("proba")).collect()[0][0]
    assert hi > 0.9 and lo < 0.1


def test_self_training_band_and_dedup(spark):
    scored = spark.createDataFrame(
        [
            ("a", "b", 0.99),   # confident match
            ("c", "d", 0.90),   # confident match
            ("e", "f", 0.10),   # confident non-match
            ("g", "h", 0.5),    # uncertain — dropped
            ("i", "j", 1.0),    # p == 1.0 excluded (band is half-open)
            ("k", "l", 0.0),    # p == 0.0 excluded
        ],
        "a string, b string, proba double",
    )
    known = spark.createDataFrame([("a", "b")], "a string, b string")
    out = S.self_training_pseudo_labels(scored, known)
    got = {(r["a"], r["b"]): r["label"] for r in out.collect()}
    assert got == {("c", "d"): 1, ("e", "f"): 0}
    capped = S.self_training_pseudo_labels(scored, known, limit=1)
    assert capped.count() == 1


def test_pair_feature_concat_sparse(spark):
    """spars_concat_col parity (src/functs.c:1185-1203): second side's
    indices offset by vocab size; missing docs contribute empty sides."""
    from bigdataentityresolution_spark.operators.scoring import (
        pair_feature_concat_sparse,
    )

    vecs = spark.createDataFrame(
        [(1, {0: 1.0, 2: 0.5}), (2, {1: 2.0}), (3, {})],
        "spec_id long, features map<int,float>",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4)], "a long, b long"
    )
    out = {
        (r["a"], r["b"]): r["pair_features"]
        for r in pair_feature_concat_sparse(pairs, vecs, vocab_k=4).collect()
    }
    assert out[(1, 2)] == {0: 1.0, 2: 0.5, 5: 2.0}  # b's key 1 -> 1+4
    assert out[(1, 3)] == {0: 1.0, 2: 0.5}          # empty b side
    assert out[(2, 4)] == {1: 2.0}                  # doc 4 missing -> empty


def test_pair_feature_concat_dense_ordering(spark):
    """concat_specVectors parity (src/functs.c:1005-1031): larger-sum
    vector first; ties keep the left side first."""
    from bigdataentityresolution_spark.operators.scoring import (
        pair_feature_concat_dense,
    )

    vecs = spark.createDataFrame(
        [(1, {0: 1.0}), (2, {1: 5.0}), (3, {2: 1.0})],
        "spec_id long, features map<int,float>",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
    out = {
        (r["a"], r["b"]): r["pair_features"]
        for r in pair_feature_concat_dense(pairs, vecs, vocab_k=3).collect()
    }
    # sum(b=5.0) > sum(a=1.0): b occupies [0,3)
    assert out[(1, 2)] == [0.0, 5.0, 0.0, 1.0, 0.0, 0.0]
    # tie (1.0 == 1.0): a stays first
    assert out[(1, 3)] == [1.0, 0.0, 0.0, 0.0, 0.0, 1.0]


def test_prune_weak_examples_boundaries(spark):
    """dataI_remove_weak parity (src/logistic.c:1040-1065): with t=0.6,
    limit1=(2+t)/3=0.8666..., limit0=t/3=0.2 — strict-inequality removal
    bands, both limits survive."""
    from bigdataentityresolution_spark.operators.scoring import prune_weak_examples

    t = 0.6
    limit1 = 1.0 - (1.0 - t) / 3.0
    limit0 = t / 3.0
    rows = [
        (1, limit1),          # == limit1: kept
        (2, limit1 - 1e-6),   # weak positive: removed
        (3, t),               # at threshold but weak: removed
        (4, 0.99),            # strong positive: kept
        (5, limit0),          # == limit0: kept
        (6, limit0 + 1e-6),   # weak negative: removed
        (7, 0.01),            # strong negative: kept
    ]
    df = spark.createDataFrame(rows, "id long, proba double")
    kept = {r["id"] for r in prune_weak_examples(df, t).collect()}
    assert kept == {1, 4, 5, 7}


def _neg_in_region(rows, m):
    """The probas under ``m`` of the labeled negatives among ``rows``
    ((label, f_cosine, f_jaccard, f_lev)) inside the relaxed region
    est-J >= 0.2, cos >= 0.35: what pipeline.edge_gates hands
    calibrate_override_bar."""
    x = np.asarray(rows, dtype=np.float64)
    proba = 1 / (1 + np.exp(-(m.bias + x[:, 1:] @ np.asarray(m.weights))))
    region = (x[:, 2] >= 0.2) & (x[:, 1] >= 0.35)
    return proba[(x[:, 0] == 0) & region]


def test_calibrate_override_bar_requires_evidence():
    """Lowering the bar below cap needs >= BAR_MIN_N labeled negatives IN
    the relaxed region (r4 measured failure: the standard bench corpus
    has ZERO such negatives, yet holds 117 cross-cluster pairs scoring
    0.80-0.898 there — an empty sample must yield cap, not floor)."""
    m = S.LRModel(weights=(1.0, 1.0, 0.0), bias=0.0)
    # all negatives BELOW the relaxed floors -> empty evidence -> cap
    rows = [(0, 0.1, 0.05, 0.9), (0, 0.2, 0.1, 0.8), (1, 0.9, 0.8, 0.1)] * 20
    assert len(_neg_in_region(rows, m)) == 0
    assert S.calibrate_override_bar(_neg_in_region(rows, m)) == 0.99

    # negatives in the region but fewer than min_n -> still cap
    few = [(0, 0.5, 0.3, 0.5)] * 5 + [(1, 0.9, 0.8, 0.1)] * 5
    assert S.calibrate_override_bar(_neg_in_region(few, m)) == 0.99


def test_calibrate_override_bar_with_evidence():
    """With a real in-region negative sample (>= BAR_MIN_N=150, the
    rule-of-three evidence gate) the bar is max(neg proba) + headroom,
    clamped to [floor, cap] — low-scoring negatives grant the floor
    (hard-tier shape: 381 negatives, max proba 0.177 -> bar 0.8)."""
    # strongly negative weights -> all probas tiny -> floor clamp
    m_low = S.LRModel(weights=(-8.0, -8.0, 0.0), bias=-4.0)
    rows = [(0, 0.5, 0.3, 0.5)] * 160 + [(1, 0.9, 0.8, 0.1)] * 10
    assert S.calibrate_override_bar(_neg_in_region(rows, m_low)) == 0.8

    # below min_n in-region negatives: no grant, bar stays at cap —
    # 46 negatives walked 120 false cluster pairs through the r4
    # min_n=30 gate on the tiny hard corpus
    thin = [(0, 0.5, 0.3, 0.5)] * 40 + [(1, 0.9, 0.8, 0.1)] * 10
    assert S.calibrate_override_bar(_neg_in_region(thin, m_low)) == 0.99

    # a high-scoring in-region negative pushes the bar to worst +
    # headroom, where headroom = max(margin, half the distance to
    # certainty) — a near-1 worst negative demands proportional room
    m_hi = S.LRModel(weights=(4.0, 4.0, 0.0), bias=0.0)
    bar = S.calibrate_override_bar(_neg_in_region(rows, m_hi))
    worst = 1 / (1 + np.exp(-(4.0 * 0.5 + 4.0 * 0.3)))
    headroom = max(0.02, 0.5 * (1.0 - worst))
    assert abs(bar - min(max(worst + headroom, 0.8), 0.99)) < 1e-9


def test_calibrate_edge_threshold():
    """The F1-argmax cut between two distinct probas, never between equal
    ones, tie-broken toward the higher threshold; the rows' order does not
    matter, and single-class labels give the fallback."""
    y = np.array([1, 1, 0, 0, 1, 0], dtype=np.float64)
    p = np.array([0.9, 0.8, 0.3, 0.1, 0.8, 0.8])
    # accepting the three 0.8s with the 0.9 (3 tp, 1 fp) beats 0.9 alone
    # (1 tp): F1 6/7 vs 1/2; the cut sits midway to 0.3
    assert S.calibrate_edge_threshold(y, p, 0.5) == (0.8 + 0.3) / 2
    rev = np.arange(len(y))[::-1]
    assert S.calibrate_edge_threshold(y[rev], p[rev], 0.5) == (0.8 + 0.3) / 2
    # F1 ties (0.9 alone, or every pair: both 2/3): the higher cut wins
    assert S.calibrate_edge_threshold(
        np.array([1, 0, 0, 1.0]), np.array([0.9, 0.2, 0.2, 0.1]), 0.5
    ) == (0.9 + 0.2) / 2
    assert S.calibrate_edge_threshold(np.ones(4), p[:4], 0.61) == 0.61
    assert S.calibrate_edge_threshold(np.zeros(0), np.zeros(0), 0.5) == 0.5


def test_calibration_rejects_more_rows_than_driver_max(spark, monkeypatch):
    """Past DRIVER_MAX_ROWS a limit would calibrate on an arbitrary subset
    of the labeled pairs; the one calibration read (pipeline.edge_gates)
    raises instead, and accepts exactly DRIVER_MAX_ROWS rows with the
    same threshold and bars."""
    from bigdataentityresolution_spark.plans import pipeline as P

    m = S.LRModel(weights=(-8.0, -8.0, 0.0), bias=-4.0)
    df = spark.createDataFrame(
        [(0, 0.5, 0.3, 0.5, 5)] * 160 + [(1, 0.9, 0.8, 0.1, 5)] * 10,
        "label int, f_cosine double, f_jaccard double, f_lev double, f_vocab_cov int",
    )

    def decisions():
        thr, gates = P.edge_gates(P.ERConfig(), df, m)
        return thr, [(g.name, g.bar) for g in gates]

    expected = decisions()
    assert expected[1] == [("floors", None), ("override", 0.8), ("semantic", 0.8)]
    monkeypatch.setattr(S, "DRIVER_MAX_ROWS", 169)
    with pytest.raises(ValueError, match="DRIVER_MAX_ROWS=169"):
        decisions()
    monkeypatch.setattr(S, "DRIVER_MAX_ROWS", 170)
    assert decisions() == expected
