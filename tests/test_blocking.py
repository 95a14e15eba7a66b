"""Blocking operator tests: recall on ground truth, caps, salting equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdataentityresolution_spark.operators import blocking as B


def _membership(files_df, shingle_n=2, num_perm=16, bands=4):
    sigs = B.minhash_signatures_df(files_df, shingle_n=shingle_n, num_perm=num_perm)
    return B.membership_from_signatures(sigs, bands=bands, num_perm=num_perm)


def test_block_membership_shape(spark, tiny_tables):
    files_df, _, _ = tiny_tables
    mem = _membership(files_df, num_perm=16, bands=4)
    rows = mem.limit(10).collect()
    assert set(mem.columns) == {"spec_id", "block_key"}
    assert all(r["block_key"].split(":")[0] in {"0", "1", "2", "3"} for r in rows)
    # every record appears in exactly `bands` blocks
    per_spec = mem.groupBy("spec_id").count().select(F.collect_set("count")).collect()[0][0]
    assert per_spec == [4]


def test_candidate_pairs_ordering_and_dedup(spark):
    mem = spark.createDataFrame(
        [("s1", "k1"), ("s2", "k1"), ("s3", "k1"), ("s1", "k2"), ("s2", "k2")],
        "spec_id string, block_key string",
    )
    pairs = B.candidate_pairs(mem).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert got == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}  # deduped across k1/k2
    assert all(a < b for a, b in got)


def test_per_block_cap_bounds_pairs(spark):
    rows = [(f"s{i:03d}", "hot") for i in range(100)]
    mem = spark.createDataFrame(rows, "spec_id string, block_key string")
    n = B.candidate_pairs(mem, per_block_cap=10).count()
    assert n == 45  # 10*9/2, not 4950


def test_blocking_recall_on_truth(spark, tiny_tables):
    """Most true positive pairs must share at least one LSH block
    (north_rule: labeled pairs drawn at the same blocking key)."""
    files_df, truth_df, _ = tiny_tables
    mem = _membership(files_df, shingle_n=2, num_perm=32, bands=16)
    cand = B.candidate_pairs(mem, per_block_cap=128)

    t1 = truth_df.select(F.col("spec_id").alias("a"), F.col("cluster_id").alias("c"))
    t2 = truth_df.select(F.col("spec_id").alias("b"), F.col("cluster_id").alias("c"))
    true_pairs = t1.join(t2, "c").filter(F.col("a") < F.col("b")).select("a", "b")
    n_true = true_pairs.count()
    n_found = true_pairs.join(cand, ["a", "b"], "left_semi").count()
    recall = n_found / n_true
    assert recall >= 0.95, f"blocking recall {recall:.3f} below 0.95 ({n_found}/{n_true})"

    # and blocking must actually block: candidates far below n^2/2
    n_files = files_df.count()
    assert cand.count() < 0.05 * n_files * (n_files - 1) / 2


def test_salted_equals_unsalted(spark, tiny_tables):
    files_df, _, _ = tiny_tables
    mem = _membership(files_df, num_perm=16, bands=4)
    plain = {(r["a"], r["b"]) for r in B.candidate_pairs(mem, per_block_cap=10**6).collect()}
    salted = {
        (r["a"], r["b"])
        for r in B.candidate_pairs_salted(mem, per_block_cap=10**6, salt_buckets=4).collect()
    }
    assert plain == salted


def test_candidate_pairs_columns_follow_sig(spark):
    """One generator for every channel: est_j appears exactly when the
    membership carries the sketch."""
    rows = [("s1", "k1", [1, 2, 3, 4]), ("s2", "k1", [1, 2, 0, 0]), ("s3", "k2", [9, 9, 9, 9])]
    mem = spark.createDataFrame(rows, "spec_id string, block_key string, sig array<int>")
    plain = B.candidate_pairs(mem.drop("sig"))
    with_est = B.candidate_pairs(mem)
    assert set(plain.columns) == {"a", "b"}
    assert set(with_est.columns) == {"a", "b", "est_j"}
    assert [tuple(r) for r in with_est.select("a", "b", "est_j").collect()] == [("s1", "s2", 0.5)]


def test_in_block_est_equals_sig_join(spark, tiny_tables):
    """The in-block est_j of candidate_pairs_with_est and the sig-join
    est_j of pairs_with_est are one expression: same rows both ways."""
    files_df, _, _ = tiny_tables
    sigs = B.minhash_signatures_df(files_df, num_perm=16).cache()
    cand = B.candidate_pairs_with_est(sigs, bands=8, num_perm=16, per_block_cap=64)
    joined = B.pairs_with_est(cand.select("a", "b"), sigs).select("a", "b", "est_j")
    assert cand.count() > 0
    assert cand.exceptAll(joined).count() == 0
    assert joined.exceptAll(cand).count() == 0
    sigs.unpersist()


def test_membership_rejects_bands_not_dividing_num_perm(spark, tiny_tables):
    files_df, _, _ = tiny_tables
    sigs = B.minhash_signatures_df(files_df, num_perm=16)
    with pytest.raises(ValueError, match="must divide"):
        B.membership_from_signatures(sigs, bands=5, num_perm=16)


def test_semantic_topk_membership_shape_and_ties(spark):
    """Each doc emits exactly min(k, |map|) term keys — its top-k by
    weight, ties broken toward the smaller term index (deterministic on
    both engines)."""
    rows = [
        ("d1", {1: 0.9, 2: 0.5, 3: 0.5, 4: 0.1}),
        ("d2", {7: 1.0}),
        ("d3", {}),
    ]
    df = spark.createDataFrame(rows, "spec_id string, features map<int,float>")
    mem = B.semantic_topk_membership(df, k=3)
    got = {r["spec_id"]: set() for r in mem.collect()}
    for r in mem.collect():
        got[r["spec_id"]].add(r["block_key"])
    assert got["d1"] == {"t:1", "t:2", "t:3"}  # 0.5-tie keeps BOTH 2 and 3 over 4
    assert got["d2"] == {"t:7"}
    assert "d3" not in got  # empty vector emits nothing


def test_semantic_channel_reaches_sub_shingle_pairs(spark):
    """The channel's purpose: a pair with LOW shingle overlap (token
    order/content heavily rewritten) but shared rare top-weight terms
    must become a candidate via top-k term blocks, while staying
    invisible to the MinHash band channel."""
    from bigdataentityresolution_spark.functions.text import tokenize
    from bigdataentityresolution_spark.operators import tfidf as TI

    # two "clones" share only their rare identifiers (zqalpha/zqbeta),
    # embedded in different COMMON surrounding text: every non-ident
    # word also appears in the filler docs (high df → low IDF), so the
    # shared rare idents are each side's top-weight terms. (A first
    # draft gave each side its own singleton words — those out-IDF'd
    # the shared idents and crowded the top-k, which is exactly the
    # failure mode the prefix-blocking literature warns about.)
    filler_words = (
        "the quick brown fox jumps over lazy dog and runs far away home "
        "while do return value end compute number extra words here"
    )
    docs = [
        ("a1", f"zqalpha the zqbeta and compute far away home runs"),
        ("a2", f"quick brown while zqbeta do zqalpha return value end"),
    ] + [(f"f{i}", filler_words) for i in range(20)]
    df = spark.createDataFrame(docs, "spec_id string, content string")
    tok = tokenize("content")
    n = df.count()
    p = TI.postings(df, id_col="spec_id", text_col="content", tokenizer=tok)
    tv = TI.index_vocab(TI.er_vocab(TI.vocab(p, n), n, 1000, max_df_ratio=None))
    vecs = TI.doc_vectors_indexed(p, tv, n, tf_mode="log").withColumnRenamed(
        "doc_id", "spec_id"
    )
    sigs = B.minhash_signatures_df(
        df, id_col="spec_id", text_col="content", num_perm=64, tokenizer=tok
    )
    prep = vecs.join(sigs, "spec_id")

    sem = B.candidate_pairs(B.semantic_topk_membership(prep, k=3, carry_cols=("sig",)))
    sem_pairs = {(r["a"], r["b"]) for r in sem.collect()}
    assert ("a1", "a2") in sem_pairs

    # est-Jaccard for the pair sits below the pipeline prefilter: the
    # lexical channel alone could never featurize it
    est = {(r["a"], r["b"]): r["est_j"] for r in sem.collect()}[("a1", "a2")]
    assert est < 0.12, est
