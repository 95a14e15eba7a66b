"""Dedup + ANN operators vs brute-force Python oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdataentityresolution_spark.operators import ann as A
from bigdataentityresolution_spark.operators import dedup as D


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("dog", "cat")),  # near dup
        (3, "completely different content about spark sql catalyst optimizer rules"),
        (4, base),  # exact dup of 0
        (5, "another unrelated document discussing parquet column pruning pushdown"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, dup_docs):
    groups = D.exact_duplicates(dup_docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [0, 1, 4]
    assert groups[0]["n_dups"] == 3


def test_minhash_near_dups(spark, dup_docs):
    pairs = {(r["a"], r["b"]) for r in D.minhash_duplicate_pairs(dup_docs, jaccard_threshold=0.5).collect()}
    assert ("0", "1") in pairs and ("0", "4") in pairs and ("1", "4") in pairs
    assert ("0", "2") in pairs  # near dup
    assert not any("3" in p or "5" in p for p in pairs)


def test_simhash_near_dups(spark, dup_docs):
    # wide hamming needs finer chunking for the pigeonhole recall
    # guarantee: max_hamming < n_chunks
    pairs = {
        (r["a"], r["b"]): r["hamming"]
        for r in D.simhash_duplicate_pairs(dup_docs, max_hamming=10, n_chunks=12).collect()
    }
    assert pairs[("0", "1")] == 0
    assert pairs[("0", "4")] == 0
    assert ("0", "2") in pairs
    assert ("0", "3") not in pairs


def test_dedup_keep_first(spark, dup_docs):
    pairs = D.minhash_duplicate_pairs(dup_docs, jaccard_threshold=0.9)
    keep = {r["doc_id"]: r["keep"] for r in D.dedup_keep_first(pairs, dup_docs).collect()}
    assert keep["0"] and not keep["1"] and not keep["4"]
    assert keep["2"] and keep["3"] and keep["5"]  # non-dups survive


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal((8, 16))
    rows = []
    vid = 0
    for b in base:
        for _ in range(4):  # 4 jittered copies per base direction
            v = b + rng.standard_normal(16) * 0.05
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def py_topk(corpus, queries, k):
    out = {}
    for qid, qv in queries:
        sims = []
        for cid, cv in corpus:
            c = np.dot(qv, cv) / (np.linalg.norm(qv) * np.linalg.norm(cv))
            sims.append((round(c, 6), cid))
        sims.sort(key=lambda t: (-t[0], t[1]))
        out[qid] = [cid for _, cid in sims[:k]]
    return out


def test_brute_force_topk_matches_numpy(spark, vectors):
    corpus_rows = [(r["vec_id"], np.array(r["embedding"])) for r in vectors.collect()]
    queries = vectors.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = A.brute_force_topk(vectors, queries, k=5)
    got_map = {}
    for r in got.orderBy("query_id", "rank").collect():
        got_map.setdefault(r["query_id"], []).append(r["vec_id"])
    expect = py_topk(corpus_rows, [(i, v) for i, v in corpus_rows[:3]], 5)
    assert got_map == expect


def test_lsh_topk_high_recall(spark, vectors):
    queries = vectors.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = A.brute_force_topk(vectors, queries, k=4)
    approx = A.lsh_topk(vectors, queries, k=4, n_planes=16, bands=8)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, recall


def test_ivf_topk_self_hit(spark, vectors):
    queries = vectors.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    got = A.ivf_topk(vectors, queries, k=3, n_centroids=8, n_probe=3)
    rows = got.filter(F.col("rank") == 1).collect()
    # rank-1 neighbor of each query is itself (cosine 1.0)
    assert all(r["query_id"] == r["vec_id"] for r in rows)
    assert all(abs(r["cosine"] - 1.0) < 1e-6 for r in rows)


def test_embedding_near_dup_pairs(spark, vectors):
    pairs = D.embedding_near_dup_pairs(
        vectors, cosine_threshold=0.99, n_planes=16, bands=8
    )
    rows = pairs.collect()
    assert len(rows) > 0
    # jittered copies of the same base are near-dups: ids 0-3 same group
    found = {(r["a"], r["b"]) for r in rows}
    assert any(a in {"0", "1", "2", "3"} and b in {"0", "1", "2", "3"} for a, b in found)
    assert all(r["cosine"] >= 0.99 for r in rows)


def test_hyperplane_band_keys_shape(spark, vectors):
    """bands keys "i:b_b…" of n_planes // bands sign bits each, in plane
    order: the bits of hyperplanes(n_planes, dim, seed) · v >= 0."""
    one = vectors.filter(F.col("vec_id") == 5)
    v = np.array(one.first()["embedding"])
    expect = [int(d >= 0) for d in A.hyperplanes(12, 16, 7) @ v]
    for bands in (1, 3, 4, 6, 12):
        keys = A.hyperplane_band_keys("embedding", 12, bands, 16, 7)
        got = one.select(keys.alias("k")).first()["k"]
        assert len(got) == bands
        assert [k.split(":")[0] for k in got] == [str(i) for i in range(bands)]
        bits = [k.split(":")[1].split("_") for k in got]
        assert all(len(b) == 12 // bands for b in bits)
        assert [int(x) for b in bits for x in b] == expect


@pytest.mark.parametrize("n_planes,bands", [(16, 5), (12, 8), (8, 16), (16, 0)])
def test_banded_vector_operators_reject_non_divisor(spark, vectors, n_planes, bands):
    """bands must divide n_planes, checked at call time: a non-divisor
    used to band on fewer bits than asked (lsh_topk 16/5 on 15) or fail
    inside the Spark job (an index past the last bit)."""
    queries = vectors.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="must divide"):
        A.lsh_topk(vectors, queries, n_planes=n_planes, bands=bands, dim=16)
    with pytest.raises(ValueError, match="must divide"):
        D.embedding_near_dup_pairs(vectors, n_planes=n_planes, bands=bands, dim=16)


def test_vector_operators_on_empty_corpus(spark, vectors):
    """An empty corpus gives no rows, also when dim is left to the probe."""
    empty = vectors.limit(0)
    queries = vectors.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    assert A.lsh_topk(empty, queries).count() == 0
    assert A.ivf_topk(empty, queries).count() == 0
    assert D.embedding_near_dup_pairs(empty).count() == 0
