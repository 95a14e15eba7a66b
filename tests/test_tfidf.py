"""TF-IDF operator tests vs a pure-Python oracle (reference formulas,
src/boWords.c:552-619)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from bigdataentityresolution_spark.operators import tfidf as TI

DOCS = [
    (0, "spark shuffle join join filter"),
    (1, "spark scan filter filter filter"),
    (2, "join merge sort sort"),
    (3, "unique singleton words appear once"),
]


def py_tfidf(docs):
    n_docs = len(docs)
    postings = {}
    lengths = Counter()
    dfc = Counter()
    for did, text in docs:
        toks = [t for t in text.lower().split() if t]
        lengths[did] = len(toks)
        for term, tf in Counter(toks).items():
            postings[(did, term)] = tf
            dfc[term] += 1
    out = {}
    for (did, term), tf in postings.items():
        idf = math.log(n_docs / dfc[term])
        out[(did, term)] = (tf, lengths[did], dfc[term], idf, tf / lengths[did] * idf)
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_postings_and_lengths(spark, docs_df):
    p = TI.postings(docs_df).collect()
    oracle = py_tfidf(DOCS)
    assert {(r["doc_id"], r["term"]): r["tf"] for r in p} == {
        k: v[0] for k, v in oracle.items()
    }
    lengths = {r["doc_id"]: r["n_tokens"] for r in TI.doc_lengths(TI.postings(docs_df)).collect()}
    assert lengths == {0: 5, 1: 5, 2: 4, 3: 5}


def test_tfidf_table_matches_oracle(spark, docs_df):
    rows = TI.tfidf_table(docs_df).collect()
    oracle = py_tfidf(DOCS)
    assert len(rows) == len(oracle)
    for r in rows:
        tf, n_tokens, df, idf, tfidf = oracle[(r["doc_id"], r["term"])]
        assert r["tf"] == tf
        assert r["n_tokens"] == n_tokens
        assert r["df"] == df
        assert abs(r["idf"] - idf) < 1e-12
        assert abs(r["tfidf"] - tfidf) < 1e-12


def test_top_k_vocab_deterministic_ties(spark, docs_df):
    p = TI.postings(docs_df)
    v = TI.vocab(p, n_docs=len(DOCS))
    top2 = [r["term"] for r in TI.top_k_vocab(v, 2).collect()]
    # oracle: rank by tfidf_sum_mean desc, term asc
    oracle = py_tfidf(DOCS)
    sums = defaultdict(float)
    for (did, term), (tf, n, df, idf, w) in oracle.items():
        sums[term] += w / len(DOCS)
    expect = [t for t, _ in sorted(sums.items(), key=lambda kv: (-kv[1], kv[0]))[:2]]
    assert top2 == expect


def test_doc_vectors_pruned_to_vocab(spark, docs_df):
    p = TI.postings(docs_df)
    v = TI.vocab(p, n_docs=len(DOCS))
    top = TI.index_vocab(TI.top_k_vocab(v, 3))
    term_of = {r["term_idx"]: r["term"] for r in top.collect()}
    kept_terms = set(term_of.values())
    oracle = py_tfidf(DOCS)
    for tf_mode in ("raw", "log"):
        vecs = TI.doc_vectors_indexed(p, top, n_docs=len(DOCS), tf_mode=tf_mode).collect()
        assert vecs
        for r in vecs:
            terms = {i: term_of.get(i) for i in r["features"]}
            assert set(terms.values()).issubset(kept_terms)
            for i, w in r["features"].items():
                assert w > 0
                tf, _, _, idf, raw = oracle[(r["doc_id"], terms[i])]
                # raw: the reference weight tf / n_tokens * idf; log: the
                # sublinear (1 + ln tf) * idf; both as float32
                expect = raw if tf_mode == "raw" else (1 + math.log(tf)) * idf
                assert abs(w - expect) < 1e-6, tf_mode
