"""Replica of the driver's correctness gate: every queries() entry vs its
DuckDB oracle_sql() twin at sf=0.01 — row count, column names, and
order-insensitive values."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as E

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_ORACLE", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c] if isinstance(row, dict) else row[cols.index(c)]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 6)
                    v = 0.0 if v == 0 else v
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


@pytest.mark.parametrize("name", sorted(E.oracle_sql().keys()))
def test_query_matches_oracle(spark, duck, name):
    q = E.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [r.asDict() for r in sdf.collect()]

    res = duck.execute(E.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count mismatch"

    s_norm = _normalize(spark_rows, spark_cols)
    d_norm = _normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(s_norm, d_norm) if a != b]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "term", "tfidf", "rank"}


def test_registry_fits_driver_cap():
    """The correctness check reads only the first 50 queries: every row
    must fit, and every row must carry an oracle."""
    assert len(E.queries()) <= 50
    assert set(E.oracle_sql()) == set(E.queries())


def test_semantic_topk_tie_cross_engine(spark, tmp_path):
    """A top-3 boundary on bit-equal float32 weights: in doc 1, zz leads
    and aa/bb/cc/dd tie (tf 1, df 2, hence one idf). Their vocabulary
    ranks run dd < cc < bb < aa (the second doc of each has a larger tf
    share for later letters), so the tie must go to dd and cc — the
    smaller term_idx, not the alphabetically first — on Spark and on
    DuckDB alike."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bigdataentityresolution_spark.operators import tfidf as TI

    texts = [
        "zz zz zz aa bb cc dd",
        "dd dd dd dd pp",
        "cc cc cc pp",
        "bb bb pp",
        "aa pp",
        "pp qq",
        "pp qq",
        "pp qq",
    ]
    pq.write_table(
        pa.table({"doc_id": list(range(1, len(texts) + 1)), "text": texts}),
        str(tmp_path / "documents.parquet"),
    )
    name = "semantic_topk_blocking"
    got = {tuple(r) for r in E.queries()[name](spark, str(tmp_path)).collect()}
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')")
        want = set(con.execute(E.oracle_sql()[name]).fetchall())
    assert got == want

    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    p = TI.postings(docs)
    v = TI.vocab(p, len(texts)).withColumn("tfidf_sum_mean", F.round("tfidf_sum_mean", 6))
    idx = {r["term"]: r["term_idx"] for r in TI.index_vocab(TI.top_k_vocab(v, 100)).collect()}
    assert idx["dd"] < idx["cc"] < idx["bb"] < idx["aa"]
    doc1 = {key for spec_id, key in want if spec_id == "1"}
    assert doc1 == {f"t:{idx[t]}" for t in ("zz", "dd", "cc")}
