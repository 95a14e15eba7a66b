"""Approximate-nearest-neighbor search over embedding columns.

Pipeline extensions (no reference analog — the reference has no vector
search). Each strategy scores its candidates with
similarity.cosine_arrays in DOUBLE (as_doubles) and keeps each query's
top k (_topk):

- brute_force_topk: exact cosine top-k. The query set is broadcast
  (small side), the corpus streams through one pass. The baseline.
- lsh_topk: random-hyperplane LSH buckets (hyperplane_band_keys)
  restrict the join to candidates sharing a band. The scale path:
  corpus-side work drops from O(|Q|·|C|) to O(collisions).
- ivf_topk: coarse inverted-file variant — corpus rows are assigned to
  their nearest of k seeded centroids (deterministic pseudo-random
  centroids); queries probe the nearest n_probe centroids only.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdataentityresolution_spark.functions.hashes import lsh_band_keys
from bigdataentityresolution_spark.functions.similarity import cosine_arrays, dot_arrays


def as_doubles(df: DataFrame, vec_col: str, dim: int | None) -> tuple[DataFrame, int]:
    """(df with ``vec_col`` cast to ARRAY<DOUBLE>, dim). All similarity
    math runs in DOUBLE: float dots diverge from the DuckDB / numpy
    oracle in the last ulp and flip rank ties. ``dim`` None probes the
    first row's length on the driver (a plan break per call at scale;
    pass it to skip the probe); an empty ``df`` has no row to score, so
    any dim serves and it gets 0."""
    if dim is None:
        first = df.select(F.size(vec_col).alias("d")).first()
        dim = first["d"] if first else 0
    return df.withColumn(vec_col, F.col(vec_col).cast("array<double>")), dim


def _consts(row) -> Column:
    return F.array(*[F.lit(float(x)) for x in row])


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, vec_id, cosine, rank): each query's k highest-cosine
    rows of ``scored``, ties to the lower vec_id."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, cosine, rank) exact top-k by cosine.

    queries must be small enough to broadcast (the typical case:
    thousands of probes against a 10^9-vector corpus)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("_cv")
    )
    cos = cosine_arrays(F.col("_qv"), F.col("_cv"))
    return _topk(c.crossJoin(F.broadcast(q)).select("query_id", "vec_id", cos.alias("cosine")), k)


def hyperplanes(n_planes: int, dim: int, seed: int) -> np.ndarray:
    """Deterministic random hyperplanes — the SINGLE source of truth for
    the LSH constants, shared by the Spark operator and the DuckDB
    oracle builder (queries.py) so both engines block identically."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def ivf_centroids(n_centroids: int, dim: int, seed: int) -> np.ndarray:
    """Deterministic unit-norm centroids (same sharing rationale)."""
    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_centroids, dim))
    return cents / np.linalg.norm(cents, axis=1, keepdims=True)


def hyperplane_band_keys(vec_col: str, n_planes: int, bands: int, dim: int, seed: int) -> Column:
    """ARRAY<STRING> of ``bands`` LSH keys over a DOUBLE vector column:
    the sign bits of its dots with ``hyperplanes(n_planes, dim, seed)``,
    n_planes // bands bits per band (hashes.lsh_band_keys)."""
    if bands < 1 or n_planes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide n_planes ({n_planes})")
    bits = F.array(*[
        (dot_arrays(F.col(vec_col), _consts(p)) >= 0).cast("int")
        for p in hyperplanes(n_planes, dim, seed)
    ])
    return lsh_band_keys(bits, bands, n_planes // bands)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 hyperplane-sign band."""
    corpus, dim = as_doubles(corpus, vec_col, dim)
    queries, _ = as_doubles(queries, vec_col, dim)
    keys = hyperplane_band_keys(vec_col, n_planes, bands, dim, seed)
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"), F.explode(keys).alias("bk"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        F.explode(keys).alias("bk"),
    )
    scored = (
        c.join(F.broadcast(q), "bk")
        .select("query_id", "vec_id", "_qv", "_cv")
        .dropDuplicates(["query_id", "vec_id"])
        .select("query_id", "vec_id", cosine_arrays(F.col("_qv"), F.col("_cv")).alias("cosine"))
    )
    return _topk(scored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """IVF-style coarse quantization: deterministic random centroids;
    corpus rows assigned to nearest centroid (argmax dot); queries probe
    the n_probe nearest centroid cells only."""
    corpus, dim = as_doubles(corpus, vec_col, dim)
    queries, _ = as_doubles(queries, vec_col, dim)
    cents = ivf_centroids(n_centroids, dim, seed)
    cell_scores = F.array(*[
        F.struct(
            F.round(dot_arrays(F.col(vec_col), _consts(cent)), 9).alias("s"),
            F.lit(i).alias("cell"),
        )
        for i, cent in enumerate(cents)
    ])
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_cv"),
        F.array_max(cell_scores)["cell"].alias("cell"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(F.slice(F.reverse(F.array_sort(cell_scores)), 1, n_probe)).alias("probe"),
    ).select("query_id", "_qv", F.col("probe")["cell"].alias("cell"))
    cos = cosine_arrays(F.col("_qv"), F.col("_cv"))
    return _topk(c.join(F.broadcast(q), "cell").select("query_id", "vec_id", cos.alias("cosine")), k)
