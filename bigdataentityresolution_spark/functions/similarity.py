"""Similarity feature columns: cosine / jaccard / levenshtein.

The reference scores pairs with a logistic regression over concatenated
TF-IDF vectors (src/functs.c:1005-1031, src/logistic.c). The new engine
feeds the LR richer pairwise features (north_star): cosine over TF-IDF
maps, Jaccard over shingle sets, bounded Levenshtein — all JVM-side
map/array expressions (no Python on the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cosine_maps(a: Column, b: Column) -> Column:
    """Cosine similarity of two sparse vectors as MAP<*, DOUBLE> columns.

    dot = Σ_{k ∈ keys(a)} a[k]*b[k] (missing → 0); JVM-side expression.
    """
    dot = F.aggregate(
        F.map_keys(a),
        F.lit(0.0),
        lambda acc, k: acc + a[k] * F.coalesce(b[k], F.lit(0.0)),
    )
    na = F.sqrt(F.aggregate(F.map_values(a), F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(F.map_values(b), F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def dot_arrays(a: Column, b: Column) -> Column:
    """Dot product of two equal-length dense ARRAY<DOUBLE> columns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def cosine_arrays(a: Column, b: Column) -> Column:
    """Cosine of two dense ARRAY<DOUBLE> vectors, rounded to 6 places so
    rank ties and the DuckDB oracle's value hashes agree. Callers cast
    to DOUBLE first: float products diverge in the last ulp."""
    return F.round(dot_arrays(a, b) / (F.sqrt(dot_arrays(a, a)) * F.sqrt(dot_arrays(b, b))), 6)


def jaccard_arrays(a: Column, b: Column) -> Column:
    """Exact Jaccard over two ARRAY<STRING> token/shingle sets."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    uni = F.size(F.array_union(a, b)).cast("double")
    return F.when(uni > 0, inter / uni).otherwise(F.lit(0.0))


def levenshtein_bounded(a: Column, b: Column, bound: int = 256) -> Column:
    """Normalized bounded edit similarity in [0,1] on string prefixes.

    Levenshtein is O(len_a * len_b); at 100 TB we cap inputs at ``bound``
    chars (candidates already agreed on an LSH band, so prefixes are
    informative). Spark's built-in `levenshtein` runs JVM-side.
    """
    pa, pb = F.substring(a, 1, bound), F.substring(b, 1, bound)
    dist = F.levenshtein(pa, pb).cast("double")
    mx = F.greatest(F.length(pa), F.length(pb)).cast("double")
    return F.round(F.when(mx > 0, 1.0 - dist / mx).otherwise(F.lit(1.0)), 6)
