"""MinHash / SimHash / LSH banding as pure Spark Column expressions.

Re-expression of the reference's hash-bucket blocking
(src/myHash.c:47-62 + src/functs.c:1731-1806): instead of one custom
char-hash modulo 500 cells, records are blocked by LSH bands over a
MinHash signature of token shingles — same role (bounded candidate
generation), scale-correct semantics (collision probability tracks
Jaccard similarity).

All hashing is built on functions.text.portable_hash so the DuckDB
oracle can reproduce values exactly. Everything is JVM-side expression
code — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from bigdataentityresolution_spark.functions.text import (
    HASH_PRIME,
    portable_hash,
    portable_hash_sql,
)

# Deterministic affine permutation parameters (a_i odd, b_i) derived
# from a fixed LCG so Spark, DuckDB SQL, and the NumPy test oracle can
# all regenerate them without sharing state.
_LCG_MULT = 6364136223846793005
_LCG_INC = 1442695040888963407
_MASK = (1 << 63) - 1


def perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """(a_i, b_i) for h_i(x) = (a_i * x + b_i) mod HASH_PRIME."""
    state = seed & _MASK
    out = []
    for _ in range(num_perm):
        state = (state * _LCG_MULT + _LCG_INC) & _MASK
        a = (state % (HASH_PRIME - 1)) | 1
        state = (state * _LCG_MULT + _LCG_INC) & _MASK
        b = state % HASH_PRIME
        out.append((a, b))
    return out


def minhash_signature(shingles_col: Column, num_perm: int = 32, seed: int = 42) -> Column:
    """ARRAY<BIGINT> of length num_perm: min_i over shingles of affine-permuted hash.

    Single pass over the shingle array per permutation — O(|shingles| * k)
    codegen'd arithmetic, no shuffle, no Python.
    """
    base = F.transform(shingles_col, lambda s: portable_hash(s))

    def permuted_min(a: int, b: int) -> Column:
        return F.array_min(
            F.transform(base, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(HASH_PRIME))
        )

    return F.array(*[permuted_min(a, b) for a, b in perm_params(num_perm, seed)])


def minhash_signature_sql(shingles_expr: str, num_perm: int = 32, seed: int = 42) -> str:
    """DuckDB twin of :func:`minhash_signature`."""
    base = (
        f"list_transform({shingles_expr}, s -> {portable_hash_sql('s')})"
    )
    parts = [
        f"list_min(list_transform({base}, h -> (h * {a} + {b}) % {HASH_PRIME}))"
        for a, b in perm_params(num_perm, seed)
    ]
    return "[" + ", ".join(parts) + "]"


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """ARRAY<STRING> of band keys 'band:h' — the blocking keys.

    Two records share a block iff one full band of their signatures is
    identical. bands*rows_per_band must equal the signature length.
    """
    keys = [
        F.concat_ws(
            ":",
            F.lit(str(band)),
            F.concat_ws("_", *[F.element_at(signature, band * rows_per_band + r + 1) for r in range(rows_per_band)]),
        )
        for band in range(bands)
    ]
    return F.array(*keys)


def simhash64(tokens_col: Column) -> Column:
    """60-bit SimHash of a token array as BIGINT.

    Two portable ~30-bit hashes per token (seeds 1, 2) supply bits 0-29
    and 30-59 respectively: bit b of the result is 1 iff the SUM over
    tokens of (±1 per token-bit) is positive (strict majority). Near-dup
    docs differ in few bits (hamming distance).

    Single pass over the token array: each token is char-hashed ONCE per
    seed, its 60 ±1 votes merged into an array accumulator, and the
    final fingerprint assembled from the vote signs. (The r1 shape ran
    60 separate aggregate passes, each re-hashing every token — 60× the
    char-fold work; VERDICT.md 'What's wrong' #3.)
    """

    def tok_votes(t: Column) -> Column:
        h1 = portable_hash(t, seed=1)
        h2 = portable_hash(t, seed=2)
        return F.array(
            *[
                (F.shiftright(h1 if b < 30 else h2, b if b < 30 else b - 30) % 2 * 2 - 1).cast("long")
                for b in range(60)
            ]
        )

    votes = F.aggregate(
        F.transform(tokens_col, tok_votes),
        F.array_repeat(F.lit(0).cast("long"), 60),
        lambda acc, tv: F.zip_with(acc, tv, lambda a, v: a + v),
    )
    pows = F.array(*[F.lit(1 << b).cast("long") for b in range(60)])
    return F.aggregate(
        F.zip_with(votes, pows, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_sql_ctes(docs_table: str, id_col: str, tokens_expr: str) -> str:
    """DuckDB CTE block computing (doc_id, s) = per-doc SimHash, the twin
    of :func:`simhash64`: explode tokens, hash each once per seed, 60
    ±1 bit votes via unnest(range)+group by, pack sign bits. Docs with
    zero tokens get fingerprint 0 (Spark: empty-array aggregate)."""
    h1 = portable_hash_sql("t", seed=1)
    h2 = portable_hash_sql("t", seed=2)
    return f"""
    _toks AS (
      SELECT {id_col} AS doc_id, unnest({tokens_expr}) AS t FROM {docs_table}
    ), _th AS (
      SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM _toks
    ), _votes AS (
      SELECT doc_id, b.b,
             sum(CASE WHEN b.b < 30 THEN ((h1 >> b.b) & 1)
                      ELSE ((h2 >> (b.b - 30)) & 1) END * 2 - 1) AS v
      FROM _th CROSS JOIN (SELECT unnest(range(0, 60)) AS b) b
      GROUP BY doc_id, b.b
    ), _sh0 AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS s
      FROM _votes GROUP BY doc_id
    ), _sh AS (
      SELECT d.{id_col} AS doc_id, CAST(coalesce(_sh0.s, 0) AS BIGINT) AS s
      FROM {docs_table} d LEFT JOIN _sh0 ON d.{id_col} = _sh0.doc_id
    )"""


def multiset_signature(*cols: Column | str) -> list[Column]:
    """(n, h, s) aggregates identifying the multiset of rows over
    ``cols``: count, xor-fold of xxhash64 and an independent sum-fold
    (mod 2^31 keeps the BIGINT sum overflow-free; it also sees equal-row
    pairs the xor cancels). Order-independent; all 0 on an empty input."""
    h = F.xxhash64(*cols)
    return [
        F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("n"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("h"),
        F.coalesce(F.sum(F.pmod(h, F.lit(2**31))), F.lit(0)).alias("s"),
    ]


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two BIGINT bit-fingerprints (codegen'd popcount)."""
    return F.bit_count(a.bitwiseXOR(b))
