"""Deduplication operators for large-scale training-data pipelines.

Extensions beyond the reference (which only resolves *labeled* entities):
the same blocking machinery applied to corpus hygiene at 100 TB scale.
Each operator returns a DataFrame and composes from the blocking /
clustering primitives:

- exact_duplicates:      hash-groupBy on content digest (one shuffle)
- minhash_duplicate_pairs: shingle → MinHash → LSH band join → verified
                          Jaccard ≥ threshold
- simhash_duplicate_pairs: 60-bit SimHash, banded by 4×15-bit chunks,
                          hamming ≤ k verification
- embedding_near_dup_pairs: cosine ≥ threshold over LSH-bucketed
                          random-hyperplane signs
- dedup_keep_first:      canonical survivor selection (min id per
                          duplicate component via connected components)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataentityresolution_spark.functions.hashes import hamming64, lsh_band_keys, simhash64
from bigdataentityresolution_spark.functions.similarity import cosine_arrays, jaccard_arrays
from bigdataentityresolution_spark.functions.text import shingles, tokenize
from bigdataentityresolution_spark.operators.ann import as_doubles, hyperplane_band_keys
from bigdataentityresolution_spark.operators.blocking import (
    cap_per_block,
    candidate_pairs,
    membership_from_signatures,
    minhash_signatures_df,
)
from bigdataentityresolution_spark.operators.clustering import connected_components


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(fp, n_dups, doc_ids) groups with >1 identical content.

    One groupBy shuffle on the md5 digest; digest computed in the scan
    projection so only (fp, id) rides the shuffle.
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col).alias("doc_id"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .filter(F.col("n_dups") > 1)
    )


def minhash_duplicate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 32,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    per_block_cap: int = 256,
) -> DataFrame:
    """(a, b, jaccard) near-dup pairs: LSH candidates verified by exact
    shingle Jaccard ≥ threshold. ids are cast to string for the generic
    blocking path and cast back by the caller if needed."""
    d = docs.select(F.col(id_col).cast("string").alias("spec_id"), F.col(text_col).alias("_text"))
    sigs = minhash_signatures_df(
        d, id_col="spec_id", text_col="_text", shingle_n=shingle_n, num_perm=num_perm
    )
    mem = membership_from_signatures(sigs, bands=bands, num_perm=num_perm)
    cand = candidate_pairs(mem, per_block_cap=per_block_cap)
    sh = d.select(
        "spec_id", F.array_distinct(shingles(tokenize("_text"), shingle_n)).alias("_sh")
    )
    a = sh.select(F.col("spec_id").alias("a"), F.col("_sh").alias("_sh_a"))
    b = sh.select(F.col("spec_id").alias("b"), F.col("_sh").alias("_sh_b"))
    return (
        cand.join(a, "a")
        .join(b, "b")
        .withColumn("jaccard", F.round(jaccard_arrays(F.col("_sh_a"), F.col("_sh_b")), 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("a", "b", "jaccard")
    )


def simhash_duplicate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_chunks: int = 4,
    per_block_cap: int | None = 1024,
) -> DataFrame:
    """(a, b, hamming) pairs with SimHash hamming distance ≤ max_hamming.

    Banding: the 60-bit fingerprint splits into n_chunks equal chunks;
    by pigeonhole a pair with hamming < n_chunks MUST share at least one
    exact chunk, so max_hamming ≤ n_chunks - 1 gives GUARANTEED recall
    (the r1 default max_hamming=8 with 4 chunks silently traded recall —
    hamming 4..8 errors can spread 1-per-chunk and be missed). Each
    chunk is a one-row LSH band (hashes.lsh_band_keys) → equi-join on
    the band key, then exact popcount verify.

    per_block_cap bounds the quadratic blow-up of a hot chunk (blank /
    templated docs share whole fingerprints): a window keeps the first
    cap members per chunk (deterministic by id) — blocking.cap_per_block,
    the same defusal as blocking.candidate_pairs (VERDICT.md 'What's
    wrong' #3).
    """
    if max_hamming >= n_chunks:
        raise ValueError(
            f"recall guarantee needs max_hamming ({max_hamming}) < n_chunks ({n_chunks})"
        )
    chunk_bits = 60 // n_chunks
    d = docs.select(
        F.col(id_col).cast("string").alias("spec_id"),
        simhash64(tokenize(text_col)).alias("sh"),
    )
    chunks = [F.shiftright("sh", chunk_bits * i) % F.lit(1 << chunk_bits) for i in range(n_chunks)]
    keys = lsh_band_keys(F.array(*chunks), n_chunks, 1)
    mem = d.select("spec_id", F.col("sh"), F.explode(keys).alias("block_key"))
    if per_block_cap is not None:
        mem = cap_per_block(mem, per_block_cap)
    a = mem.select(F.col("spec_id").alias("a"), F.col("sh").alias("sh_a"), "block_key")
    b = mem.select(F.col("spec_id").alias("b"), F.col("sh").alias("sh_b"), "block_key")
    return (
        a.join(b, "block_key")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(a, b, cosine) near-dup embedding pairs via random-hyperplane LSH:
    ann.hyperplane_band_keys → candidates → exact cosine verify
    (similarity.cosine_arrays, DOUBLE via ann.as_doubles; pass ``dim``
    to skip its driver-side probe)."""
    embeddings, dim = as_doubles(embeddings, vec_col, dim)
    d = embeddings.select(
        F.col(id_col).cast("string").alias("spec_id"),
        F.col(vec_col).alias("_v"),
        F.explode(hyperplane_band_keys(vec_col, n_planes, bands, dim, seed)).alias("block_key"),
    )
    a = d.select(F.col("spec_id").alias("a"), F.col("_v").alias("_va"), "block_key").dropDuplicates(["a", "block_key"])
    b = d.select(F.col("spec_id").alias("b"), F.col("_v").alias("_vb"), "block_key").dropDuplicates(["b", "block_key"])
    return (
        a.join(b, "block_key")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", cosine_arrays(F.col("_va"), F.col("_vb")).alias("cosine"))
        .filter(F.col("cosine") >= cosine_threshold)
        .distinct()
    )


def dedup_keep_first(dup_pairs: DataFrame, docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, keep) survivor selection: connected components over dup
    pairs; the min id in each component survives (deterministic)."""
    ids = docs.select(F.col(id_col).cast("string").alias("spec_id"))
    labels = connected_components(dup_pairs.select("a", "b"), nodes=ids)
    return labels.select(
        F.col("spec_id").alias(id_col),
        (F.col("spec_id") == F.col("cluster_id")).alias("keep"),
    )
