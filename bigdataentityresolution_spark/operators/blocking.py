"""Blocking: MinHash/LSH shingle keys → bounded candidate pair generation.

Re-expression of the reference's hash-bucket blocking (records land in
one of 500 hash1 cells which double as candidate-generation buckets,
src/myHash.c:47-62 + src/functs.c:1731-1881) as similarity-aware LSH
blocking:

  content → tokens → shingles → MinHash signature → LSH band keys
  → explode → (spec_id, block_key) → within-block pairs

Scale design (the part that must survive 10^12 files):
- Block membership is ONE corpus-sized shuffle (groupBy block_key).
- Within-block pair generation happens inside the aggregated member
  array (sorted, capped) — no self-join of the corpus against itself.
- Hot blocks (license headers, empty files — Zipfian, SURVEY.md §7.2)
  are defused by a per-block member cap applied with a window BEFORE
  the pair explosion; a capped block contributes at most cap·(cap-1)/2
  pairs. AQE skew-join handles residual imbalance on the final dedup
  shuffle. The reference's analog is the global pairs_limit budget
  (set_size × 12, src/functs.c:23,1718) — ours is per-block, which is
  deterministic and shuffle-local instead of a racy global counter.
- Cross-block duplicate pairs (two docs sharing several bands) are
  deduped with one distinct() on the (a,b) pair — pairs are oriented
  a < b at creation so no least/greatest pass is needed.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdataentityresolution_spark.functions.hashes import lsh_band_keys, perm_params
from bigdataentityresolution_spark.functions.text import HASH_PRIME, tokenize

# Polynomial base combining adjacent token hashes into an n-gram hash
# (numeric shingles). Any base coprime-ish to HASH_PRIME works; value is
# part of the deterministic signature definition.
GRAM_COMB = 1_000_003


def minhash_signatures_df(
    files: DataFrame,
    id_col: str = "spec_id",
    text_col: str = "content",
    shingle_n: int = 2,
    num_perm: int = 32,
    seed: int = 42,
    tokenizer: Column | None = None,
) -> DataFrame:
    """(spec_id, sig ARRAY<INT>) — the compact per-record sketch.

    Long-format MinHash: explode shingles, hash each ONCE, num_perm
    min-aggregates (map-side partial agg → tiny shuffle). This sketch is
    computed ONE time per corpus and reused for (a) LSH band keys and
    (b) the estimated-Jaccard pair feature — at 10^12 rows the sketch
    (128 B) is what rides every downstream shuffle, never the text.

    Shingles are numeric: each token is hashed once (codegen'd xxhash64
    folded into [0, HASH_PRIME)) and n adjacent token hashes combine
    polynomially into an n-gram hash, so no shingle string is ever
    built. (The string-shingle twin the DuckDB oracle reproduces is
    functions.hashes.minhash_signature.)
    """
    toks = tokenizer if tokenizer is not None else tokenize(text_col)
    # Materialize the per-token hash array as its own projection
    # (evaluated once per row — multiple downstream references must not
    # re-tokenize). The measured string path (array_join per gram)
    # allocated so hard it anti-scaled with task threads. Everything
    # stays map-side: the only shuffle is the partial-aggregated
    # signature rows.
    th_df = files.select(
        F.col(id_col).alias("spec_id"),
        F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(HASH_PRIME))).alias("th"),
    )
    if shingle_n <= 1:
        grams = F.col("th")
    else:
        m = F.greatest(F.size("th") - F.lit(shingle_n - 1), F.lit(1))

        def gram(i: Column) -> Column:
            # F.get is 0-based and null-safe (no ANSI range error);
            # short docs pad missing positions with 0 — every record
            # stays blockable (reference: src/myHash.c:47-62).
            acc = F.coalesce(F.get("th", i), F.lit(0).cast("long"))
            for j in range(1, shingle_n):
                nxt = F.coalesce(F.get("th", i + F.lit(j)), F.lit(0).cast("long"))
                acc = (acc * F.lit(GRAM_COMB) + nxt) % F.lit(HASH_PRIME)
            return acc

        grams = F.transform(F.sequence(F.lit(0), m - F.lit(1)), gram)
    hashed = th_df.select(
        "spec_id",
        F.explode(
            F.when(F.size("th") > 0, grams).otherwise(F.array(F.lit(0).cast("long")))
        ).alias("h"),
    )
    # INT slots: every value is < HASH_PRIME < 2^31, so the sketch is 128 B
    # not 256 B — this array rides the membership shuffle and every
    # training-pair join, payload size is the scaling lever.
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(HASH_PRIME))
        .cast("int")
        .alias(f"mh{i}")
        for i, (a, b) in enumerate(perm_params(num_perm, seed))
    ]
    sig = hashed.groupBy("spec_id").agg(*aggs)
    return sig.select(
        "spec_id", F.array(*[F.col(f"mh{i}") for i in range(num_perm)]).alias("sig")
    )


def membership_from_signatures(
    signatures: DataFrame, bands: int = 16, num_perm: int = 32, carry_sig: bool = False
) -> DataFrame:
    """(spec_id, block_key[, sig]) — one row per record per LSH band
    (hashes.lsh_band_keys), projected from a precomputed signature table
    with no rescan of the corpus.

    Function default banding (16 bands × 2 rows over 32 perms) suits
    easy near-dup regimes: true clone pairs at 2-shingle Jaccard ≥ 0.5
    → P(share a band) ≥ 0.99; unrelated pairs (J ≲ 0.15) collide with
    P ≈ 0.3 and are rejected by the scorer. The ER pipeline default
    (ERConfig) is 32 bands × 2 rows over 64 perms, which lifts candidate
    probability at J 0.15/0.20/0.25 from 30/48/64% to 52/73/87% — the
    regime adversarially-mutated clones live in (measured on the HARD
    tier: hard-kind recall 0.8865 → 0.9708; scripts/hard_sweep.py).

    carry_sig=True keeps the 128 B sketch on every band row so consumers
    that need it in-block (candidate_pairs_with_est) never join back to
    the signature table — that join was a second corpus-wide shuffle at
    100 TB shape for data the explode already had in hand."""
    if num_perm % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_perm ({num_perm})")
    keys = lsh_band_keys(F.col("sig"), bands, num_perm // bands)
    cols = ["spec_id", F.explode(keys).alias("block_key")]
    if carry_sig:
        cols.append("sig")
    return signatures.select(*cols)


def cap_per_block(
    membership: DataFrame, per_block_cap: int, block_cols: tuple[str, ...] = ("block_key",)
) -> DataFrame:
    """The first ``per_block_cap`` members of each block in spec_id order
    — the hot-block defusal every within-block pair generator applies
    BEFORE it explodes pairs, so a block emits at most cap·(cap-1)/2."""
    w = Window.partitionBy(*block_cols).orderBy("spec_id")
    return (
        membership.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_block_cap)
        .drop("_rn")
    )


def _pair_array(ms: Column, pair: Callable[[Column, Column], Column]) -> Column:
    """[pair(ms[i], ms[j]) for i < j] as one flat array expression."""
    return F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + F.lit(2), F.size(ms)), lambda y: pair(x, y)
            ),
        )
    )


def candidate_pairs(membership: DataFrame, per_block_cap: int = 64) -> DataFrame:
    """(a, b[, est_j]) candidate pairs with a < b, deduped across blocks,
    from ANY (spec_id, block_key[, sig]) membership (one row per record
    per key) — the one within-block pair generator of every channel.

    cap_per_block → collect the sorted (spec_id[, sig]) array per block
    (ONE shuffle on block_key) → explode the pairs expression-side →
    distinct(). Reference analog of the cap: pairs_limit = set_size × 12
    + 4-bucket stripes (src/functs.c:1718,1752-1768).

    With ``sig``, each pair's est_j is computed from the sketches already
    co-located in the block (no join back to the signature table); it is
    a pure function of (a, b), so distinct on the full row is the pair
    dedup.
    """
    with_sig = "sig" in membership.columns
    member = F.struct("spec_id", "sig") if with_sig else F.struct("spec_id")

    def pair(x: Column, y: Column) -> Column:
        cols = [x["spec_id"].alias("a"), y["spec_id"].alias("b")]
        if with_sig:
            cols.append(est_jaccard(x["sig"], y["sig"]).alias("est_j"))
        return F.struct(*cols)

    members = (
        cap_per_block(membership, per_block_cap)
        .groupBy("block_key")
        .agg(F.array_sort(F.collect_list(member)).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    pairs = members.select(F.explode(_pair_array(F.col("ms"), pair)).alias("p"))
    return pairs.select("p.*").distinct()


def semantic_topk_membership(
    doc_vectors: DataFrame,
    k: int = 5,
    id_col: str = "spec_id",
    vec_col: str = "features",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(spec_id, block_key[, carry...]) — the SEMANTIC blocking channel:
    each doc emits its ``k`` highest-TF-IDF terms as block keys, so two
    docs become candidates when they share ANY top-weight term
    (prefix-filtering from the set-similarity-join literature, PPJoin
    family — the cosine analog of MinHash banding).

    Why this channel exists (VERDICT r4 #1, measured on the hard tier by
    scripts/semantic_blocking_probe.py, last at fd3f363): adversarial
    near-dups below shingle-Jaccard reach (paraphrased/refactored
    clones) keep their rare discriminative identifiers, which carry the
    TOP TF-IDF weights — top-5 term blocking reached 99.8% of
    orphan-kind true pairs (52% lexically reachable) at ~1× the lexical
    channel's candidate volume, where a SimHash-over-TF-IDF channel
    managed 71% at 11× the volume and 100× the sketch cost.

    Scale shape: the top-k is computed EXPRESSION-SIDE (sort the map
    entries by weight, slice k — no per-doc window, no shuffle); k rows
    per doc ride the one blocking shuffle, and hot terms (a common term
    that is some docs' top weight) are defused by the same per-block cap
    as every other channel. No new corpus scan: the int-keyed TF-IDF
    vectors already exist for pair featurization.

    Determinism: ties on weight break toward the SMALLER term index on
    both engines (struct comparison on (-w, term)).
    """
    # sort entries by (weight desc, term asc) via a sortable struct array
    sortable = F.transform(
        F.map_entries(F.col(vec_col)),
        lambda e: F.struct((-e["value"]).alias("nw"), e["key"].alias("term")),
    )
    topk = F.slice(F.array_sort(sortable), 1, k)
    return doc_vectors.select(
        F.col(id_col).alias("spec_id"),
        *carry_cols,
        F.explode(topk).alias("_e"),
    ).select(
        "spec_id",
        *carry_cols,
        F.concat(F.lit("t:"), F.col("_e.term").cast("string")).alias("block_key"),
    )


def est_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """MinHash-estimated Jaccard: the fraction of agreeing signature
    slots, rounded to 9 places — the est_j of every candidate channel
    and of the train pairs' sig join."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda p, q: (p == q).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return F.round(agree.cast("double") / F.size(sig_a).cast("double"), 9)


def pairs_with_est(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """``pairs`` (a, b[, ...]) plus est_j, from a join of both sides to
    their (spec_id, sig) rows — for pairs that did not come out of a
    blocking channel (labeled pairs); a pair with a side missing from
    ``sigs`` drops out."""

    def side(s: str) -> DataFrame:
        return sigs.select(F.col("spec_id").alias(s), F.col("sig").alias(f"_sig_{s}"))

    return (
        pairs.join(side("a"), "a")
        .join(side("b"), "b")
        .withColumn("est_j", est_jaccard(F.col("_sig_a"), F.col("_sig_b")))
        .drop("_sig_a", "_sig_b")
    )


def candidate_pairs_with_est(
    signatures: DataFrame,
    bands: int = 16,
    num_perm: int = 32,
    per_block_cap: int = 64,
) -> DataFrame:
    """(a, b, est_j) lexical-channel candidates: LSH band membership
    carrying the sketch, then candidate_pairs — the MinHash-estimated
    Jaccard is computed INSIDE the blocking stage.

    Why: featurizing pairs by joining each side back to a signature
    table ships 2·|pairs| probes of ~256 B sketches through a shuffle
    (measured at bench scale: ~7 GB of traffic and the single hottest
    execution in the pipeline, with >2× per-core CPU inflation from the
    join's build/probe + serialization churn). The signatures are
    ALREADY co-located in each LSH block after the membership shuffle —
    carrying them into the per-block member array lets the agreement
    fraction be computed expression-side at pair-generation time, so
    the downstream similarity join only ever sees pairs that pass the
    est-Jaccard prefilter (measured survival at bench scale: ~5 % at
    the pre-r4 0.2 floor; ~2× that at the shipped 0.12 floor, which
    roughly doubled candidates — BENCH_r04).

    Emits ALL capped within-block pairs (no floor here) so candidate
    accounting stays comparable; callers filter on est_j.
    """
    mem = membership_from_signatures(
        signatures, bands=bands, num_perm=num_perm, carry_sig=True
    )
    return candidate_pairs(mem, per_block_cap=per_block_cap)


def candidate_pairs_salted(
    membership: DataFrame,
    per_block_cap: int = 64,
    salt_buckets: int = 8,
) -> DataFrame:
    """Salted variant for pathologically hot blocks.

    Splits each block into `salt_buckets` sub-blocks by a hash of
    spec_id, generates within-salt pairs, PLUS cross-salt pairs via a
    bounded join between distinct salt buckets of the same block.
    Result set equals the unsalted operator's for blocks under the cap
    (tests assert this); use when a single block's member list would
    not fit an executor.
    """
    salted = membership.withColumn(
        "salt", F.pmod(F.xxhash64("spec_id"), F.lit(salt_buckets))
    )
    groups = (
        cap_per_block(salted, per_block_cap, ("block_key", "salt"))
        .groupBy("block_key", "salt")
        .agg(F.sort_array(F.collect_set("spec_id")).alias("ms"))
    )
    pair_arr = _pair_array(F.col("ms"), lambda x, y: F.struct(x.alias("a"), y.alias("b")))
    within = groups.filter(F.size("ms") >= 2).select(F.explode(pair_arr).alias("p")).select(
        "p.a", "p.b"
    )
    # cross-salt: join distinct salt groups of the same block
    left = groups.select("block_key", F.col("salt").alias("sa"), F.col("ms").alias("ma"))
    right = groups.select("block_key", F.col("salt").alias("sb"), F.col("ms").alias("mb"))
    crossed = (
        left.join(right, "block_key")
        .filter(F.col("sa") < F.col("sb"))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ma",
                        lambda x: F.transform(
                            "mb",
                            lambda y: F.struct(
                                F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .filter(F.col("a") < F.col("b"))
    )
    return within.unionByName(crossed).distinct()
