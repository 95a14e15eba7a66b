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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdataentityresolution_spark.functions.hashes import lsh_band_keys, minhash_signature
from bigdataentityresolution_spark.functions.text import shingles, tokenize

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
    hash_fn: str = "xxhash",
) -> DataFrame:
    """(spec_id, sig ARRAY<BIGINT>) — the compact per-record sketch.

    Long-format MinHash: explode shingles, hash each ONCE, num_perm
    min-aggregates (map-side partial agg → tiny shuffle). This sketch is
    computed ONE time per corpus and reused for (a) LSH band keys and
    (b) the estimated-Jaccard pair feature — at 10^12 rows the sketch
    (256 B) is what rides every downstream shuffle, never the text.

    hash_fn: "xxhash" (default — per-token codegen'd xxhash64 folded into
    [0, HASH_PRIME), adjacent token hashes combined polynomially into
    numeric n-gram hashes; no shingle strings are ever built) or
    "portable" (string shingles + the char-fold polynomial hash the
    DuckDB oracle can reproduce — use where cross-engine parity matters).
    """
    from bigdataentityresolution_spark.functions.hashes import perm_params
    from bigdataentityresolution_spark.functions.text import HASH_PRIME, portable_hash

    toks = tokenizer if tokenizer is not None else tokenize(text_col)
    if hash_fn == "portable":
        # char-fold polynomial hash over shingle STRINGS — interpreted per
        # char, but the only form the DuckDB oracle can reproduce
        exploded = files.select(
            F.col(id_col).alias("spec_id"),
            F.explode(shingles(toks, shingle_n)).alias("shingle"),
        )
        hashed = exploded.select("spec_id", portable_hash(F.col("shingle")).alias("h"))
    else:
        # NUMERIC gram path (the scale default): hash each token once
        # (xxhash64), materialize the per-token hash array as its own
        # projection (evaluated once per row — multiple downstream
        # references must not re-tokenize), then combine n adjacent token
        # hashes polynomially. Shingle STRINGS are never materialized —
        # the measured string path (array_join per gram) allocated so hard
        # it anti-scaled with task threads. Everything stays map-side:
        # the only shuffle is the partial-aggregated signature rows.
        th_df = files.select(
            F.col(id_col).alias("spec_id"),
            F.transform(
                toks, lambda t: F.pmod(F.xxhash64(t), F.lit(HASH_PRIME))
            ).alias("th"),
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
                F.when(F.size("th") > 0, grams).otherwise(
                    F.array(F.lit(0).cast("long"))
                )
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
    """(spec_id, block_key[, sig]) from a precomputed signature table —
    pure projection + explode, no rescan of the corpus.

    carry_sig=True keeps the 128 B sketch on every band row so consumers
    that need it in-block (candidate_pairs_with_est) never join back to
    the signature table — that join was a second corpus-wide shuffle at
    100 TB shape for data the explode already had in hand."""
    rows_per_band = num_perm // bands
    keys = [
        F.concat_ws(
            ":",
            F.lit(str(band)),
            F.concat_ws(
                "_",
                *[
                    F.element_at("sig", band * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ],
            ),
        )
        for band in range(bands)
    ]
    cols = ["spec_id", F.explode(F.array(*keys)).alias("block_key")]
    if carry_sig:
        cols.append("sig")
    return signatures.select(*cols)


def block_membership(
    files: DataFrame,
    id_col: str = "spec_id",
    text_col: str = "content",
    shingle_n: int = 2,
    num_perm: int = 32,
    bands: int = 16,
    seed: int = 42,
    tokenizer: Column | None = None,
    hash_fn: str = "xxhash",
) -> DataFrame:
    """(spec_id, block_key) — one row per record per LSH band.

    All hashing is codegen'd expression work computed in the scan
    projection; the only shuffle is whatever the consumer does next.

    Function default banding (16 bands × 2 rows over 32 perms) suits
    easy near-dup regimes: true clone pairs at 2-shingle Jaccard ≥ 0.5
    → P(share a band) ≥ 0.99; unrelated pairs (J ≲ 0.15) collide with
    P ≈ 0.3 and are rejected by the scorer. The ER pipeline default
    (ERConfig) is 32 bands × 2 rows over 64 perms, which lifts candidate
    probability at J 0.15/0.20/0.25 from 30/48/64% to 52/73/87% — the
    regime adversarially-mutated clones live in (measured on the HARD
    tier: hard-kind recall 0.8865 → 0.9708; scripts/hard_sweep.py).
    Pair-level blocking misses are additionally healed by transitive
    closure (a~c, c~b ⇒ a,b same cluster).
    """
    if num_perm % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_perm ({num_perm})")
    sig = minhash_signatures_df(
        files, id_col=id_col, text_col=text_col, shingle_n=shingle_n,
        num_perm=num_perm, seed=seed, tokenizer=tokenizer, hash_fn=hash_fn,
    )
    return membership_from_signatures(sig, bands=bands, num_perm=num_perm)


def candidate_pairs(
    membership: DataFrame,
    per_block_cap: int = 64,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """(a, b) candidate pairs with a < b, deduped across blocks.

    Pipeline: cap members per block (window) → collect sorted member
    array per block (ONE shuffle on block_key) → explode the pair
    combinations expression-side → distinct().

    per_block_cap bounds worst-case work: a block with m members emits
    min(m, cap)·(min(m, cap)-1)/2 pairs. Reference analog:
    pairs_limit = set_size × 12 + 4-bucket stripes
    (src/functs.c:1718,1752-1768).
    """
    w = Window.partitionBy("block_key").orderBy("spec_id")
    capped = (
        membership.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_block_cap)
        .drop("_rn")
    )
    members = (
        capped.groupBy("block_key")
        .agg(F.sort_array(F.collect_set("spec_id")).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    # pairs(ms) = [(ms[i], ms[j]) for i < j] as a flat array expression
    pair_arr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = members.select(F.explode(pair_arr).alias("p")).select("p.a", "p.b")
    return pairs.distinct()


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

    Why this channel exists (VERDICT r4 #1, measured in
    scripts/semantic_blocking_probe.py on the hard tier): adversarial
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


def est_jaccard(sig_a: Column, sig_b: Column, num_perm: int) -> Column:
    """MinHash-estimated Jaccard: the fraction of agreeing signature
    slots, rounded to 9 places — the est_j of every candidate channel
    and of the train pairs' sig join."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda p, q: (p == q).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return F.round(agree.cast("double") / F.lit(float(num_perm)), 9)


def pairs_with_est(pairs: DataFrame, sigs: DataFrame, num_perm: int) -> DataFrame:
    """``pairs`` (a, b[, ...]) plus est_j, from a join of both sides to
    their (spec_id, sig) rows — for pairs that did not come out of a
    blocking channel (labeled pairs); a pair with a side missing from
    ``sigs`` drops out."""

    def side(s: str) -> DataFrame:
        return sigs.select(F.col("spec_id").alias(s), F.col("sig").alias(f"_sig_{s}"))

    return (
        pairs.join(side("a"), "a")
        .join(side("b"), "b")
        .withColumn("est_j", est_jaccard(F.col("_sig_a"), F.col("_sig_b"), num_perm))
        .drop("_sig_a", "_sig_b")
    )


def candidate_pairs_with_est_from_membership(
    mem: DataFrame,
    num_perm: int = 32,
    per_block_cap: int = 64,
) -> DataFrame:
    """(a, b, est_j) candidates from ANY (spec_id, block_key, sig)
    membership — the channel-generic core of candidate_pairs_with_est:
    cap members per block, collect the sorted (id, sig) array, emit
    within-block pairs with the MinHash-estimated Jaccard computed
    expression-side, dedup across blocks. One shuffle on block_key plus
    the distinct's pair shuffle."""
    w = Window.partitionBy("block_key").orderBy("spec_id")
    capped = (
        mem.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_block_cap)
        .drop("_rn")
    )
    members = (
        capped.groupBy("block_key")
        .agg(F.array_sort(F.collect_list(F.struct("spec_id", "sig"))).alias("ms"))
        .filter(F.size("ms") >= 2)
    )

    pair_arr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["spec_id"].alias("a"),
                    y["spec_id"].alias("b"),
                    est_jaccard(x["sig"], y["sig"], num_perm).alias("est_j"),
                ),
            ),
        )
    )
    pairs = members.select(F.explode(pair_arr).alias("p")).select(
        "p.a", "p.b", "p.est_j"
    )
    # est_j is a pure function of (a, b) → distinct on the full row is
    # the same dedup as on the pair, no extra aggregation needed
    return pairs.distinct()


def candidate_pairs_with_est(
    signatures: DataFrame,
    bands: int = 16,
    num_perm: int = 32,
    per_block_cap: int = 64,
) -> DataFrame:
    """(a, b, est_j) candidate pairs with the MinHash-estimated Jaccard
    computed INSIDE the blocking stage — the 100 TB-shape successor to
    candidate_pairs + a downstream signature join.

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
    return candidate_pairs_with_est_from_membership(
        mem, num_perm=num_perm, per_block_cap=per_block_cap
    )


def block_stats(membership: DataFrame) -> DataFrame:
    """(block_key, n_members) — skew diagnostics for the bench/metrics."""
    return membership.groupBy("block_key").agg(F.count("*").alias("n_members"))


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
    w = Window.partitionBy("block_key", "salt").orderBy("spec_id")
    capped = (
        salted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_block_cap)
        .drop("_rn")
    )
    groups = capped.groupBy("block_key", "salt").agg(
        F.sort_array(F.collect_set("spec_id")).alias("ms")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
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
