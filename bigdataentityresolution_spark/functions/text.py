"""Text functions: tokenization, shingles, portable hashing, text analytics.

Everything here is a pure Spark Column expression (whole-stage codegen,
no Python in the hot path). Each function that participates in a DuckDB
oracle check has a twin ``*_sql`` builder producing the equivalent DuckDB
SQL fragment, so Spark and the oracle compute bit-identical values.

Reference semantics reproduced:
- token admission (``checkWord``, reference src/boWords.c:251-275):
  keep token iff every char is alphanumeric; lowercase; drop stopwords.
  Deliberate deviation (SURVEY.md §7.2): the reference drops any token
  that is a *substring* of the stopword blob (strstr quirk); we use exact
  membership, the intended semantics.
- tokenizer splits on single spaces (src/boWords.c:234); the generic
  tokenizer splits on non-alphanumerics, better suited to source code.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference stopword blob, src/boWords.c:266, split on spaces.
STOPWORDS: tuple[str, ...] = tuple(
    "a able about across after all almost also am among an and any are as at be "
    "because been but by can cannot could dear did do does either else ever every "
    "for from get got had has have he her hers him his how however i if in into is "
    "it its just least let like likely may me might most must my neither no nor not "
    "of off often on only or other our own rather said say says she should since so "
    "some than that the their them then there these they this tis to too twas us "
    "wants was we were what when where which while who whom why will with would yet "
    "you your".split()
)

# Modulus for the portable polynomial hash — prime, small enough that
# (P-1)*31 + 255 stays far below 2^63 (no overflow divergence between
# engines).
HASH_PRIME = 1_000_000_007
HASH_INIT = 7


def tokenize(col: Column | str, split_pattern: str = "[^a-z0-9]+") -> Column:
    """Lowercase + regexp-split + drop empties → ARRAY<STRING>.

    Generic tokenizer for prose and source code. Reference analog:
    strtok on spaces (src/boWords.c:234) + per-char isalnum filter.
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    return F.filter(F.split(c, split_pattern), lambda t: t != F.lit(""))


def tokenize_sql(expr: str, split_pattern: str = "[^a-z0-9]+") -> str:
    """DuckDB twin of :func:`tokenize`."""
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '{split_pattern}'),"
        f" t -> t <> '')"
    )


def admitted_tokens(col: Column | str) -> Column:
    """Reference-compat token admission (checkWord, src/boWords.c:251-275).

    Split on single spaces, keep fully-alphanumeric tokens, lowercase,
    drop exact stopwords.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, " ")
    toks = F.filter(toks, lambda t: t.rlike("^[a-zA-Z0-9]+$"))
    toks = F.transform(toks, F.lower)
    return F.filter(toks, lambda t: ~t.isin(*STOPWORDS))


def admitted_tokens_sql(expr: str) -> str:
    """DuckDB twin of :func:`admitted_tokens`."""
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return (
        f"list_filter(list_transform("
        f"list_filter(string_split({expr}, ' '), t -> regexp_matches(t, '^[a-zA-Z0-9]+$')),"
        f" t -> lower(t)), t -> NOT list_contains([{stop}], t))"
    )


def shingles(tokens: Column, n: int) -> Column:
    """Token n-grams joined by spaces → ARRAY<STRING>.

    Rows with fewer than ``n`` tokens yield a single shingle of all
    tokens (so no record is unblockable), matching how the reference
    still hashes short specs into buckets (src/myHash.c:47-62).
    """
    k = F.size(tokens)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k - F.lit(n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(tokens, i, n), " "),
    )
    return F.when(k > 0, grams).otherwise(F.array(F.lit("")))


def shingles_sql(tokens_expr: str, n: int) -> str:
    """DuckDB twin of :func:`shingles` (1-based slicing like Spark)."""
    t = tokens_expr
    return (
        f"CASE WHEN len({t}) > 0 THEN "
        f"list_transform(range(1, greatest(len({t}) - {n - 1}, 1) + 1),"
        f" i -> array_to_string(list_slice({t}, i, i + {n - 1}), ' '))"
        f" ELSE [''] END"
    )


def portable_hash(col: Column, seed: int = 0) -> Column:
    """Polynomial rolling hash over UTF-8 chars, identical in DuckDB.

    h = fold(chars, HASH_INIT + seed, (acc, c) -> (acc*31 + ascii(c)) % P).
    Used wherever the oracle must reproduce a hash (MinHash, SimHash,
    fingerprints); NOT the partitioner — Spark's own hash partitioning
    handles layout.
    """
    chars = F.filter(F.split(col, ""), lambda c: c != F.lit(""))
    return F.aggregate(
        chars,
        F.lit(HASH_INIT + seed).cast("long"),
        lambda acc, x: (acc * F.lit(31) + F.ascii(x)) % F.lit(HASH_PRIME),
    )


def portable_hash_sql(expr: str, seed: int = 0) -> str:
    """DuckDB twin of :func:`portable_hash`."""
    return (
        f"list_reduce(list_prepend(CAST({HASH_INIT + seed} AS BIGINT),"
        f" list_transform(list_filter(string_split({expr}, ''), c -> c <> ''),"
        f" c -> CAST(ascii(c) AS BIGINT))),"
        f" (acc, x) -> (acc * 31 + x) % {HASH_PRIME})"
    )


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 hex of the content.

    Exact-dup detection key; identical in DuckDB (`md5`).
    """
    return F.md5(col)


def token_count(col: Column | str, split_pattern: str = "[^a-z0-9]+") -> Column:
    """Whitespace/punct token count (reference: spec->numofWords)."""
    return F.size(tokenize(col, split_pattern))


# --- Text analytics (training-data pipeline extensions; no reference analog) ---

# Tiny per-language stopword marker sets for the n-gram language-ID
# heuristic. Public-knowledge common words.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "that", "with", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "que", "pour", "dans"),
    "es": ("el", "la", "los", "que", "es", "y", "por", "para"),
    "zh": ("de", "shi", "le", "bu", "wo", "zai", "you", "ren"),
}


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of marker-word hit counts; 'und' if none.

    Ties broken by language code descending (deterministic: array_max over
    (hits, lang) structs).
    """
    toks = tokenize(col)

    def lang_score(lang: str, words: tuple[str, ...]) -> Column:
        return F.struct(
            F.size(F.filter(toks, lambda t: t.isin(*words))).alias("hits"),
            F.lit(lang).alias("lang"),
        )

    scores = F.array(*[lang_score(lg, ws) for lg, ws in sorted(_LANG_MARKERS.items())])
    best = F.array_max(scores)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(col: Column | str) -> Column:
    """Doc-quality heuristic in [0,1]: length, alpha ratio, stopword ratio.

    quality = 0.4*min(n_tokens/100,1) + 0.3*alpha_ratio + 0.3*min(stop_ratio*5,1)
    (rounded to 6 dp for oracle stability).
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokenize(c)
    n = F.size(toks)
    n_alpha = F.length(F.regexp_replace(c, "[^A-Za-z]", ""))
    n_chars = F.greatest(F.length(c), F.lit(1))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    q = (
        F.lit(0.4) * F.least(n.cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * (n_alpha.cast("double") / n_chars.cast("double"))
        + F.lit(0.3) * F.least(n_stop.cast("double") / F.greatest(n, F.lit(1)).cast("double") * 5.0, F.lit(1.0))
    )
    return F.round(q, 6)


def hash1_compat(col: Column) -> Column:
    """Reference hash1 (src/myHash.c:47-62) as a Spark expression.

    sum=1; extra=0; for each char at 0-based pos t:
      sum += c - '0' + extra;  extra += (c - '0') % (t+1)
    Kept for block-identity parity checks against the reference
    (north_rule: "labeled pairs at the same blocking key").
    """
    chars = F.split(col, "")
    acc = F.aggregate(
        F.sequence(F.lit(1), F.size(chars)),
        F.struct(F.lit(1).cast("long").alias("sum"), F.lit(0).cast("long").alias("extra")),
        lambda a, i: F.struct(
            (a["sum"] + F.ascii(F.element_at(chars, i)) - 48 + a["extra"]).alias("sum"),
            (a["extra"] + (F.ascii(F.element_at(chars, i)) - 48) % i).alias("extra"),
        ),
        lambda a: a["sum"],
    )
    return acc
