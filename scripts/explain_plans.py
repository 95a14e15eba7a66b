#!/usr/bin/env python
"""Regenerate PLANS.md's formatted physical plans for headline operators.

Plan-only (no jobs run). Each section demonstrates a property the engine
is designed around: parquet pushdown/pruning, map-side partial
aggregation, broadcast pruning joins, whole-stage codegen spans. Every
other section of PLANS.md is kept byte-for-byte.
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def merge_sections(text: str, generated: dict[str, str]) -> str:
    """``text`` (a markdown file of ``## `` sections) with each section
    whose title is a key of ``generated`` replaced by that value, in
    place; the generated sections it lacks are appended. Everything else
    is kept as it is."""
    head, *sections = re.split(r"(?m)^(?=## )", text)
    generated = dict(generated)
    kept = [generated.pop(s.split("\n", 1)[0][3:], s) for s in sections]
    return head + "".join(kept + list(generated.values()))


def main() -> None:
    from pyspark.sql import functions as F

    from bigdataentityresolution_spark.functions.text import tokenize
    from bigdataentityresolution_spark.operators import blocking as B
    from bigdataentityresolution_spark.operators import tfidf as TI
    from bigdataentityresolution_spark.session import get_spark

    spark = get_spark(app_name="plans", master="local[4]", shuffle_partitions=8)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")

    sections: list[tuple[str, str, str]] = []

    # 1. pushdown + pruning
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    sections.append((
        "Filter/projection pushdown to parquet",
        "A filtered 2-column projection must reach the scan: "
        "`PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]`, "
        "`ReadSchema` holding only the 2 projected + 1 filter columns.",
        plan_of(q),
    ))

    # 2. partial aggregation
    p = TI.postings(docs, id_col="doc_id", text_col="text")
    sections.append((
        "TF counting: map-side partial aggregation",
        "postings groupBy(doc, term).count() shows HashAggregate "
        "(partial_count) BEFORE the Exchange and final HashAggregate "
        "after — tokens are pre-aggregated before they ride the shuffle.",
        plan_of(p),
    ))

    # 3. minhash signatures: one scan, no pre-agg shuffle of token rows
    sigs = B.minhash_signatures_df(
        docs.select(F.col("doc_id").cast("string").alias("spec_id"), "text"),
        id_col="spec_id", text_col="text", tokenizer=tokenize("text"),
    )
    sections.append((
        "MinHash signatures: map-side sketch, tiny shuffle",
        "32 min-aggregates partially aggregate per mapper; the Exchange "
        "carries one 256 B signature row per record, never token or "
        "shingle rows. All gram hashing is numeric (xxhash64 + polynomial "
        "fold) inside the scan stage.",
        plan_of(sigs),
    ))

    # 4. broadcast semi-join prune
    n = docs.count()
    v = TI.vocab(p, n)
    top = TI.top_k_vocab(v, 100)
    pruned = TI.prune_postings(p, top)
    sections.append((
        "Vocabulary prune: broadcast left-semi join",
        "The top-k vocab (≤1000 rows) broadcasts; postings keep their "
        "partitioning — no shuffle of the big side. Top-k itself is "
        "TakeOrderedAndProject (per-partition heap + driver merge, no "
        "global sort).",
        plan_of(pruned),
    ))

    # 4b. in-block candidate generation with est-Jaccard prefilter
    cand = B.candidate_pairs_with_est(sigs, bands=16, num_perm=32, per_block_cap=64)
    sections.append((
        "Candidate pairs: in-block est-Jaccard, no signature join",
        "Pair generation + the MinHash agreement fraction happen inside "
        "the aggregated per-block member array (ONE shuffle on block_key "
        "+ one distinct). The plan contains NO join of the pair set back "
        "to a signature table — the r1 shape shipped 2·|pairs| sketch "
        "probes through a shuffle_hash join and was the pipeline's "
        "hottest execution (1164 core-s at bench scale).",
        plan_of(cand),
    ))

    # 5. whole-stage codegen over an OLAP agg
    li.createOrReplaceTempView("lineitem")
    q1 = spark.sql(
        """
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
               avg(l_extendedprice) AS avg_price, count(*) AS n
        FROM lineitem WHERE l_shipdate <= date '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )
    sections.append((
        "OLAP aggregate: codegen + pushdown (TPC-H Q1 shape)",
        "One WholeStageCodegen span covers scan→filter→partial agg; the "
        "date filter is pushed to parquet.",
        plan_of(q1),
    ))

    path = REPO / "PLANS.md"
    path.write_text(merge_sections(path.read_text(), {
        title: f"## {title}\n\n{why}\n\n```\n{plan}\n```\n\n" for title, why, plan in sections
    }))
    print("wrote PLANS.md", sum(len(s[2]) for s in sections), "chars of plans")
    spark.stop()


if __name__ == "__main__":
    main()
