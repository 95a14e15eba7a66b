"""Round-over-round regression check coverage (VERDICT r4 #3).

The bench's _regressions compares THIS run's per-query walls against the
latest committed BENCH_r{N}.json. r4's gap: the new quality benches
(er_hard, hotkey_*) were in the queries dict but nothing asserted the
check would actually WARN if they slipped — these tests pin that with a
synthetic prior, no Spark session needed.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench


def test_regressions_flags_er_hard_and_hotkey_slips(monkeypatch):
    prior = {
        "er_pipeline": 30.0,
        "er_pipeline_noselftrain": 25.0,
        "er_hard": 80.0,
        "hotkey_capped": 4.0,
        "hotkey_salted": 3.5,
        "tfidf_flagship": 2.0,
    }
    monkeypatch.setattr(bench, "_prior_round_queries", lambda: prior)
    now = dict(prior)
    now["er_hard"] = 80.0 * 1.4  # 1.4x slip: must WARN at threshold 1.3
    now["hotkey_capped"] = 4.0 * 2.0
    out = bench._regressions(now, threshold=1.3)
    assert set(out) == {"er_hard", "hotkey_capped"}
    assert out["er_hard"]["ratio"] == 1.4
    assert out["hotkey_capped"]["prev"] == 4.0


def test_regressions_quiet_below_threshold(monkeypatch):
    prior = {"er_hard": 80.0, "hotkey_salted": 3.5}
    monkeypatch.setattr(bench, "_prior_round_queries", lambda: prior)
    now = {"er_hard": 80.0 * 1.25, "hotkey_salted": 3.4}
    assert bench._regressions(now, threshold=1.3) == {}


def test_regressions_new_key_without_prior_is_not_flagged(monkeypatch):
    monkeypatch.setattr(bench, "_prior_round_queries", lambda: {"er_hard": 80.0})
    out = bench._regressions({"er_hard": 81.0, "brand_new_bench": 100.0})
    assert out == {}


def test_regressions_reports_er_hard_protocol_break(monkeypatch):
    """Walls across a changed er_hard rep protocol do not compare: the
    query is reported as a protocol break, whatever the ratio, and never
    as a regression; an unchanged protocol keeps the wall check."""
    one_rep = "1-rep min, warm plan shapes"
    prior = {"queries": {"er_hard": 80.0, "hotkey_capped": 4.0}, "er_hard": {"rep_protocol": one_rep}}
    monkeypatch.setattr(bench, "_prior_round", lambda: prior)
    two_rep = "2-rep min, warm plan shapes"
    now = {"er_hard": 70.0, "hotkey_capped": 4.0}
    out = bench._regressions(now, protocols={"er_hard": two_rep})
    assert out == {
        "er_hard": {"prev": 80.0, "now": 70.0, "protocol_break": {"prev": one_rep, "now": two_rep}}
    }
    out = bench._regressions({"er_hard": 80.0 * 1.4}, protocols={"er_hard": one_rep})
    assert "protocol_break" not in out["er_hard"] and out["er_hard"]["ratio"] == 1.4


def test_latest_committed_bench_carries_quality_keys():
    """The committed BENCH history must keep exposing er_hard/hotkey walls,
    else the generic key-matching comparison silently loses them."""
    prior = bench._prior_round_queries()
    assert {"er_hard", "hotkey_capped", "hotkey_salted"} <= set(prior), (
        f"latest BENCH_r*.json queries missing quality keys: {sorted(prior)}"
    )


def test_explain_plans_replaces_only_its_sections():
    """scripts/explain_plans.py rewrites the PLANS.md sections it
    generates, in place, appends the ones missing, and keeps every other
    section byte-for-byte."""
    from scripts.explain_plans import merge_sections

    text = (Path(__file__).resolve().parent.parent / "PLANS.md").read_text()
    assert merge_sections(text, {}) == text
    title = "TF counting: map-side partial aggregation"
    start = text.index(f"## {title}\n")
    old = text[start:text.index("\n## ", start) + 1]
    new = f"## {title}\n\nregenerated\n\n"
    added = "## Brand new\n\nplan\n\n"
    out = merge_sections(text, {title: new, "Brand new": added})
    assert out == text.replace(old, new) + added
    assert merge_sections("", {title: new}).endswith(new)
