"""Smoke test of the benchmark itself, on the tiny default corpus.

    python3 -m pytest perfbench/test_smoke.py -q

Pins the metric names and units that BENCHMARK.json declares, checks that
an untraced and a traced run print exactly those, and that the traced
pipeline run records all 11 stage spans. Takes about two minutes.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import metrics as M  # noqa: E402
import run as R  # noqa: E402
import workloads as W  # noqa: E402

# generate_corpus()'s own defaults: ~200 files
TINY = {"n_clusters": 40, "n_unrelated": 60, "n_repos": 12}


def test_benchmark_json_matches_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in M.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m) for m in M.PER_LAYER
    ]
    assert [w["name"] for w in bench["workloads"]] == list(W.load()["workloads"])
    assert ("setup_s", "s", "lower") in [m[:3] for m in M.END_TO_END]


@pytest.fixture(scope="module")
def tiny_runs():
    """One untraced and one traced std_ckpt run on the tiny corpus."""
    spec = W.load()
    spec["corpora"]["std"]["kwargs"] = TINY
    work = os.path.join(HERE, ".work", f"smoke-{os.getpid()}")
    out = {}
    try:
        for trace in (0, 1):
            run_work = os.path.join(work, str(trace))
            R._env(run_work, bool(trace))
            args = SimpleNamespace(workload="std_ckpt", seed=1, seconds=1.0, trace=trace)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                assert R.measure(args, spec, run_work) == 0
            out[trace] = json.loads(buf.getvalue().strip().splitlines()[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def _check_result(result: dict, declared: list) -> None:
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert list(result["metrics"]) == [m[0] for m in declared]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m[0]: m[1] for m in declared}


def test_untraced_run_prints_end_to_end_metrics(tiny_runs):
    result = tiny_runs[0]
    _check_result(result, M.END_TO_END)
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_per_layer_metrics_and_all_stage_spans(tiny_runs):
    result = tiny_runs[1]
    _check_result(result, M.PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert len(M.STAGE_LAYER) == 11
    for stage, layer in M.STAGE_LAYER.items():
        assert m[f"{layer}.{stage}.s"] > 0, stage
        assert m[f"{layer}.{stage}.rows"] > 0, stage
    assert m["scoring.fit_lr_newton.calls"] >= 1
    assert m["clustering.cc_rounds"] >= 1
    assert m["checkpoint.resumed_stages"] == 7
    assert m["clustering.n_clusters"] == TINY["n_clusters"] + TINY["n_unrelated"]
    assert m["quality.labeled_pair_f1"] >= 0.99
