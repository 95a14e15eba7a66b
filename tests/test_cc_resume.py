"""Reliable-checkpoint connected components: a run killed between rounds
resumes from the last completed round (VERDICT.md r1 'What's wrong' #4 —
localCheckpoint state dies with an executor; parquet round state + an
atomic manifest survives)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bigdataentityresolution_spark.operators.clustering import connected_components


@pytest.fixture()
def chain_edges(spark):
    # a 24-node path: slowest-converging small graph (diameter 23) —
    # guarantees multiple star rounds
    rows = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(23)]
    return spark.createDataFrame(rows, "a string, b string")


def _labels(df):
    return {r["spec_id"]: r["cluster_id"] for r in df.collect()}


def test_cc_checkpoint_resume_equals_fresh(spark, chain_edges, tmp_path):
    ckpt = str(tmp_path / "cc")

    expected = _labels(connected_components(chain_edges))
    assert set(expected.values()) == {"n00"}

    # "killed" run: stop after 2 rounds (max_iter caps rounds, mimicking
    # a death mid-closure). Round state + manifest are on disk.
    connected_components(chain_edges, max_iter=2, checkpoint_dir=ckpt)
    manifest = json.load(open(os.path.join(ckpt, "_cc_manifest.json")))
    assert manifest["round"] == 2
    assert os.path.exists(os.path.join(ckpt, "round_2", "_SUCCESS"))

    # resumed run: picks up at round 2 (manifest advances past it) and
    # converges to the same labels as the fresh run
    resumed = connected_components(chain_edges, checkpoint_dir=ckpt)
    assert _labels(resumed) == expected
    manifest2 = json.load(open(os.path.join(ckpt, "_cc_manifest.json")))
    assert manifest2["round"] > 2


def test_cc_completed_dir_short_circuits(spark, chain_edges, tmp_path):
    ckpt = str(tmp_path / "cc")
    first = _labels(connected_components(chain_edges, checkpoint_dir=ckpt))
    done_round = json.load(open(os.path.join(ckpt, "_cc_manifest.json")))["round"]

    # a rerun over the SAME dir resumes at the fixed point: one extra
    # signature confirmation, same labels
    second = _labels(connected_components(chain_edges, checkpoint_dir=ckpt))
    assert second == first
    assert json.load(open(os.path.join(ckpt, "_cc_manifest.json")))["round"] >= done_round


@pytest.mark.parametrize("kwargs", [{"checkpoint_every": 0}, {"max_iter": 0}])
def test_cc_rejects_loop_settings_below_one(spark, chain_edges, tmp_path, kwargs):
    """checkpoint_every=0 never advances the round count (cache mode
    loops forever) and max_iter=0 returns unconverged labels: both raise
    before any job runs, with or without a checkpoint dir."""
    with pytest.raises(ValueError):
        connected_components(chain_edges, **kwargs)
    with pytest.raises(ValueError):
        connected_components(chain_edges, checkpoint_dir=str(tmp_path / "cc"), **kwargs)
    assert not os.path.exists(tmp_path / "cc")
