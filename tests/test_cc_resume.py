"""Reliable-checkpoint connected components: a run killed between rounds
resumes from the last completed round (VERDICT.md r1 'What's wrong' #4 —
localCheckpoint state dies with an executor; parquet round state + an
atomic manifest survives). Round state is a checkpoint in the stage
format: round_<k>/data/ + round_<k>/_manifest.json (plans.checkpoint),
and only the highest complete round stays on disk."""

from __future__ import annotations

import glob
import json
import os

import pytest

from bigdataentityresolution_spark.operators.clustering import connected_components
from bigdataentityresolution_spark.plans.checkpoint import read_manifest


@pytest.fixture()
def chain_edges(spark):
    # a 24-node path: slowest-converging small graph (diameter 23) —
    # guarantees multiple star rounds
    rows = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(23)]
    return spark.createDataFrame(rows, "a string, b string")


def _labels(df):
    return {r["spec_id"]: r["cluster_id"] for r in df.collect()}


def _last_round(ckpt) -> int:
    """The highest round whose manifest is complete."""
    return max(
        m["round"] for m in (read_manifest(os.path.join(ckpt, d)) for d in os.listdir(ckpt)) if m
    )


def test_cc_checkpoint_resume_equals_fresh(spark, chain_edges, tmp_path):
    ckpt = str(tmp_path / "cc")

    expected = _labels(connected_components(chain_edges))
    assert set(expected.values()) == {"n00"}

    # "killed" run: stop after 2 rounds (max_iter caps rounds, mimicking
    # a death mid-closure). Round state + manifest are on disk.
    connected_components(chain_edges, max_iter=2, checkpoint_dir=ckpt)
    manifest = read_manifest(os.path.join(ckpt, "round_2"))
    assert manifest["round"] == 2
    assert _last_round(ckpt) == 2
    # the lineage comes from the files written
    assert manifest["rows"] == sum(p["rows"] for p in manifest["partitions"])
    assert manifest["rows"] == spark.read.parquet(os.path.join(ckpt, "round_2", "data")).count()

    # resumed run: picks up at round 2 (manifests advance past it) and
    # converges to the same labels as the fresh run
    resumed = connected_components(chain_edges, checkpoint_dir=ckpt)
    assert _labels(resumed) == expected
    assert _last_round(ckpt) > 2
    # once a round commits, the lower rounds are deleted
    assert os.listdir(ckpt) == [f"round_{_last_round(ckpt)}"]


def test_cc_completed_dir_short_circuits(spark, chain_edges, tmp_path):
    ckpt = str(tmp_path / "cc")
    first = _labels(connected_components(chain_edges, checkpoint_dir=ckpt))
    done_round = _last_round(ckpt)

    # a rerun over the SAME dir resumes at the fixed point: one extra
    # signature confirmation, same labels
    second = _labels(connected_components(chain_edges, checkpoint_dir=ckpt))
    assert second == first
    assert _last_round(ckpt) >= done_round


def test_cc_old_layout_dir_is_ignored(spark, chain_edges, tmp_path):
    """Round state written by older code has no complete round manifest:
    neither the layout before the shared format (_cc_manifest.json
    naming a bare round_2/ parquet) nor a round manifest without a
    recorded schema. CC starts again from round 0, converges to the
    fresh labels in the fresh number of rounds, and deletes the stale
    rounds, leaving one complete round."""
    fresh = str(tmp_path / "fresh")
    expected = _labels(connected_components(chain_edges, checkpoint_dir=fresh))
    ckpt = tmp_path / "cc"
    # edges that are NOT the chain's state, so resuming from them would
    # give other labels
    stale = spark.createDataFrame([("n00", "n23")], "a string, b string")
    stale.write.parquet(str(ckpt / "round_2"))
    (ckpt / "_cc_manifest.json").write_text(json.dumps({"round": 2, "sig": [1, 2, 3]}))
    stale.write.parquet(str(ckpt / "round_4" / "data"))
    (ckpt / "round_4" / "_manifest.json").write_text(
        json.dumps({"round": 4, "sig": [1, 2, 3], "status": "complete", "rows": 1})
    )

    assert _labels(connected_components(chain_edges, checkpoint_dir=str(ckpt))) == expected
    assert _last_round(ckpt) == _last_round(fresh)
    assert not glob.glob(str(ckpt / "round_2" / "*.parquet"))
    assert len([d for d in os.listdir(ckpt) if read_manifest(str(ckpt / d))]) == 1


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
