"""The one checkpoint format: parquet data + an atomic _manifest.json.

North-rule requirement: "checkpoint per-partition lineage + match
metrics so any stage resumes mid-run". A checkpoint is <base>/data/
(parquet) and <base>/_manifest.json, written after the data (tmp +
os.replace); a manifest that parses and says status "complete" means
its data is complete. The lineage is one entry per written file (one
per write task) with its rows from the parquet footer, so no job
recounts what the write produced; ``rows`` is their sum.

StageRunner checkpoints each pipeline stage at <workdir>/<stage>/ and
resumes it when the manifest is complete under the stage's fingerprint
(what it reads: plans.pipeline.STAGES); connected_components keeps its
round state at <checkpoint_dir>/round_<k>/. The reference has no analog
(single-process, all in RAM, SIGINT just aborts — src/functs.c:2228-2232).
"""

from __future__ import annotations

import glob
import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"
DATA = "data"


def write_data(df: DataFrame, base: str) -> DataFrame:
    """Write ``df`` as the data at ``base``; return it read back under the
    schema written (made nullable, as inference would, without its job).
    The old manifest goes first: a killed write leaves none saying complete."""
    mpath = os.path.join(base, MANIFEST)
    if os.path.exists(mpath):
        os.remove(mpath)
    dpath = os.path.join(base, DATA)
    df.write.mode("overwrite").parquet(dpath)
    return df.sparkSession.read.schema(df.schema).parquet(dpath)


def commit_manifest(base: str, **fields) -> dict:
    """Mark the data at ``base`` complete: ``fields`` plus the lineage."""
    parts = [
        {"file": os.path.basename(p), "rows": pq.read_metadata(p).num_rows}
        for p in sorted(glob.glob(os.path.join(base, DATA, "part-*")))
    ]
    manifest = {
        **fields,
        "status": "complete",
        "rows": sum(p["rows"] for p in parts),
        "partitions": parts,
        "written_at": time.time(),
    }
    mpath = os.path.join(base, MANIFEST)
    with open(mpath + ".tmp", "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(mpath + ".tmp", mpath)  # atomic: a killed run never leaves a half manifest
    return manifest


def read_manifest(base: str) -> dict | None:
    """The manifest at ``base``; None if missing, unreadable or incomplete."""
    try:
        with open(os.path.join(base, MANIFEST)) as f:
            m = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    return m if isinstance(m, dict) and m.get("status") == "complete" else None


class StageRunner:
    """Runs named stages with parquet checkpoints and manifest-gated resume."""

    def __init__(self, spark: SparkSession, workdir: str | None):
        self.spark = spark
        self.workdir = workdir
        self.enabled = workdir is not None
        self.manifests: dict[str, dict] = {}
        self.cached: list[DataFrame] = []  # cached stage outputs (unpersist via release())
        if self.enabled:
            os.makedirs(workdir, exist_ok=True)

    def run(
        self,
        stage: str,
        fn,
        fingerprint: str = "",
        metrics: dict | None = None,
    ) -> DataFrame:
        """Return the stage output, from checkpoint when valid.

        fn: () -> DataFrame. fingerprint: over what the stage reads
        (plans.pipeline.STAGES); a mismatch forces a recompute, and it
        cascades because downstream fingerprints embed this one.
        """
        if not self.enabled:
            # no checkpoint dir → keep the stage in the block-manager cache so
            # downstream stages don't recompute its whole lineage
            df = fn().cache()
            self.cached.append(df)
            self.manifests[stage] = {"stage": stage, "resumed": False}
            return df

        base = os.path.join(self.workdir, stage)
        m = read_manifest(base)
        if m is not None and m.get("fingerprint") == fingerprint:
            self.manifests[stage] = {**m, "resumed": True}
            return self.spark.read.parquet(os.path.join(base, DATA))

        out = write_data(fn(), base)
        m = commit_manifest(
            base, stage=stage, fingerprint=fingerprint,
            schema=out.schema.simpleString(), metrics=metrics or {},
        )
        self.manifests[stage] = {**m, "resumed": False}
        return out

    def cache(self, df: DataFrame) -> DataFrame:
        """Keep a stage output cached until release(). A cache-mode output
        already is (run caches it); a checkpoint-mode one is a parquet read."""
        if self.enabled:
            self.cached.append(df.cache())
        return df

    def release(self) -> None:
        """Unpersist every cached stage output (bench reps / batch callers
        that rebuild the pipeline in one session)."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    def invalidate(self, stage: str) -> None:
        mpath = os.path.join(self.workdir, stage, MANIFEST)
        if os.path.exists(mpath):
            os.remove(mpath)
