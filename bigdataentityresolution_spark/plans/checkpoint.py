"""The one checkpoint format: parquet data + an atomic _manifest.json.

North-rule requirement: "checkpoint per-partition lineage + match
metrics so any stage resumes mid-run". A checkpoint is <base>/data/
(parquet) and <base>/_manifest.json, written after the data (tmp +
os.replace): a manifest that parses, says status "complete" and holds
the written schema means its data is complete, and read_data opens it
under that schema, so no job infers it. The lineage is one entry per
written file with its rows from the parquet footer; ``rows`` is their sum.

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
from pyspark.sql.types import StructType

MANIFEST = "_manifest.json"
DATA = "data"


def _drop_manifest(base: str) -> None:
    mpath = os.path.join(base, MANIFEST)
    if os.path.exists(mpath):
        os.remove(mpath)


def write_data(df: DataFrame, base: str) -> None:
    """Write ``df`` as the data at ``base``. The old manifest goes first:
    a killed write leaves none saying complete."""
    _drop_manifest(base)
    df.write.mode("overwrite").parquet(os.path.join(base, DATA))


def commit_manifest(base: str, schema: StructType, **fields) -> dict:
    """Mark the data at ``base`` complete: ``fields``, the ``schema`` it
    was written under, and the lineage."""
    parts = [
        {"file": os.path.basename(p), "rows": pq.read_metadata(p).num_rows}
        for p in sorted(glob.glob(os.path.join(base, DATA, "part-*")))
    ]
    manifest = {
        **fields,
        "status": "complete",
        "schema": schema.jsonValue(),
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
    """The manifest at ``base``; None if missing, unreadable, incomplete or
    without a recorded schema (written by older code)."""
    try:
        with open(os.path.join(base, MANIFEST)) as f:
            m = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    complete = isinstance(m, dict) and m.get("status") == "complete"
    return m if complete and isinstance(m.get("schema"), dict) else None


def read_data(spark: SparkSession, base: str, manifest: dict) -> DataFrame:
    """The data at ``base`` under the schema ``manifest`` records (Spark
    makes it nullable, as inference would, without inference's job)."""
    schema = StructType.fromJson(manifest["schema"])
    return spark.read.schema(schema).parquet(os.path.join(base, DATA))


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

    def run(self, stage: str, fn, fingerprint: str = "", metrics: dict | None = None) -> DataFrame:
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
        resumed = m is not None and m.get("fingerprint") == fingerprint
        if not resumed:
            df = fn()
            write_data(df, base)
            m = commit_manifest(base, df.schema, stage=stage, fingerprint=fingerprint,
                                metrics=metrics or {})
        self.manifests[stage] = {**m, "resumed": resumed}
        return read_data(self.spark, base, m)

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
        _drop_manifest(os.path.join(self.workdir, stage))
