"""Stage checkpointing: parquet output + _manifest.json per stage.

North-rule requirement: "checkpoint per-partition lineage + match
metrics so any stage resumes mid-run". Each stage directory holds

  <workdir>/<stage>/data/          parquet output
  <workdir>/<stage>/_manifest.json

The manifest records the stage name, its fingerprint, total rows, schema,
and per-partition row counts (lineage). `StageRunner.run` returns the
cached parquet when the manifest is complete under the given fingerprint,
else recomputes. A fingerprint covers what its stage reads: source
identities, config fields and upstream fingerprints (plans.pipeline.STAGES).

The reference has no analog (single-process, all in RAM, SIGINT just
aborts — src/functs.c:2228-2232); this is new engine capability.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_manifest.json"


class StageRunner:
    """Runs named stages with parquet checkpoints and manifest-gated resume."""

    def __init__(self, spark: SparkSession, workdir: str | None, enabled: bool = True):
        self.spark = spark
        self.workdir = workdir
        self.enabled = enabled and workdir is not None
        self.manifests: dict[str, dict] = {}
        self.cached: list[DataFrame] = []  # cached stage outputs (unpersist via release())
        if self.enabled:
            os.makedirs(workdir, exist_ok=True)

    def _paths(self, stage: str) -> tuple[str, str]:
        base = os.path.join(self.workdir, stage)
        return os.path.join(base, "data"), os.path.join(base, MANIFEST)

    def valid_manifest(self, stage: str, fingerprint: str) -> dict | None:
        _, mpath = self._paths(stage)
        if not os.path.exists(mpath):
            return None
        try:
            with open(mpath) as f:
                m = json.load(f)
        except (OSError, json.JSONDecodeError):
            return None
        if m.get("fingerprint") != fingerprint or m.get("status") != "complete":
            return None
        return m

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

        dpath, mpath = self._paths(stage)
        m = self.valid_manifest(stage, fingerprint)
        if m is not None:
            m["resumed"] = True
            self.manifests[stage] = m
            return self.spark.read.parquet(dpath)

        df = fn()
        df.write.mode("overwrite").parquet(dpath)
        out = self.spark.read.parquet(dpath)
        per_part = [
            {"partition": int(r["pid"]), "rows": int(r["rows"])}
            for r in out.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        ]
        manifest = {
            "stage": stage,
            "status": "complete",
            "fingerprint": fingerprint,
            "rows": sum(p["rows"] for p in per_part),
            "n_partitions": len(per_part),
            "partitions": per_part,
            "schema": out.schema.simpleString(),
            "written_at": time.time(),
            "metrics": metrics or {},
            "resumed": False,
        }
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, mpath)  # atomic: a killed run never leaves a half manifest
        self.manifests[stage] = manifest
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
        _, mpath = self._paths(stage)
        if os.path.exists(mpath):
            os.remove(mpath)
