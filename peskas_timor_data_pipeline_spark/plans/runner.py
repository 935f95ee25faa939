"""Pipeline DAG runner: named stages, parquet checkpoints, dependency
resolution (replaces the reference's GitHub-Actions YAML + GCS artifacts,
.github/workflows/data-pipeline.yaml:21-266).

Within a stage everything is one lazy Catalyst plan; a stage boundary is a
versioned parquet write (the same durability role the reference's GCS
artifacts play). Stages re-read from parquet, so a failed run resumes from
the last completed stage. With ``incremental=True`` a stage whose inputs'
artifact versions are unchanged since its last run is skipped entirely —
the generalization of the reference's hand-rolled only-new-ids /
descriptor-cache patterns (R/ingest-pds-data.R:181,
R/preprocess-pds-trips.R:199-235) to every stage.
"""

from __future__ import annotations

import json
import logging
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from peskas_timor_data_pipeline_spark.sources.io import (
    read_stage,
    resolve_latest,
    write_stage,
    write_stage_partitioned,
)

log = logging.getLogger(__name__)


@dataclass
class Stage:
    name: str
    fn: Callable[..., DataFrame]          # (spark, **input_dfs) -> DataFrame
    inputs: list[str] = field(default_factory=list)  # upstream stage names
    partition_cols: list[str] = field(default_factory=list)  # hive layout


@dataclass
class Pipeline:
    spark: SparkSession
    artifact_dir: str
    stages: list[Stage] = field(default_factory=list)

    def stage(
        self,
        name: str,
        inputs: list[str] | None = None,
        partition_cols: list[str] | None = None,
    ):
        """Decorator registration: @pipe.stage("merged", inputs=["v1","v2"]).
        ``partition_cols`` writes the stage artifact hive-partitioned so
        downstream readers filtering on those columns prune at the
        directory level (e.g. the band store's band-key prefix)."""

        def deco(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
            self.stages.append(Stage(name, fn, inputs or [], partition_cols or []))
            return fn

        return deco

    # --- incremental bookkeeping -------------------------------------------------
    # Artifacts are immutable and versioned (sources.io.add_version), so the
    # input artifact PATHS are a complete fingerprint of a stage's inputs:
    # same paths => same bytes => the previous output is still current.

    def _fingerprint(self, st: Stage) -> str:
        parts = [
            f"{name}={resolve_latest(self.artifact_dir, name, 'parquet')}"
            for name in sorted(st.inputs)
        ]
        return ";".join(parts)

    def _meta_path(self, st: Stage) -> str:
        return os.path.join(self.artifact_dir, f"{st.name}__inputs__.json")

    def run(
        self, only: set[str] | None = None, incremental: bool = False
    ) -> dict[str, str]:
        """Run stages in declaration order (a valid topological order by
        construction); returns stage -> artifact path. ``incremental=True``
        skips a stage when its recorded input fingerprint matches the
        current latest input artifacts AND its own output artifact exists;
        skipped stages resolve to their existing artifact, so downstream
        fingerprints see the unchanged path and the skip propagates down
        unchanged branches of the DAG."""
        paths: dict[str, str] = {}
        for st in self.stages:
            if only and st.name not in only:
                continue
            fp = self._fingerprint(st)
            existing = resolve_latest(self.artifact_dir, st.name, "parquet")
            if incremental and existing is not None and st.inputs:
                meta = self._meta_path(st)
                if os.path.exists(meta):
                    with open(meta) as f:
                        if json.load(f).get("inputs") == fp:
                            paths[st.name] = existing
                            log.info("stage %s: current, skipped", st.name)
                            continue
            upstream = {
                name: read_stage(self.spark, self.artifact_dir, name)
                for name in st.inputs
            }
            log.info("stage %s: running (inputs=%s)", st.name, st.inputs)
            out = st.fn(self.spark, **upstream)
            if st.partition_cols:
                paths[st.name] = write_stage_partitioned(
                    out, self.artifact_dir, st.name, st.partition_cols
                )
            else:
                paths[st.name] = write_stage(out, self.artifact_dir, st.name)
            # tmp + rename: a crash mid-write never leaves a torn meta file
            meta = self._meta_path(st)
            with open(meta + ".tmp", "w") as f:
                json.dump({"inputs": fp}, f)
            os.replace(meta + ".tmp", meta)
            log.info("stage %s -> %s", st.name, paths[st.name])
        return paths
