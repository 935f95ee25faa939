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
R/preprocess-pds-trips.R:199-235) to every stage. The skip is also keyed on
the stage's code: a stage version (hash of the source of its fn, of the
callables in the fn's closure, and of the module data and package helpers
that code reads, plus its ``partition_cols``) is recorded with the inputs,
so an edited stage, or an edited constant or helper it reads, reruns. A
meta file that is missing, unreadable or keyless makes its stage rerun
(with a warning).

A stage is committed once Spark writes its ``_SUCCESS`` marker; only
committed artifacts are read or resumed from. Unpartitioned stages also
carry an optional ``_schema.json`` sidecar, written after the commit, which
lets the next stage's read skip Parquet schema inference (see
``sources.io``); partitioned stages never get one.
"""

from __future__ import annotations

import hashlib
import inspect
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
    version: str = field(init=False)

    def __post_init__(self) -> None:
        # Code-aware skip key, hashed once at registration: the source of
        # the fn and of every callable its closure holds, recursively (a
        # shared wrapper's own source says nothing about the body it
        # wraps), the data and package helpers their code reads as
        # globals or as attributes of package modules, plus the declared
        # layout.
        codes: list[str] = []
        _closure_sources(self.fn, codes, set())
        key = "\0".join(codes) + f"\0{self.partition_cols}"
        self.version = hashlib.sha1(key.encode()).hexdigest()[:12]


_PACKAGE = __name__.partition(".")[0]


def _closure_sources(fn: Callable, out: list[str], seen: set[int]) -> None:
    """Append the source of ``inspect.unwrap(fn)`` (its qualname when it
    has none), then, depth first, what that code reads: each callable or
    package module in its closure cells, and each global named by its
    code or by a code object nested in it (see :func:`_read`). ``seen``
    breaks cycles and repeats."""
    fn = inspect.unwrap(fn)
    if id(fn) in seen:
        return
    seen.add(id(fn))
    try:
        out.append(inspect.getsource(fn))
    except (OSError, TypeError):
        out.append(getattr(fn, "__qualname__", type(fn).__qualname__))
    code = getattr(fn, "__code__", None)
    names = dict.fromkeys(_global_names(code)) if code is not None else {}
    for cell in getattr(fn, "__closure__", None) or ():
        try:
            value = cell.cell_contents
        except ValueError:  # a cell not yet bound
            continue
        if callable(value):
            _closure_sources(value, out, seen)
        elif inspect.ismodule(value):
            _read(value.__name__, value, names, out, seen)
    for name in names:
        if name in getattr(fn, "__globals__", {}):  # else an attribute or builtin
            _read(name, fn.__globals__[name], names, out, seen)


def _read(name: str, value: object, names: dict, out: list[str],
          seen: set[int], modules: tuple = ()) -> None:
    """Record a value the hashed code reads as ``name``. A data value is
    appended as ``name=repr``; a callable defined in this package goes
    through :func:`_closure_sources`. For a module of this package, each
    of ``names`` (what the code loads) that the module defines is read as
    ``module.attr`` the same way, nested package modules included; so
    ``public.nutrient_supply(...)`` is followed into the helper. Anything
    else is skipped."""
    data = _data_repr(value)
    if data is not None:
        out.append(f"{name}={data}")
    elif inspect.ismodule(value):
        if _in_package(value.__name__) and value not in modules:
            attrs = vars(value)
            for attr in names:
                if attr in attrs:
                    _read(f"{name}.{attr}", attrs[attr], names, out, seen,
                          (*modules, value))
    elif callable(value) and _in_package(getattr(value, "__module__", None)):
        _closure_sources(value, out, seen)


def _in_package(module: str | None) -> bool:
    return (module or "").partition(".")[0] == _PACKAGE


def _global_names(code) -> list[str]:
    """The names ``code`` and the code objects nested in it (lambdas,
    inner functions, comprehensions) load as globals or attributes."""
    names = list(code.co_names)
    for const in code.co_consts:
        if inspect.iscode(const):
            names += _global_names(const)
    return names


def _data_repr(value: object) -> str | None:
    """``repr`` of a data value: None, bool, int, float, str or bytes, or
    a tuple, list, dict or set of data values, with sets sorted. None for
    anything else."""
    kind = type(value)
    if kind in (type(None), bool, int, float, str, bytes):
        return repr(value)
    if kind in (tuple, list, set, frozenset):
        parts = [_data_repr(v) for v in value]
    elif kind is dict:
        parts = [_data_repr(item) for item in value.items()]
    else:
        return None
    if None in parts:
        return None
    if kind in (set, frozenset):
        parts.sort()
    return f"{kind.__name__}({', '.join(parts)})"


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
    # same paths => same bytes => the previous output is still current. The
    # stage version covers the other half: same code => same output.

    def _fingerprint(self, st: Stage) -> str:
        parts = [
            f"{name}={resolve_latest(self.artifact_dir, name, 'parquet')}"
            for name in sorted(st.inputs)
        ]
        return ";".join(parts)

    def _meta_path(self, st: Stage) -> str:
        return os.path.join(self.artifact_dir, f"{st.name}__inputs__.json")

    def _read_meta(self, st: Stage) -> dict:
        """The stage's recorded run, or ``{}`` when there is none: a meta
        file that cannot be read, is not JSON (corrupt, truncated) or lacks
        the ``inputs``/``version`` keys counts as absent, so the stage
        reruns instead of the run failing."""
        meta = self._meta_path(st)
        try:
            with open(meta) as f:
                rec = json.load(f)
        except FileNotFoundError:
            return {}
        except (OSError, ValueError) as e:  # ValueError: bad JSON or UTF-8
            log.warning("stage %s: unreadable meta %s (%s); rerunning", st.name, meta, e)
            return {}
        if not isinstance(rec, dict) or not {"inputs", "version"} <= rec.keys():
            log.warning("stage %s: meta %s lacks inputs/version; rerunning", st.name, meta)
            return {}
        return rec

    def run(
        self, only: set[str] | None = None, incremental: bool = False
    ) -> dict[str, str]:
        """Run stages in declaration order (a valid topological order by
        construction); returns stage -> artifact path. ``incremental=True``
        skips a stage when its recorded input fingerprint matches the
        current latest input artifacts, its recorded stage version matches
        the registered one, AND its own output artifact exists; skipped
        stages resolve to their existing artifact, so downstream
        fingerprints see the unchanged path and the skip propagates down
        unchanged branches of the DAG."""
        paths: dict[str, str] = {}
        for st in self.stages:
            if only and st.name not in only:
                continue
            fp = self._fingerprint(st)
            existing = resolve_latest(self.artifact_dir, st.name, "parquet")
            if incremental and existing is not None and st.inputs:
                rec = self._read_meta(st)
                if rec.get("inputs") == fp and rec.get("version") == st.version:
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
                json.dump({"inputs": fp, "version": st.version}, f)
            os.replace(meta + ".tmp", meta)
            log.info("stage %s -> %s", st.name, paths[st.name])
        return paths
