"""Traced-run mode: spans around public calls, read from outside the package.

A span records (name, start, end, parent, run id). Spans stay in memory and
are written once, at exit. Leaf spans that the benchmark opens itself
(harness build/plan/action, pipeline stage runs, refresh passes) also
carry engine accounting: the jobs and stages Spark ran inside the span,
with task counts, executor time, GC, shuffle, spill and result bytes read
from ``sc._jsc.sc().statusStore()``. This works with ``spark.ui.enabled``
false, as the session factory sets it. Each span sets its own Spark job
group, so a job's group names the span that launched it.

Jobs are attributed by id window (the DAG scheduler's job and stage id
counters before and after the span). One client issues spans back to back,
so the window also holds jobs that library code submits from helper
threads, which a job-group lookup would miss.

``install`` must run before the package's modules that bind the wrapped
functions with ``from ... import`` are imported.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict

ENGINE_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
               "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
               "result_mb")
_MB = 1024.0 * 1024.0


class Tracer:
    """Span recorder. ``enabled`` is flipped per round so one traced run
    measures its own overhead against untraced rounds."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._active: dict[str, int] = defaultdict(int)
        self._ids = itertools.count()
        self._sc = None

    def bind(self, spark) -> None:
        """Attach the session whose status store engine spans read; call
        before enabling the tracer."""
        self._sc = spark.sparkContext

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, engine: bool = False):
        return _Span(self, name, engine)

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.totals[key] += value

    @contextlib.contextmanager
    def paused(self):
        """Run benchmark-side work (input writes) without recording it."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def wrap(self, fn, name: str, on_result=None):
        """Return ``fn`` wrapped in a span. Time and calls count only the
        outermost of nested or concurrent calls under one ``name`` (a
        gated cut calls the plain one; ``materialize_many`` fans out to
        threads); ``on_result(result)`` records counters from every call."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self._lock:
                outer = self._active[name] == 0
                self._active[name] += 1
            try:
                with self.span(name) as sp:
                    out = fn(*args, **kwargs)
            finally:
                with self._lock:
                    self._active[name] -= 1
            if outer:
                self.add(f"{name}.s", sp["end"] - sp["start"])
                self.add(f"{name}.calls", 1)
            if on_result is not None:
                on_result(out)
            return out

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- engine accounting ------------------------------------------------

    def _cursor(self) -> tuple[int, int]:
        # py4j hands the scheduler's AtomicInteger counters back as ints
        dag = self._sc._jsc.sc().dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId())

    def _engine(self, start: tuple[int, int]) -> dict[str, float]:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        end = self._cursor()
        store = jsc.statusStore()
        acc = dict.fromkeys(ENGINE_KEYS, 0.0)
        acc["jobs"] = float(end[0] - start[0])
        for sid in range(start[1], end[1]):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or never stored
                continue
            if st.status().toString() == "SKIPPED":
                continue
            acc["stages"] += 1
            acc["tasks"] += st.numCompleteTasks()
            acc["executor_run_s"] += st.executorRunTime() / 1e3
            acc["executor_cpu_s"] += st.executorCpuTime() / 1e9
            acc["gc_s"] += st.jvmGcTime() / 1e3
            acc["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            acc["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            acc["spill_mb"] += (st.memoryBytesSpilled()
                                + st.diskBytesSpilled()) / _MB
            acc["result_mb"] += st.resultSize() / _MB
        return acc


class _Span:
    def __init__(self, tracer: Tracer, name: str, engine: bool):
        self.t, self.name, self.engine = tracer, name, engine

    def __enter__(self) -> dict:
        t = self.t
        stack = t._stack()
        self.rec = {"name": self.name, "run": t.run_id,
                    "id": next(t._ids),
                    "parent": stack[-1]["id"] if stack else None,
                    "start": time.perf_counter(), "end": None}
        if not t.enabled:
            return self.rec
        if self.engine:
            self.group = t._sc.getLocalProperty("spark.jobGroup.id")
            t._sc.setJobGroup(f"perfbench:{self.rec['id']}", self.name)
            self.cursor = t._cursor()
        with t._lock:
            t.spans.append(self.rec)
        stack.append(self.rec)
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc) -> None:
        t = self.t
        self.rec["end"] = time.perf_counter()
        if not t.enabled:
            return
        t._stack().pop()
        if self.engine:
            eng = self.rec["engine"] = t._engine(self.cursor)
            t.add(f"{self.name}.s", self.rec["end"] - self.rec["start"])
            for k, v in eng.items():
                t.add(f"{self.name}.{k}", v)
            if self.group is None:
                t._sc.setLocalProperty("spark.jobGroup.id", None)
                t._sc.setLocalProperty("spark.job.description", None)
            else:
                t._sc.setJobGroup(self.group, "")


def install(tracer: Tracer) -> None:
    """Wrap the public calls of ``llm.ckpt`` and ``sources.io`` in place.

    Called before ``plans.runner`` and the harness modules are imported, so
    their module-level ``from ... import`` bindings pick up the wrappers;
    function-local imports resolve the module attribute at call time."""
    import os

    from peskas_timor_data_pipeline_spark.llm import ckpt
    from peskas_timor_data_pipeline_spark.sources import io

    def eager(_out):
        tracer.add("llm.ckpt.eager_calls", 1)

    ckpt.materialize = tracer.wrap(ckpt.materialize, "llm.ckpt",
                                   on_result=eager)
    ckpt.materialize_gated = tracer.wrap(ckpt.materialize_gated, "llm.ckpt")
    ckpt.materialize_many = tracer.wrap(ckpt.materialize_many, "llm.ckpt")

    def written(path):
        n = size = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith((".", "_")):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
        tracer.add("sources.io.files_written", n)
        tracer.add("sources.io.write_mb", size / _MB)

    io.resolve_latest = tracer.wrap(io.resolve_latest, "plans.runner.resolve")
    io.read_stage = tracer.wrap(io.read_stage, "plans.runner.read")
    io.write_stage = tracer.wrap(io.write_stage, "plans.runner.write",
                                 on_result=written)
    io.write_stage_partitioned = tracer.wrap(
        io.write_stage_partitioned, "plans.runner.write", on_result=written)
