"""Engine accounting read from Spark's in-process status store.

``cursor(spark)`` marks a point in the session's job and stage history;
``window(spark, start)`` sums what Spark ran since then. Both read the DAG
scheduler and ``statusStore()``, which work with ``spark.ui.enabled=false``
as ``session.get_spark`` sets it. Jobs and stages are attributed by id
window, so a window also holds jobs that helper threads submit. SKIPPED
stages (shuffle output reused from an earlier job) are not counted.

Past ``spark.ui.retainedStages`` the store evicts SKIPPED stages first,
a live window's included: a lost stage counts as skipped only when a
window job lists it and that job's skipped-stage count covers it.

Result bytes are what a stage's tasks shipped to the driver; the largest
per stage is split into broadcast builds and everything else. A stage is
a broadcast build when its job carries the tag ``BroadcastExchangeExec``
gives its build job, ``broadcast exchange (runId …)``. Stage names and
details cannot tell: in Spark 4.1 every adaptive query stage's details
carry ``withThreadLocalCaptured``, a plain ``collect()`` included.

A failed status-store read never reads as zero.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

KEYS = ("jobs", "stages", "tasks", "shuffle_read", "shuffle_write", "input",
        "output", "spill_bytes", "result_bytes",
        "max_broadcast_result_bytes", "max_collect_result_bytes")
_BROADCAST_TAG = "broadcast exchange (runId "


def cursor(spark: SparkSession) -> tuple[int, int]:
    """The DAG scheduler's (next job id, next stage id)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return int(dag.nextJobId()), int(dag.nextStageId())


def window(spark: SparkSession, start: tuple[int, int]) -> dict[str, int]:
    """Totals over the jobs and stages launched since ``start`` (a
    :func:`cursor`), after the listener bus has delivered their events.
    Byte counts are bytes; ``max_*_result_bytes`` are per-stage maxima."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    end = cursor(spark)
    store = sc.statusStore()
    broadcast: set[int] = set()
    listed: dict[int, list[int]] = {}  # stage id -> the window jobs listing it
    skips: dict[int, int] = {}  # job id -> its skipped stages not yet seen
    for jid in range(start[0], end[0]):
        job = store.job(jid)
        sids = [int(i) for i in job.stageIds().mkString(",").split(",") if i]
        for sid in sids:
            listed.setdefault(sid, []).append(jid)
        skips[jid] = job.numSkippedStages()
        # job tags cannot contain ',' (SparkContext.throwIfInvalidTag)
        if any(t.startswith(_BROADCAST_TAG)
               for t in job.jobTags().mkString(",").split(",")):
            broadcast.update(sids)
    acc = dict.fromkeys(KEYS, 0)
    acc["jobs"] = end[0] - start[0]
    evicted: list[tuple[int, Py4JJavaError]] = []
    for sid in range(start[1], end[1]):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError as e:
            if "NoSuchElementException" not in str(e):
                raise
            evicted.append((sid, e))
            continue
        if st.status().toString() == "SKIPPED":
            _charge_skip(listed.get(sid, []), skips)
            continue
        acc["stages"] += 1
        acc["tasks"] += st.numCompleteTasks()
        acc["shuffle_read"] += st.shuffleReadBytes()
        acc["shuffle_write"] += st.shuffleWriteBytes()
        acc["input"] += st.inputBytes()
        acc["output"] += st.outputBytes()
        acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        size = st.resultSize()
        acc["result_bytes"] += size
        key = ("max_broadcast_result_bytes" if sid in broadcast
               else "max_collect_result_bytes")
        acc[key] = max(acc[key], size)
    for sid, err in evicted:
        if not _charge_skip(listed.get(sid, []), skips):
            raise err
    return acc


def _charge_skip(jobs: list[int], skips: dict[int, int]) -> bool:
    """Count a skipped stage against the first of ``jobs`` (adaptive
    map-stage jobs can share one) whose skipped count is not used up."""
    for jid in jobs:
        if skips[jid] > 0:
            skips[jid] -= 1
            return True
    return False
