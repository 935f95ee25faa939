"""Lineage cuts for iterative / multi-reference plans; every cut is stored here.

Where cuts are stored is a deployment setting: the runtime session conf
key :data:`LOCATION_KEY`, set with ``--conf``, ``get_spark(extra_conf=...)``
or ``spark.conf.set`` to a directory every executor can reach. With it
set, every cut is an eager, RELIABLE ``checkpoint()`` under that path, so
a lost executor costs a re-read, not the job. Unset, cuts are
``localCheckpoint()``s: fast, but their blocks die with their executor,
which aborts the job. Spark's own ``spark.checkpoint.dir`` is a static
conf; this key can be set and unset at runtime.
"""

from __future__ import annotations

import threading
from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

LOCATION_KEY = "spark.peskas.checkpoint.dir"

# Size gate for OPTIONAL lineage cuts (r12): an eager checkpoint is a
# driver-blocking job whose fixed cost (scheduling, stage barriers, block
# writes) is only repaid when the recompute it prevents is bigger. Below
# the threshold the duplicated consumers run as PARALLEL sibling stages
# inside one job (near-zero extra wall on an unsaturated cluster) while
# the checkpoint would serialize the timeline, so gated call sites pass
# the frame through lazily; above it the duplicate pass is real work and
# the cut wins. Thresholds compare against either source parquet bytes
# (scan_bytes, via materialize_gated) or a checkpoint's stored bytes
# (materialized_is_big, ~10x the parquet size for narrow rows); 1 GiB keeps
# every toy/test scale on the lazy path and engages the cut where a
# duplicated pass costs whole node-minutes. Both gates read
# ``EAGER_MIN_BYTES`` at call time, so a test can force the eager path by
# setting it.
EAGER_MIN_BYTES = 1 << 30


# scan_bytes' answer for a size it cannot read: huge, so the eager path wins
_UNKNOWN_BYTES = 1 << 62


def scan_bytes(df: DataFrame) -> int:
    """Catalyst's estimate of the frame's SOURCE size: the sum of leaf-node
    statistics of the analyzed plan (file sizes for file scans). Driver-side
    only — no job. Leaves without real statistics (checkpointed RDDs,
    in-memory relations) report the defaultSizeInBytes sentinel, so unknown
    inputs read as huge and gated call sites stay on the scale-safe eager
    path. Join/aggregate estimate inflation never enters: only LEAF stats
    are summed. A py4j or reflection failure also reads as huge."""
    total = 0
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            sz = leaves.apply(i).stats().sizeInBytes()
            total += sz if isinstance(sz, int) else int(sz.toString())
            if total >= _UNKNOWN_BYTES:
                break
    except Exception:  # noqa: BLE001 - any py4j/reflection surprise => unknown
        return _UNKNOWN_BYTES
    return total


def materialized_is_big(df: DataFrame) -> bool:
    """The size gate on a just-:func:`materialize`-d frame: True when its
    stored bytes, read from the block manager's storage registry
    (driver-side, no job), reach ``EAGER_MIN_BYTES``. A size that cannot
    be determined (not a checkpoint scan, reliable checkpoint on an
    external filesystem, blocks evicted) reads as big, which keeps the
    scale-safe eager path."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return True
        rid = plan.rdd().id()
        for info in df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo():
            if info.id() == rid:
                return int(info.memSize()) + int(info.diskSize()) >= EAGER_MIN_BYTES
    except Exception:  # noqa: BLE001 - any py4j/reflection surprise => unknown
        return True
    return True


def materialize_gated(df: DataFrame) -> DataFrame:
    """Size-gated lineage cut: :func:`materialize` when the upstream input
    is big (or unknown), pass-through when provably small — at toy scale
    the eager checkpoint job costs more than the recompute it saves (the
    r11→r12 lesson: the checkpoint cohort regressed the sf0.1 bench 2-3x
    while being plan-verified wins at cluster scale). The gate compares
    :func:`scan_bytes` with ``EAGER_MIN_BYTES``."""
    if scan_bytes(df) < EAGER_MIN_BYTES:
        return df
    return materialize(df)


def _location(spark: SparkSession) -> str | None:
    """The session's checkpoint location (:data:`LOCATION_KEY`), or None."""
    return spark.conf.get(LOCATION_KEY, None) or None


# (location, the checkpoint dir setCheckpointDir made for it): each call
# makes a fresh subdirectory, so the context is re-pointed only on a change
_pointed = ("", "")
_point_lock = threading.Lock()


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage eagerly: a reliable ``checkpoint()`` under the session's
    :data:`LOCATION_KEY` when it is set, else ``localCheckpoint()``.

    A frame whose plan is ALREADY a bare checkpoint scan (callers may
    pre-materialize an input to overlap its job with other work) passes
    through untouched — re-checkpointing it would copy every block for
    zero lineage gain."""
    global _pointed
    if df._jdf.queryExecution().analyzed().getClass().getSimpleName() == (
        "LogicalRDD"
    ):
        return df
    path = _location(df.sparkSession)
    if path is None:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    with _point_lock:  # materialize_many cuts from pool threads
        cur = sc._jsc.sc().getCheckpointDir()
        if cur.isEmpty() or _pointed != (path, cur.get()):
            sc.setCheckpointDir(path)
            _pointed = (path, sc._jsc.sc().getCheckpointDir().get())
    return df.checkpoint(eager=True)


def cut(df: DataFrame, eager: bool) -> DataFrame:
    """Per-round lineage cut whose eagerness a size gate chose: eager is
    :func:`materialize`; lazy is a local checkpoint that the frame's first
    action fills, with no driver-blocking job of its own. A lazy cut
    cannot be reliable, so with a location set every cut is eager."""
    if eager or _location(df.sparkSession) is not None:
        return materialize(df)
    return df.localCheckpoint(eager=False)


def materialize_many(dfs: Sequence[DataFrame]) -> list[DataFrame]:
    """Checkpoint several INDEPENDENT frames as CONCURRENT jobs.

    Eager checkpoints are driver-blocking actions; issuing them one after
    another serializes jobs whose stages have no data dependency, leaving
    the cluster idle through each job's straggler tail. Submitting them
    from a small thread pool lets the scheduler back-fill executors freed
    by one job's tail with the next job's tasks (optimization guide §2.6
    "overlap independent jobs") — same frames, same values, same plans;
    only the wall-clock overlap changes; the pool threads carry the
    caller's job tags and group. Callers must only pass frames with no
    compute dependency on each other."""
    if len(dfs) <= 1:
        return [materialize(df) for df in dfs]
    run = inheritable_thread_target(dfs[0].sparkSession)(materialize)
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        return list(pool.map(run, dfs))
