"""Lineage materialization for iterative / multi-reference plans.

``localCheckpoint`` stores blocks on executors — fast, but lost with the
executor, which aborts a long dedup or component run instead of recomputing.
For cluster runs callers pass ``checkpoint_dir`` (any shared filesystem
path) and get a RELIABLE checkpoint that survives executor loss; the
default stays local for tests and single-node runs.
"""

from __future__ import annotations

from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

# Size gate for OPTIONAL lineage cuts (r12): an eager checkpoint is a
# driver-blocking job whose fixed cost (scheduling, stage barriers, block
# writes) is only repaid when the recompute it prevents is bigger. Below
# the threshold the duplicated consumers run as PARALLEL sibling stages
# inside one job (near-zero extra wall on an unsaturated cluster) while
# the checkpoint would serialize the timeline, so gated call sites pass
# the frame through lazily; above it the duplicate pass is real work and
# the cut wins. Thresholds compare against either source parquet bytes
# (scan_bytes) or a checkpoint's stored bytes (materialized_bytes, ~10x
# the parquet size for narrow rows); 1 GiB keeps every toy/test scale on
# the lazy path and engages the cut where a duplicated pass costs whole
# node-minutes. Callers read ``ckpt.EAGER_MIN_BYTES`` at call time, so a
# test can force the eager path by setting it.
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


def materialized_bytes(df: DataFrame) -> int | None:
    """Actual stored size of a just-:func:`materialize`-d frame, read from
    the block manager's storage registry (driver-side, no job). None when
    it cannot be determined (not a checkpoint scan, reliable checkpoint on
    an external filesystem, blocks evicted) — callers treat None as big,
    which keeps the scale-safe eager path."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return None
        rid = plan.rdd().id()
        for info in df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo():
            if info.id() == rid:
                return int(info.memSize()) + int(info.diskSize())
    except Exception:  # noqa: BLE001 - any py4j/reflection surprise => unknown
        return None
    return None


def materialize_gated(
    df: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """Size-gated lineage cut: :func:`materialize` when the upstream input
    is big (or unknown), pass-through when provably small — at toy scale
    the eager checkpoint job costs more than the recompute it saves (the
    r11→r12 lesson: the checkpoint cohort regressed the sf0.1 bench 2-3x
    while being plan-verified wins at cluster scale). The gate compares
    :func:`scan_bytes` with ``EAGER_MIN_BYTES``."""
    if scan_bytes(df) < EAGER_MIN_BYTES:
        return df
    return materialize(df, checkpoint_dir)


def materialize(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Cut lineage eagerly: reliable ``checkpoint()`` under
    ``checkpoint_dir`` when given, else ``localCheckpoint()``.

    A frame whose plan is ALREADY a bare checkpoint scan (callers may
    pre-materialize an input to overlap its job with other work) passes
    through untouched — re-checkpointing it would copy every block for
    zero lineage gain."""
    if df._jdf.queryExecution().analyzed().getClass().getSimpleName() == (
        "LogicalRDD"
    ):
        return df
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def materialize_many(
    dfs: Sequence[DataFrame], checkpoint_dir: str | None = None
) -> list[DataFrame]:
    """Checkpoint several INDEPENDENT frames as CONCURRENT jobs.

    Eager checkpoints are driver-blocking actions; issuing them one after
    another serializes jobs whose stages have no data dependency, leaving
    the cluster idle through each job's straggler tail. Submitting them
    from a small thread pool lets the scheduler back-fill executors freed
    by one job's tail with the next job's tasks (optimization guide §2.6
    "overlap independent jobs") — same frames, same values, same plans;
    only the wall-clock overlap changes. Callers must only pass frames
    with no compute dependency on each other."""
    if len(dfs) <= 1:
        return [materialize(df, checkpoint_dir) for df in dfs]
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        return list(pool.map(lambda d: materialize(d, checkpoint_dir), dfs))
