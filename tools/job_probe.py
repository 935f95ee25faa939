"""Deterministic optimization probe: run registry queries and print, per
query, the number of Spark JOBS (driver-blocking actions, including eager
checkpoints) and stages with tasks, plus the build/action/total wall time.
Job and stage counts are noise-free on a steal-prone host — they measure
exactly the barrier structure the checkpoint-gating work changes.

Usage: python tools/job_probe.py q1,q2[,...] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from peskas_timor_data_pipeline_spark.harness import registry
    from peskas_timor_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="job_probe")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    reg = registry()
    names = [n.strip() for n in args.queries.split(",") if n.strip()]

    warm, _ = reg["flagship_cpue"]
    warm(spark, args.sf_dir).write.mode("overwrite").format("noop").save()

    tracker = sc.statusTracker()

    for name in names:
        fn, _sql = reg[name]
        jobs_before = set(tracker.getJobIdsForGroup(None) or [])
        t0 = time.time()
        df = fn(spark, args.sf_dir)
        t1 = time.time()
        df.write.mode("overwrite").format("noop").save()
        t2 = time.time()
        jobs_after = set(tracker.getJobIdsForGroup(None) or [])
        new_jobs = sorted(jobs_after - jobs_before)
        n_stages = 0
        for j in new_jobs:
            ji = tracker.getJobInfo(j)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numTasks > 0:
                    n_stages += 1
        print(
            f"{name}: jobs={len(new_jobs)} stages={n_stages} "
            f"build={t1 - t0:.3f}s action={t2 - t1:.3f}s "
            f"total={t2 - t0:.3f}s",
            flush=True,
        )


if __name__ == "__main__":
    main()
