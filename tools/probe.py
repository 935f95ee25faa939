"""Per-query layer probe: plan build and final action, each timed and
counted in Spark jobs and stages (``obs.window``, noise-free on a
steal-prone host).

The build is the registry fn call; a build-phase job is an eager job
hidden inside it (a lineage cut, a driver-side count, a first table load
that infers its schema). The action is bench.py's noop-sink write.
flagship_cpue runs once first to warm the session. Prints one JSON line
per query and repeat: query, repeat, build_s, action_s, build_jobs,
build_stages, action_jobs, action_stages.

Usage:
    python tools/probe.py q1,q2[,...] [--sf-dir DIR] [--repeat N]
    python tools/probe.py q1 --plan out.txt   # also append explain('formatted')
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--plan", default=None,
                    help="append explain('formatted') of each final frame here")
    args = ap.parse_args()
    if args.repeat < 1:
        ap.error("--repeat must be at least 1")

    from peskas_timor_data_pipeline_spark import obs
    from peskas_timor_data_pipeline_spark.harness import registry
    from peskas_timor_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="probe")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    reg = registry()
    warm, _ = reg["flagship_cpue"]
    warm(spark, args.sf_dir).write.mode("overwrite").format("noop").save()

    for name in (n.strip() for n in args.queries.split(",") if n.strip()):
        fn, _sql = reg[name]
        for r in range(args.repeat):
            rec = {"query": name, "repeat": r}
            sc.setJobDescription(f"{name} build r{r}")
            start, t0 = obs.cursor(spark), time.perf_counter()
            df = fn(spark, args.sf_dir)
            rec["build_s"] = round(time.perf_counter() - t0, 3)
            build = obs.window(spark, start)
            sc.setJobDescription(f"{name} action r{r}")
            start, t0 = obs.cursor(spark), time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            rec["action_s"] = round(time.perf_counter() - t0, 3)
            action = obs.window(spark, start)
            sc.setJobDescription(None)
            for phase, w in (("build", build), ("action", action)):
                rec[f"{phase}_jobs"] = w["jobs"]
                rec[f"{phase}_stages"] = w["stages"]
            print(json.dumps(rec), flush=True)
        if args.plan:
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted")
            with open(args.plan, "a") as f:
                f.write(f"== {name} ==\n")
                f.write(df._jdf.queryExecution().explainString(mode))
                f.write("\n")


if __name__ == "__main__":
    main()
