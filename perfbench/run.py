"""Benchmark entry point: one named workload, one seed, one process.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. The workload runs on ``local[nproc]`` as
a closed loop with one client: set-up (session start, seeded inputs, one
untimed pass), then rounds of operations back to back until ``--seconds``
have passed, then the output pins. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it
records the host and the pinned run environment. Exits 1 when an
operation raised or missed its pin, 2 when the package is missing.

See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "peskas_timor_data_pipeline_spark"

# Workload sizes. Every run, set-up included, has to fit a budget of about
# a minute, so the inputs are small and fixed cost dominates; see README.
QUERY_MIX_SF = 0.001
DOMAIN_BOATS = 150


def host_info() -> dict:
    mem_kib = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mib": mem_kib // 1024}


def pin_environment(work: str, host: dict) -> dict:
    """Pin what the session factory reads from the environment: cores
    (its default is local[32]), driver heap (its default is 24g) and
    Spark's scratch space inside the work directory. The inputs are
    megabytes; a 1g heap holds them, and keeps the JVM's resident size and
    its run-to-run spread down (on a 4-core, 16 GB host, peak_rss_mb spread
    over five domain_dag runs was 0.22 with 3g and 0.11 with 1g)."""
    pinned = {
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for path in (pinned["SPARK_LOCAL_DIRS"], pinned["TMPDIR"]):
        os.makedirs(path, exist_ok=True)
    os.environ.update(pinned)
    os.environ.pop("SPARK_GRAFT_EAGER_MIN_BYTES", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_INPUT", None)
    return pinned


def start_session(app_name: str, pinned: dict):
    """The package's session factory under the pinned environment, with
    the console progress bar off and the JVM's temp files in the work
    directory."""
    import tempfile

    from peskas_timor_data_pipeline_spark.session import get_spark

    tempfile.tempdir = None  # pick up the pinned TMPDIR
    spark = get_spark(app_name=app_name, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={pinned['TMPDIR']}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session; the JVM exits when its stdin closes, so close it
    and wait, so that no process outlives the run."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def calibrate(spark, cpus: int) -> float:
    """bench.py's fixed host probe: xxhash64 over a range, no repo code."""
    best = math.inf
    for _ in range(2):
        t0 = time.perf_counter()
        (spark.range(0, 50_000_000, 1, cpus)
         .selectExpr("sum(pmod(xxhash64(id), 1000000)) AS s")
         .write.mode("overwrite").format("noop").save())
        best = min(best, time.perf_counter() - t0)
    return best


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(setup_s: float, rounds: list[dict], rss_mb: float) -> dict:
    per_op: dict[str, list[float]] = {}
    for r in rounds:
        for name, s, _ok in r["ops"]:
            per_op.setdefault(name, []).append(s)
    return {
        "setup_s": (setup_s, "s"),
        "run_s": (statistics.median(r["wall"] for r in rounds), "s"),
        "run_cpu_s": (statistics.median(r["cpu"] for r in rounds), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "op_geomean_ms": (
            1e3 * geomean([statistics.median(v) for v in per_op.values()]),
            "ms"),
    }


def per_layer(tracer, traced: list[dict], untraced: list[dict],
              session_s: float, calib_s: float) -> dict:
    """Per-layer totals per traced round (every name, 0 where the layer did
    no work on this workload)."""
    from spans import ENGINE_KEYS
    from workloads import DOMAIN_STAGES

    n = max(len(traced), 1)
    tot = tracer.totals

    def t(key: str) -> float:
        return tot.get(key, 0.0) / n

    m = {
        "session.start_s": (session_s, "s"),
        "host.calib_s": (calib_s, "s"),
        "trace.overhead_s": (
            statistics.median(r["wall"] for r in traced)
            - statistics.median(r["wall"] for r in untraced), "s"),
        "harness.build_s": (t("harness.build.s"), "s"),
        "harness.plan_s": (t("harness.plan.s"), "s"),
        "harness.action_s": (t("harness.action.s"), "s"),
        "llm.ckpt.calls": (t("llm.ckpt.calls"), "count"),
        "llm.ckpt.eager_calls": (t("llm.ckpt.eager_calls"), "count"),
        "llm.ckpt.s": (t("llm.ckpt.s"), "s"),
        "plans.runner.resolve_s": (t("plans.runner.resolve.s"), "s"),
        "plans.runner.read_s": (t("plans.runner.read.s"), "s"),
        "plans.runner.fn_s": (t("plans.runner.fn.s"), "s"),
        "plans.runner.write_s": (t("plans.runner.write.s"), "s"),
        "plans.runner.skipped": (t("plans.runner.skipped"), "count"),
        "refresh_s": (t("refresh.s"), "s"),
        "sources.io.write_mb": (t("sources.io.write_mb"), "MB"),
        "sources.io.files_written": (t("sources.io.files_written"), "count"),
    }
    for st in DOMAIN_STAGES:
        m[f"pipeline.domain.{st}.s"] = (t(f"pipeline.domain.{st}.s"), "s")
    engine_spans = ["harness.build", "harness.plan", "harness.action",
                    "refresh", *(f"pipeline.domain.{st}" for st in DOMAIN_STAGES)]
    for k in ENGINE_KEYS:
        unit = k.rsplit("_", 1)[1] if "_" in k else "count"
        unit = {"mb": "MB"}.get(unit, unit)
        m[f"engine.{k}"] = (sum(t(f"{s}.{k}") for s in engine_spans), unit)
        for s in ("harness.build", "harness.action",
                  *(f"pipeline.domain.{st}" for st in DOMAIN_STAGES)):
            m[f"{s}.{k}"] = (t(f"{s}.{k}"), unit)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("query_mix", "domain_dag"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    spec = importlib.util.find_spec(PACKAGE)
    if spec is None or not spec.origin.startswith(ROOT + os.sep):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    host = host_info()
    pinned = pin_environment(work, host)
    try:
        return _run(args, work, host, pinned)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, host: dict, pinned: dict) -> int:
    from spans import Tracer, install

    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    if args.trace:
        install(tracer)

    from workloads import DomainDag, QueryMix

    t_setup = time.perf_counter()
    spark = start_session(f"perfbench-{args.workload}", pinned)
    session_s = time.perf_counter() - t_setup
    try:
        tracer.bind(spark)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        pids = (jvm_pid, os.getpid())

        if args.workload == "query_mix":
            wl = QueryMix(spark, tracer, work, args.seed, QUERY_MIX_SF)
        else:
            wl = DomainDag(spark, tracer, work, args.seed, DOMAIN_BOATS)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        calib_s = calibrate(spark, int(pinned["SPARK_GRAFT_CPUS"]))
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          **host, "pinned": pinned,
                          "host.calib_s": round(calib_s, 4)}), flush=True)

        rounds: list[dict] = []
        t_run = time.perf_counter()
        while True:
            # traced runs alternate untraced and traced rounds, so the
            # difference between the two medians is the tracing overhead
            tracer.enabled = bool(args.trace) and len(rounds) % 2 == 1
            cpu0 = sum(proc_cpu_s(p) for p in pids)
            t0 = time.perf_counter()
            ops = wl.round()
            rounds.append({"wall": time.perf_counter() - t0,
                           "cpu": sum(proc_cpu_s(p) for p in pids) - cpu0,
                           "ops": ops, "traced": tracer.enabled})
            tracer.enabled = False
            if (time.perf_counter() - t_run >= args.seconds
                    and len(rounds) >= max(wl.min_rounds, 1 + args.trace)):
                break
        rss_mb = sum(proc_hwm_mb(p) for p in pids)

        pins = wl.check()
    finally:
        stop_session(spark)

    per_op: dict[str, list[float]] = {}
    for r in rounds:
        for name, sec, _ok in r["ops"]:
            per_op.setdefault(name, []).append(round(sec, 3))
    print(json.dumps({"setup_s": round(setup_s, 3),
                      "session_s": round(session_s, 3),
                      "rounds": [round(r["wall"], 3) for r in rounds],
                      "ops": per_op}), file=sys.stderr, flush=True)
    ops = [ok for r in rounds for *_x, ok in r["ops"]]
    attempted = len(ops) + len(pins)
    failed = ops.count(False) + pins.count(False)
    untraced = [r for r in rounds if not r["traced"]]
    if args.trace:
        tracer.dump(os.path.join(ROOT, ".perfbench_work",
                                 f"spans-{tracer.run_id}.jsonl"))
        metrics = per_layer(tracer, [r for r in rounds if r["traced"]],
                            untraced, session_s, calib_s)
    else:
        metrics = end_to_end(setup_s, untraced, rss_mb)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
