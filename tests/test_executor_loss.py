"""Executor loss between a lineage cut and its consumer, on a
``local-cluster[2,1,1024]`` (two executor JVMs of one core each).

``local[N]`` runs every task in the driver JVM, so it cannot lose an
executor. The cluster runs in a subprocess: the suite's JVM already holds
a ``local[N]`` context, and a process has one SparkContext. The script
builds each frame twice, once with ``ckpt.LOCATION_KEY`` set and once
without, kills BOTH executors (their replacements start empty), then
collects all four. With the key every cut is a reliable checkpoint and
the answers equal the ``local[N]`` ones; without it the cuts are local
and the action must raise, never return a wrong value.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.operators.graph import pagerank_fixed_point

_TESTS = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_TESTS)


# the frames both sides build: a shuffle aggregate behind ckpt.materialize,
# and a fixed-round graph loop whose cuts live in operators/
def agg_input(spark):
    return (spark.range(0, 100000, 1, 8)
            .groupBy((F.col("id") % 13).alias("k")).agg(F.sum("id").alias("s")))


def edges(spark):
    return spark.createDataFrame(
        [(i, (i * 7 + 3) % 40, 1 + i % 3) for i in range(120)],
        "s long, d long, w long")


_SCRIPT = '''
import json, sys, time
from peskas_timor_data_pipeline_spark.llm import ckpt
from peskas_timor_data_pipeline_spark.operators.graph import pagerank_fixed_point
from peskas_timor_data_pipeline_spark.session import get_spark
from test_executor_loss import agg_input, edges


def executors():
    return [e for e in jsc.getExecutorIds().mkString(",").split(",") if e]


def wait_for(cond, what, timeout=60):
    deadline = time.time() + timeout
    while not cond():
        if time.time() > deadline:
            sys.exit(f"local-cluster: {what} not reached in {timeout} s; "
                     f"executors {executors()}")
        time.sleep(0.1)


def lose_all_executors():
    old = executors()
    for e in old:
        jsc.killAndReplaceExecutor(e)
    wait_for(lambda: not set(executors()) & set(old), "executors removed")
    wait_for(lambda: len(executors()) == 2, "replacement executors")


def frames():
    return {
        "materialize": ckpt.materialize(agg_input(spark)),
        "pagerank": pagerank_fixed_point(edges(spark), "s", "d", "w", n_iter=2),
    }


def collect(df):
    try:
        return {"rows": [list(r) for r in df.collect()]}
    except Exception as e:  # noqa: BLE001 - reported to the test
        return {"error": str(e)[:2000]}


# C1-only JIT: every JVM here is short-lived and its inputs tiny; it took
# the script from 43 s to 35 s on a 4-core host
quick_jit = "-XX:TieredStopAtLevel=1"
spark = get_spark(app_name="executor-loss", master="local-cluster[2,1,1024]",
                  extra_conf={"spark.ui.showConsoleProgress": "false",
                              "spark.driver.extraJavaOptions": quick_jit,
                              "spark.executor.extraJavaOptions": quick_jit})
spark.sparkContext.setLogLevel("OFF")
jsc = spark.sparkContext._jsc.sc()
wait_for(lambda: len(executors()) == 2, "two executors")
spark.conf.set(ckpt.LOCATION_KEY, sys.argv[1])
built = {"reliable": frames()}
spark.conf.unset(ckpt.LOCATION_KEY)
built["local"] = frames()
lose_all_executors()
print(json.dumps({side: {name: collect(df) for name, df in fr.items()}
                  for side, fr in built.items()}))
spark.stop()
'''


def _rows(df) -> list:
    return sorted(list(r) for r in df.collect())


def test_cuts_survive_executor_loss_only_with_a_location(spark, tmp_path):
    script = tmp_path / "executor_loss.py"
    script.write_text(_SCRIPT)
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g",
               PYTHONPATH=os.pathsep.join(
                   [_REPO, _TESTS, os.environ.get("PYTHONPATH", "")]))
    try:
        proc = subprocess.run(
            [sys.executable, str(script), str(tmp_path / "ckpt")],
            cwd=tmp_path, env=env, capture_output=True, text=True,
            timeout=240)
    except subprocess.TimeoutExpired as e:
        raise AssertionError(
            f"local-cluster run did not finish in {e.timeout} s") from e
    assert proc.returncode == 0, (
        "local-cluster run failed (cluster start or kill): "
        + (proc.stderr or proc.stdout)[-3000:])
    got = json.loads(proc.stdout.strip().splitlines()[-1])

    want = {
        "materialize": _rows(agg_input(spark)),
        "pagerank": _rows(
            pagerank_fixed_point(edges(spark), "s", "d", "w", n_iter=2)),
    }
    for name, rows in want.items():
        reliable = got["reliable"][name]
        assert "error" not in reliable, (name, reliable.get("error"))
        assert sorted(reliable["rows"]) == rows, name
        local = got["local"][name]
        assert "rows" not in local, f"{name} returned after losing its cuts"
        assert "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in local["error"], (
            name, local["error"])

