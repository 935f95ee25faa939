"""``obs``: engine accounting from the in-process status store, on the
fixture session (``spark.ui.enabled=false``) and, for the store's stage
eviction, on a fresh session in a subprocess."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark import obs

_SPANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "perfbench", "spans.py")


def _spans():
    """perfbench's span module, loaded from its file without importing the
    benchmark package (perfbench measures the package from outside)."""
    spec = importlib.util.spec_from_file_location("perfbench_spans", _SPANS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_window_agrees_with_perfbench_tracer(spark):
    """Over one shuffle-plus-collect action, ``obs.window`` and perfbench's
    ``Tracer._engine`` read the same jobs, stages, tasks, shuffle, spill
    and result bytes."""
    spans = _spans()
    tracer = spans.Tracer("obs")
    tracer.bind(spark)
    start = obs.cursor(spark)
    assert tracer._cursor() == start
    rows = (spark.range(5000).repartition(4)
            .groupBy((F.col("id") % 7).alias("k")).count().collect())
    assert len(rows) == 7
    got = obs.window(spark, start)
    ref = tracer._engine(start)
    assert got["jobs"] >= 1 and got["stages"] >= 2 and got["shuffle_write"] > 0
    for key in ("jobs", "stages", "tasks"):
        assert got[key] == ref[key], key
    mb = 1024.0 * 1024.0
    for key, ref_key in (("shuffle_read", "shuffle_read_mb"),
                         ("shuffle_write", "shuffle_write_mb"),
                         ("spill_bytes", "spill_mb"),
                         ("result_bytes", "result_mb")):
        assert got[key] == pytest.approx(ref[ref_key] * mb, abs=1e-3), key


def test_broadcast_build_and_collect_results_are_told_apart(spark):
    """A broadcast join followed by ``collect()``: the build job's result
    counts as a broadcast and the collect's (here the larger) as a
    collect. Every adaptive query stage's details carry
    ``withThreadLocalCaptured`` in Spark 4.1, so that marker filed both as
    broadcasts."""
    big = spark.range(20000).select(
        (F.col("id") % 100).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("h"))
    small = spark.range(100).select(F.col("id").alias("k"),
                                    (F.col("id") * 2).alias("v"))
    start = obs.cursor(spark)
    rows = big.join(F.broadcast(small), "k").collect()
    got = obs.window(spark, start)
    assert len(rows) == 20000
    assert got["max_broadcast_result_bytes"] > 0
    assert got["max_collect_result_bytes"] > got["max_broadcast_result_bytes"]
    assert got["result_bytes"] >= (got["max_broadcast_result_bytes"]
                                   + got["max_collect_result_bytes"])


def test_failed_store_read_propagates(spark):
    """A status-store read that fails raises out of ``window``; it never
    reads as an empty window (stage and job id -1 were never stored)."""
    jobs, stages = obs.cursor(spark)
    with pytest.raises(Py4JJavaError, match="NoSuchElementException"):
        obs.window(spark, (jobs, -1))
    with pytest.raises(Py4JJavaError, match="NoSuchElementException"):
        obs.window(spark, (-1, stages))


_EVICTION_SCRIPT = '''
import json
from operator import add
from peskas_timor_data_pipeline_spark import obs
from peskas_timor_data_pipeline_spark.session import get_spark

spark = get_spark(app_name="obs-eviction",
                  extra_conf={"spark.ui.retainedStages": "20",
                              "spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("OFF")
windows = []
for i in range(10):
    start = obs.cursor(spark)
    rdd = spark.sparkContext.parallelize(range(200), 2).map(
        lambda x: (x % 5, 1)).reduceByKey(add, 2)
    rdd.count()
    rdd.count()  # reuses the shuffle output: its map stage is SKIPPED
    # a later job in the same window writes stages, and with them the
    # store's eviction pass runs while the window is still open
    spark.sparkContext.parallelize(range(20), 2).map(
        lambda x: (x % 3, x)).reduceByKey(add, 2).count()
    windows.append(obs.window(spark, start))
print(json.dumps(windows))
spark.stop()
'''


def test_window_survives_evicted_skipped_stages(tmp_path):
    """Past ``spark.ui.retainedStages`` the status store evicts SKIPPED
    stages first, those of a live window included. A fresh session that
    retains 20 stages runs ten windows of three jobs each, the second
    reusing the first's shuffle: every window still reads three jobs and
    five run stages. The retention is a static conf, hence the
    subprocess."""
    script = tmp_path / "eviction.py"
    script.write_text(_EVICTION_SCRIPT)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g",
               PYTHONPATH=os.pathsep.join(
                   [repo, os.environ.get("PYTHONPATH", "")]))
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=240)
    assert proc.returncode == 0, (proc.stderr or proc.stdout)[-3000:]
    windows = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(windows) == 10
    for w in windows:
        assert (w["jobs"], w["stages"], w["tasks"]) == (3, 5, 10), w
