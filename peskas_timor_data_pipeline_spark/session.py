"""SparkSession factory tuned for the pipeline workload.

The reference pipeline (peskas.timor.data.pipeline) runs eager R jobs with
manual memory splits and 32-way driver-side parallelism
(R/preprocess-landings.R:105-110, inst/conf.yml:40-42). Here a single lazy
Spark plan replaces all of that; the knobs below are the ones that matter at
100 TB scale:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting; species
  codes like "MZZ" are Zipfian in the real data).
- Broadcast threshold generous: every metadata dimension table (15 Google-
  Sheets tables, inst/conf.yml:60-75) is KB-MB scale.
- Whole-stage-codegen cache sized to the package's working set: the DAG
  re-runs the same stage plans every schedule tick (and a query mix repeats
  its queries), but Spark's default 100-entry LRU evicts each generated
  class before the next round returns to it, so every round recompiled
  every stage in Janino and the JIT then recompiled the fresh classes.
- Session timezone Asia/Dili: all reference date logic is local-time
  (R/validation-functions.R:79-82).
- Arrow enabled for the few applyInPandas paths (GLMM/imputation at
  region x month granularity only).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_TIMEZONE = "Asia/Dili"


def get_spark(
    app_name: str = "peskas-timor-pipeline",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    timezone: str = DEFAULT_TIMEZONE,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with workload-appropriate defaults.

    In local test mode we size shuffle partitions to the core count; on a
    real cluster leave ``shuffle_partitions`` None and let AQE coalesce from
    a high initial number.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if master.startswith("local") else 2000

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", timezone)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Python DataSource scans (sources/kobo_source.py) push id-range
        # predicates into the REST query; off by default in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # local[N] is a single JVM: "driver" memory is the whole executor
        # heap shared by N task threads — size it like an executor, not a
        # driver (the box has 128 GiB; 24g keeps GC pressure off the
        # shuffle-heavy dedup/LSH queries without risking the host)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        # Static SQL conf, so it is set here or not at all. Distinct compile
        # units (CodegenMetrics compile count under an unbounded cache) over
        # set-up plus three rounds: perfbench domain_dag 275, query_mix 151,
        # 426 together. At the default 100 entries a warm domain_dag round
        # recompiled 230 units and a warm query_mix round 118-134; 1000
        # holds both with 2x headroom. One bench.py pass over the registry
        # (sf0.01) compiles 3861 units and does not fit, but it revisits a
        # query only in its end-of-pass reruns. Generated source
        # averages 8-16 KB per unit (p95 24-53 KB) and bytecode 3-4 KB per
        # class, so 1000 entries retain tens of MB, well inside a 1g heap.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def prep_session(spark: SparkSession, timezone: str = "UTC") -> SparkSession:
    """Normalize an externally-provided session for deterministic results.

    The correctness harness receives a SparkSession it did not build; pin the
    session timezone so timestamp->date logic matches the naive-timestamp
    semantics of the parquet test fixtures regardless of host TZ.
    """
    spark.conf.set("spark.sql.session.timeZone", timezone)
    return spark
