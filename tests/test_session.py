"""Session factory settings that a test can pin from inside the JVM."""

from __future__ import annotations

N_PLANS = 150


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_repeated_round(spark):
    """A round of more distinct plans than Spark's default 100-entry
    generated-code cache holds must compile once, not every time it
    repeats: the inlined literals make each plan its own compile unit, and
    an LRU smaller than the cycle misses every one of them."""

    def one_round():
        for i in range(N_PLANS):
            spark.range(4).selectExpr(f"id * {i} + {i} AS x").collect()

    one_round()
    before = _compiles(spark)
    one_round()
    assert _compiles(spark) - before == 0
