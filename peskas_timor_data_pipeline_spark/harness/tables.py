"""Test-table loaders for the correctness harness.

The driver provides a TPC-H-ish star schema (TESTDATA.md); FIXTURES.md §7
maps it onto the reference's domain: lineitem ~ per-length catch rows,
orders ~ landings/submissions, events ~ GPS-tracker stream, part ~
catch_types, customer/supplier ~ boats/devices, documents/embeddings for the
training-data operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from peskas_timor_data_pipeline_spark.session import prep_session
from peskas_timor_data_pipeline_spark.sources.io import read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def exact_avg(expr: str, scale: int, nd: int = 6):
    """Order-independent rounded mean for decimal-exact data: per-row
    scale-and-round to integers (deterministic — both engines compute the
    identical IEEE expression), sum the integers EXACTLY (long arithmetic,
    order-free), divide and round once.  ``round(avg(x), 6)`` over raw
    doubles is NOT order-free: the fixture's money columns are exact
    cents, so true means sit exactly ON the 5e-7 rounding grid (e.g.
    sum_cents/(100*n) with n divisible by 10^4) and the engines' different
    summation orders legitimately flip the 6th decimal — the class behind
    e23's r05 driver hash-fail, re-found in 5 more queries by the
    SPARK_GRAFT_SHUFFLE_INPUT sweep.

    The per-row integerization is ``floor(x*scale + 0.5)``, NOT
    ``round()``: Spark's round on DOUBLE routes through BigDecimal per row
    (measured 3x slower on a full-scan agg — the r06 bench regression),
    while floor stays in double codegen. Equivalent here by the data
    contract: scaled values sit within ~1e-9 of an INTEGER (never near a
    half), where floor(+0.5) and round agree for either sign."""
    from pyspark.sql import functions as F

    s = F.sum(F.expr(f"cast(floor(({expr}) * {scale} + 0.5d) as bigint)"))
    return F.round(s / float(scale) / F.count(F.lit(1)), nd)


def exact_ppm(n: str, d: str):
    """``n * 10^6 div d`` (parts per million, truncated) without the
    intermediate product: ``n * 1000000L`` overflows a long under ANSI
    once ``n`` passes ~9.2e12, so divide first and scale the remainder,
    ``(n div d) * 10^6 + ((n % d) * 10^6) div d``. Exact for ``d > 0``;
    ``d = 0`` still raises DIVIDE_BY_ZERO, so guard it where it can
    happen (the d12 ``raise_error`` pattern)."""
    from pyspark.sql import functions as F

    return F.expr(
        f"(({n}) div ({d})) * 1000000L + ((({n}) % ({d})) * 1000000L) div ({d})"
    )


def exact_sum(expr: str, scale: int, nd: int):
    """Order-independent rounded sum — see exact_avg. Needed whenever the
    rounding granularity is at or coarser than the data's decimal
    precision (round(sum(cents_data), 0) flips whenever the true sum ends
    in .50)."""
    from pyspark.sql import functions as F

    s = F.sum(F.expr(f"cast(floor(({expr}) * {scale} + 0.5d) as bigint)"))
    return F.round(s / float(scale), nd)


def exact_avg_sql(expr: str, scale: int, nd: int = 6) -> str:
    """DuckDB twin of exact_avg (the HUGEINT sum is an intermediate only;
    its double conversion is exact below 2^53)."""
    return (f"round(sum(CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT))"
            f" / {scale}.0 / count(*), {nd})")


def exact_sum_sql(expr: str, scale: int, nd: int) -> str:
    return (f"round(sum(CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT))"
            f" / {scale}.0, {nd})")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table; normalizes the session TZ first so
    timestamp->date derivations agree with the naive-timestamp oracle.

    The read goes through ``sources.io.read_parquet``: the first load of
    a table in a session infers its schema (one footer-reading job), every
    later load of the unchanged file reuses that answer and launches no
    job before the query's own action. A rewritten file, or a different
    ``nanosAsLong`` setting, infers again.

    ``events.ts`` varies by testdata generation: TIMESTAMP(NANOS) parquet
    (no native Spark type — read as long nanos via legacy conf, then
    floor-convert with integer division because nanos exceed double's 2^53
    exact range) or TIMESTAMP(MICROS) (read natively as TIMESTAMP_NTZ).
    Either way the column is normalized to a session-TZ TimestampType so
    date derivations agree with the naive-timestamp DuckDB oracle."""
    prep_session(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return _naive(df)
    return _naive(read_parquet(spark, f"{sf_dir}/{name}.parquet"))


def _naive(df: DataFrame) -> DataFrame:
    """Cast every TimestampType column to TIMESTAMP_NTZ. The fixtures are
    naive timestamps and the DuckDB oracle treats them as such; PySpark's
    ``collect()`` renders TimestampType through the OS timezone (NOT the
    session TZ), so a query emitting a raw TimestampType column
    hash-diverges on any non-UTC driver host (the hostile-TZ sweep caught
    6 such queries). With the session TZ pinned UTC by prep_session the
    cast preserves the stored wall-clock value, and NTZ flows naive
    through every downstream derivation AND through collect() — no TZ
    surface anywhere."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampType)
    ]
    for c in ts_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp_ntz"))
    return _maybe_shuffle(df)


def _maybe_shuffle(df: DataFrame) -> DataFrame:
    """Order-perturbation axis for the driver-env simulation: with
    SPARK_GRAFT_SHUFFLE_INPUT=<seed> every table is re-sharded by a seeded
    hash, destroying the parquet row order that partial aggregations would
    otherwise fold in. A query whose hashed output survives arbitrary
    summation order at its declared rounding granularity is robust to the
    driver host's partitioning; one that flips has an order-dependent
    float reduction — the class behind e23_embedding_audit's r05 hash-fail
    — and must be integer-ized or coarsened BEFORE the driver finds it.
    Off (unset) in normal runs: the driver's own sampling must see the
    production plan, and an extra shuffle per scan is not it."""
    import os

    seed = os.environ.get("SPARK_GRAFT_SHUFFLE_INPUT")
    if not seed:
        return df
    from pyspark.sql import functions as F

    salt = F.xxhash64(F.lit(seed), *[F.col(c) for c in df.columns if not c.startswith("__")][:4])
    return df.repartition(13, salt)
