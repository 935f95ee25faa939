"""The PCA family's driver-side solve (``llm/similarity.py::_pca_replay``)
against the Spark-frame chain it replaced, kept here as the reference: the
covariance, both pinned power chains and the Hotelling deflation ran as
eager checkpoints of KB frames with broadcast joins and a pivot window.
Every row must keep its exact value (compared by ``repr``, so a signed
zero counts), so the e17/e27/e28 oracle hashes stay put; the replayed
``round`` is pinned against Spark's own on a column."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from peskas_timor_data_pipeline_spark.llm.ckpt import materialize
from peskas_timor_data_pipeline_spark.llm.similarity import (
    _spark_round,
    pca_scores,
    pca_top2,
    top_eigenvector,
)

SCHEMA = "id int, embedding array<double>"


# --- the Spark-frame chain before the driver-side solve ------------------------


def _old_moments(df, vec_col, dim):
    el = lambda i: f"CAST(element_at(`{vec_col}`, {i}) AS DOUBLE)"  # noqa: E731
    aggs = [F.expr("CAST(count(1) AS BIGINT) AS n")]
    for i in range(1, dim + 1):
        aggs.append(F.expr(f"sum({el(i)}) AS s{i}"))
    for i in range(1, dim + 1):
        for j in range(i, dim + 1):
            aggs.append(F.expr(f"sum({el(i)} * {el(j)}) AS p{i}_{j}"))
    return materialize(df.agg(*aggs))


def _old_cov(moments, dim, round_to):
    entries = []
    for i in range(1, dim + 1):
        for j in range(1, dim + 1):
            lo, hi = min(i, j), max(i, j)
            entries.append(
                f"{i}L, {j}L, round((p{lo}_{hi} - s{i} * s{j} / n) / n, {round_to})"
            )
    return materialize(
        moments.selectExpr(f"stack({dim * dim}, {', '.join(entries)}) AS (i, j, c)")
    )


def _old_power(spark, cov, dim, n_iter, round_to):
    v = spark.range(1, dim + 1).select(F.col("id").alias("j"), F.lit(1.0).alias("v"))
    w = Window.orderBy(F.desc(F.abs(F.col("cv"))), F.asc("i"))
    for _ in range(n_iter):
        cv = (
            cov.join(F.broadcast(v), cov.j == v.j)
            .groupBy("i")
            .agg(F.round(F.sum(F.col("c") * F.col("v")), round_to).alias("cv"))
        )
        pivot = (
            cv.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .select(F.col("cv").alias("pivot"))
        )
        v = materialize(
            cv.crossJoin(F.broadcast(pivot)).select(
                F.col("i").alias("j"),
                F.round(F.col("cv") / F.col("pivot"), round_to).alias("v"),
                F.abs(F.col("pivot")).alias("__eig__"),
            )
        )
    return v


def _old_two(spark, cov, dim, n_iter, round_to):
    v1 = _old_power(spark, cov, dim, n_iter, round_to)
    vv = v1.agg(
        F.round(F.sum(F.col("v") * F.col("v")), round_to).alias("vv"),
        F.max("__eig__").alias("eig1"),
    )
    cov2 = materialize(
        cov.join(
            F.broadcast(v1.select(F.col("j").alias("i"), F.col("v").alias("vi"))), "i"
        )
        .join(F.broadcast(v1.select(F.col("j"), F.col("v").alias("vj"))), "j")
        .crossJoin(F.broadcast(vv))
        .select(
            "i",
            "j",
            F.round(
                F.col("c") - F.col("eig1") * F.col("vi") * F.col("vj") / F.col("vv"),
                round_to,
            ).alias("c"),
        )
    )
    return v1, _old_power(spark, cov2, dim, n_iter, round_to)


def old_top_eigenvector(df, vec_col, dim, n_iter, round_to=6):
    cov = _old_cov(_old_moments(df, vec_col, dim), dim, round_to)
    v = _old_power(df.sparkSession, cov, dim, n_iter, round_to)
    return v.select(
        F.col("j").alias("i"),
        F.col("v").alias("component"),
        F.col("__eig__").alias("eigenvalue"),
    )


def old_pca_top2(df, vec_col, dim, n_iter, round_to=6):
    cov = _old_cov(_old_moments(df, vec_col, dim), dim, round_to)
    v1, v2 = _old_two(df.sparkSession, cov, dim, n_iter, round_to)
    return v1.select(
        F.lit(1).cast("int").alias("comp"), F.col("j").alias("i"),
        F.col("v").alias("loading"), F.col("__eig__").alias("eigenvalue"),
    ).unionAll(v2.select(
        F.lit(2).cast("int").alias("comp"), F.col("j").alias("i"),
        F.col("v").alias("loading"), F.col("__eig__").alias("eigenvalue"),
    ))


def old_pca_scores(df, id_col, vec_col, dim, n_iter, round_to=6):
    mom = _old_moments(df, vec_col, dim)
    v1, v2 = _old_two(
        df.sparkSession, _old_cov(mom, dim, round_to), dim, n_iter, round_to
    )
    means = mom.selectExpr(
        *[f"round(s{i} / n, {round_to}) AS m{i}" for i in range(1, dim + 1)]
    )
    w1 = v1.agg(*[F.expr(f"max(CASE WHEN j = {i} THEN v END) AS w1_{i}")
                  for i in range(1, dim + 1)])
    w2 = v2.agg(*[F.expr(f"max(CASE WHEN j = {i} THEN v END) AS w2_{i}")
                  for i in range(1, dim + 1)])

    def chain(prefix):
        return F.expr(" + ".join(
            f"(CAST(element_at(`{vec_col}`, {i}) AS DOUBLE) - m{i}) * {prefix}_{i}"
            for i in range(1, dim + 1)
        ))

    return (
        df.crossJoin(F.broadcast(means))
        .crossJoin(F.broadcast(w1))
        .crossJoin(F.broadcast(w2))
        .select(
            F.col(id_col).alias("id"),
            F.round(chain("w1"), round_to).alias("score1"),
            F.round(chain("w2"), round_to).alias("score2"),
        )
    )


# --- helpers --------------------------------------------------------------------


def _rows(build):
    """Sorted rows with every value as its ``repr``, or "raises"."""
    try:
        return sorted(tuple(repr(x) for x in r) for r in build().collect())
    except Exception:  # noqa: BLE001 - the old chain raised a Spark error, the new a ZeroDivisionError
        return "raises"


def _family(df, dim, n_iter):
    """(new, old) builds of the three PCA functions on one frame."""
    return [
        (lambda: top_eigenvector(df, "embedding", dim=dim, n_iter=n_iter),
         lambda: old_top_eigenvector(df, "embedding", dim, n_iter)),
        (lambda: pca_top2(df, "embedding", dim=dim, n_iter=n_iter),
         lambda: old_pca_top2(df, "embedding", dim, n_iter)),
        (lambda: pca_scores(df, "id", "embedding", dim=dim, n_iter=n_iter),
         lambda: old_pca_scores(df, "id", "embedding", dim, n_iter)),
    ]


# --- the replayed round ------------------------------------------------------------


@seed(20261018)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(xs=st.lists(st.one_of(st.none(), st.floats()), min_size=1, max_size=40))
@example(xs=[
    0.0000005, -2.5e-6, 1.2345675,  # HALF_UP ties at the 7th decimal
    -0.0, -1e-9, float("nan"), float("inf"), float("-inf"), None,
    5e-324, -1.1125369292536007e-308,  # subnormals
    1e300, -1.7976931348623157e308,
    9.124628929462605e16,  # JDK 17 prints 9.1246289294626048E16, not repr
])
def test_replayed_round_equals_spark_round(spark, xs):
    df = spark.createDataFrame(list(enumerate(xs)), "i int, x double")
    got = {r["i"]: r["r"] for r in df.select("i", F.round("x", 6).alias("r")).collect()}
    jvm = spark.sparkContext._jvm
    for i, x in enumerate(xs):
        assert repr(_spark_round(jvm, x, 6)) == repr(got[i]), x


# --- the solve against the Spark chain ------------------------------------------


@st.composite
def _frames(draw):
    dim = draw(st.integers(2, 8))
    n = draw(st.integers(2, 8))
    # up to 1e5, the covariance reaches ~1e10: its last bit is the 6th
    # decimal, so a sum taken in another order than the chain's shows
    vals = st.floats(-1e5, 1e5, allow_nan=False)
    vecs = [draw(st.lists(vals, min_size=dim, max_size=dim)) for _ in range(n)]
    vecs[draw(st.integers(0, n - 1))][draw(st.integers(0, dim - 1))] = None
    return dim, draw(st.integers(1, 3)), vecs


@seed(20261018)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=_frames())
@example(case=(8, 3, [[0.1 * ((i * 7 + j * 3) % 11) - 0.4 + 0.01 * i * j
                       for j in range(8)] for i in range(12)]))
@example(case=(8, 3, [[1e5 * (((i * 7 + j * 3 + 5) % 11) / 11 - 0.4) + 0.137 * i * j
                       for j in range(8)] for i in range(12)]))
def test_pca_family_equals_spark_chain(spark, case):
    dim, n_iter, vecs = case
    df = spark.createDataFrame(list(enumerate(vecs)), SCHEMA)
    for new, old in _family(df, dim, n_iter):
        assert _rows(new) == _rows(old)


def test_degenerate_inputs_raise_or_null_as_the_spark_chain(spark):
    empty = spark.createDataFrame([], SCHEMA)
    for new, old in _family(empty, 3, 2):
        assert _rows(new) == _rows(old)
    te = top_eigenvector(empty, "embedding", dim=3, n_iter=2).collect()
    assert [r["i"] for r in sorted(te)] == [1, 2, 3]
    assert all(r["component"] is None and r["eigenvalue"] is None for r in te)

    constant = spark.createDataFrame(
        [(i, [1.5, -2.0, 3.0]) for i in range(5)], SCHEMA
    )
    single = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], SCHEMA)
    for df in (constant, single):
        for new, old in _family(df, 3, 3):
            with pytest.raises(ZeroDivisionError, match="zero pivot"):
                new()
            assert _rows(old) == "raises"

    # rank 1: x = t * (1, 2), cov = 1.25 * [[1, 2], [2, 4]] exactly; the first
    # component converges, the deflated matrix is exactly zero
    rank1 = spark.createDataFrame(
        [(t, [float(t), 2.0 * t]) for t in (1, 2, 3, 4)], SCHEMA
    )
    got = _rows(lambda: top_eigenvector(rank1, "embedding", dim=2, n_iter=3))
    assert got == _rows(lambda: old_top_eigenvector(rank1, "embedding", 2, 3))
    assert got == [("1", "0.5", "6.25"), ("2", "1.0", "6.25")]
    for f in (pca_top2, lambda df, *a, **k: pca_scores(df, "id", *a, **k)):
        with pytest.raises(ZeroDivisionError, match="zero pivot"):
            f(rank1, "embedding", dim=2, n_iter=3)
    assert _rows(lambda: old_pca_top2(rank1, "embedding", 2, 3)) == "raises"
