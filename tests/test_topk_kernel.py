"""The similarity family's ranking kernels (``llm/similarity.py::_topk``
and ``_blas_topk``) against the code every site carried before, kept
here as the reference:

- the inline window block: ``row_number() OVER (PARTITION BY key ORDER
  BY score DESC|ASC, item ASC)``, ranks 1..k;
- the two Arrow-batched BLAS scans, ``_gemm_topk`` (cosine) and
  ``l2_topk_bruteforce``, which differed only in the metric.

``_topk`` is also checked against a Python model of Spark's sort order:
NaN above every number, NULL first ascending and last descending, -0.0
equal to 0.0, ties to the lowest item. Scores are compared by ``repr``,
so a signed zero and a NaN count."""

from __future__ import annotations

import math
from contextlib import contextmanager

import pytest
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from peskas_timor_data_pipeline_spark.llm.similarity import (
    _topk,
    cosine_topk_bruteforce,
    l2_topk_bruteforce,
)
from peskas_timor_data_pipeline_spark.session import local_frame

NAN = float("nan")


# --- the code before the kernels -----------------------------------------------------


def old_window_block(scored, key, item, score, k, desc):
    w = Window.partitionBy(key).orderBy(
        F.desc(score) if desc else F.asc(score), F.asc(item)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def old_gemm_topk(queries, candidates, id_col, vec_col, k):
    import numpy as np
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    out_schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("cand_id", candidates.schema[id_col].dataType),
            StructField("cosine", DoubleType()),
        ]
    )
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        empty_schema = StructType(
            out_schema.fields[:2]
            + [StructField("rank", IntegerType()), StructField("cosine", DoubleType())]
        )
        return queries.sparkSession.createDataFrame([], empty_schema)
    qids = [r[0] for r in qrows]
    qmat = np.array([[float(x) for x in r[1]] for r in qrows], dtype=np.float64)
    qn = np.sqrt((qmat * qmat).sum(axis=1))
    if np.any(qn == 0):
        bad = [qids[i] for i in np.nonzero(qn == 0)[0][:5]]
        raise ValueError(
            f"zero-norm query vector(s) {bad}: cosine is undefined "
            "(the sql engine raises DIVIDE_BY_ZERO here under ANSI mode)"
        )
    qmat_t = (qmat / qn[:, None]).T

    def score(batches):
        import pandas as pd

        for pdf in batches:
            v = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            vn = np.sqrt((v * v).sum(axis=1))
            ids = pdf[id_col].to_numpy()
            if np.any(vn == 0):
                bad = [ids[i] for i in np.nonzero(vn == 0)[0][:5]]
                raise ValueError(
                    f"zero-norm candidate vector(s) {bad}: cosine is "
                    "undefined (the sql engine raises DIVIDE_BY_ZERO "
                    "here under ANSI mode)"
                )
            s = (v @ qmat_t) / vn[:, None]
            b = s.shape[0]
            oq, oc, ocos = [], [], []
            for j, qid in enumerate(qids):
                col = s[:, j]
                if b > k:
                    thr = np.partition(col, b - k)[b - k]
                    idx = np.nonzero(col >= thr)[0]
                else:
                    idx = np.arange(b)
                best = sorted(idx, key=lambda i: (-col[i], ids[i]))[:k]
                oq.extend([qid] * len(best))
                oc.extend(ids[i] for i in best)
                ocos.extend(float(col[i]) for i in best)
            yield pd.DataFrame({"query_id": oq, "cand_id": oc, "cosine": ocos})

    local = candidates.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def old_l2_topk(queries, candidates, id_col, vec_col, k):
    import numpy as np
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    out_schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("cand_id", candidates.schema[id_col].dataType),
            StructField("dist2", DoubleType()),
        ]
    )
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        empty_schema = StructType(
            out_schema.fields[:2]
            + [StructField("rank", IntegerType()), StructField("dist", DoubleType())]
        )
        return queries.sparkSession.createDataFrame([], empty_schema)
    qids = [r[0] for r in qrows]
    qmat = np.array([[float(x) for x in r[1]] for r in qrows], dtype=np.float64)
    qsq = (qmat * qmat).sum(axis=1)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            v = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            ids = pdf[id_col].to_numpy()
            vsq = (v * v).sum(axis=1)
            d = vsq[:, None] - 2.0 * (v @ qmat.T) + qsq[None, :]
            b = d.shape[0]
            oq, oc, od = [], [], []
            for j, qid in enumerate(qids):
                col = d[:, j]
                if b > k:
                    thr = np.partition(col, k - 1)[k - 1]
                    idx = np.nonzero(col <= thr)[0]
                else:
                    idx = np.arange(b)
                best = sorted(idx, key=lambda i: (col[i], ids[i]))[:k]
                oq.extend([qid] * len(best))
                oc.extend(ids[i] for i in best)
                od.extend(float(col[i]) for i in best)
            yield pd.DataFrame({"query_id": oq, "cand_id": oc, "dist2": od})

    local = candidates.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("cand_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "cand_id",
            "rank",
            F.round(F.sqrt(F.greatest("dist2", F.lit(0.0))), 6).alias("dist"),
        )
    )


# --- helpers --------------------------------------------------------------------


def _rows(df):
    """Sorted rows with every value as its ``repr``."""
    return sorted(tuple(repr(x) for x in r) for r in df.collect())


def _model(rows, k, desc):
    """Python replica of the ranking: rows are (key, item, score)."""

    def order(r):
        s = r[2]
        null, nan = s is None, s is not None and math.isnan(s)
        v = 0.0 if null or nan else s + 0.0  # -0.0 ties 0.0
        if desc:
            return (null, not nan, -v, r[1])
        return (not null, nan, v, r[1])

    out = []
    for key in {r[0] for r in rows}:
        ranked = sorted((r for r in rows if r[0] == key), key=order)[:k]
        out += [(*r, i + 1) for i, r in enumerate(ranked)]
    return sorted(tuple(repr(x) for x in r) for r in out)


def _check_topk(spark, id_type, rows, k, desc):
    frame = local_frame(spark, f"key int, item {id_type}, score double", rows)
    got = _topk(frame, "key", "item", "score", k, desc)
    assert got.columns == ["key", "item", "score", "rank"]
    assert _rows(got) == _rows(old_window_block(frame, "key", "item", "score", k, desc))
    assert _rows(got) == _model(rows, k, desc)


_score = st.sampled_from([-1.5, -0.0, 0.0, 0.25, 1.0, 2.0, NAN, None])


@st.composite
def _cases(draw):
    id_type = draw(st.sampled_from(["int", "string"]))
    rows = []
    for key in range(draw(st.integers(0, 3))):
        # items unique per key (a tie on score AND item has no order);
        # few distinct scores, so ties are the rule
        items = draw(st.lists(st.integers(-20, 20), unique=True, max_size=10))
        rows += [
            (key, f"i{x:+03d}" if id_type == "string" else x, draw(_score))
            for x in items
        ]
    return id_type, rows, draw(st.integers(1, 12)), draw(st.booleans())


# --- _topk --------------------------------------------------------------------------


@seed(20261020)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=_cases())
def test_topk_equals_window_block_and_model(spark, case):
    _check_topk(spark, *case)


@pytest.mark.parametrize(
    "rows",
    [
        [(1, 3, NAN), (1, 1, 2.0), (1, 2, NAN), (1, 4, -1.0)],
        [(1, 3, None), (1, 1, 2.0), (1, 2, None), (1, 4, -1.0)],
        [(1, 3, -0.0), (1, 1, 0.0), (1, 2, -0.0), (2, 5, 0.0), (2, 4, -0.0)],
        [(1, 1, NAN), (1, 2, None), (1, 3, 0.0), (1, 4, -0.0), (1, 5, 7.0)],
        [],
    ],
    ids=["nan", "null", "signed-zero", "mixed", "empty"],
)
@pytest.mark.parametrize("desc", [True, False], ids=["desc", "asc"])
@pytest.mark.parametrize("k", [1, 2, 9])
def test_topk_nan_null_signed_zero_empty(spark, rows, desc, k):
    _check_topk(spark, "int", rows, k, desc)


def test_topk_list_key(spark):
    """A list key partitions by every column of it (e22's per-setting
    ranking)."""
    rows = [(a, b, i, float(i % 2)) for a in (1, 2) for b in (1, 2) for i in range(4)]
    frame = local_frame(spark, "a int, b int, item int, score double", rows)
    got = _topk(frame, ["a", "b"], "item", "score", 2, True)
    assert _rows(got.select("a", "b", "item", "rank")) == sorted(
        tuple(repr(x) for x in r)
        for a in (1, 2)
        for b in (1, 2)
        for r in ((a, b, 1, 1), (a, b, 3, 2))
    )


# --- the BLAS scan ------------------------------------------------------------------


@contextmanager
def _small_batches(spark, n):
    """Arrow batches of ``n`` rows, so the per-batch partial top-k and its
    merge are exercised on a small frame."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _vectors(spark, id_type, vecs):
    ids = [f"v{i:02d}" if id_type == "string" else i for i in range(len(vecs))]
    return local_frame(spark, f"vec_id {id_type}, embedding array<double>", list(zip(ids, vecs)))


# duplicated vectors and scaled copies: exact cosine and L2 ties across
# batches, and ties at the k-th place inside a batch
_TIED = [
    [1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [2.0, 0.0], [0.6, 0.8], [0.0, 1.0],
    [-1.0, 0.0], [0.6, 0.8], [3.0, 4.0], [1.0, 0.0], [-0.0, -2.0], [1.0, 1.0],
]


@pytest.mark.parametrize("id_type", ["int", "string"])
@pytest.mark.parametrize("k", [1, 3, 20])
def test_blas_scans_equal_the_old_scans(spark, id_type, k):
    cands = _vectors(spark, id_type, _TIED).repartition(3, "vec_id")
    queries = _vectors(spark, id_type, _TIED[:5])
    with _small_batches(spark, 2):
        new_cos = cosine_topk_bruteforce(
            queries, cands, "vec_id", "embedding", k=k, dim=2, engine="gemm"
        )
        assert _rows(new_cos) == _rows(old_gemm_topk(queries, cands, "vec_id", "embedding", k))
        new_l2 = l2_topk_bruteforce(queries, cands, "vec_id", "embedding", k=k, dim=2)
        assert _rows(new_l2) == _rows(old_l2_topk(queries, cands, "vec_id", "embedding", k))
    assert new_cos.columns == ["query_id", "cand_id", "rank", "cosine"]
    assert new_l2.columns == ["query_id", "cand_id", "rank", "dist"]


def test_blas_scans_empty_queries_keep_the_typed_frame(spark):
    cands = _vectors(spark, "int", _TIED)
    empty = cands.filter("vec_id < 0")
    pairs = [
        (
            cosine_topk_bruteforce(empty, cands, "vec_id", "embedding", k=2, dim=2, engine="gemm"),
            old_gemm_topk(empty, cands, "vec_id", "embedding", 2),
        ),
        (
            l2_topk_bruteforce(empty, cands, "vec_id", "embedding", k=2, dim=2),
            old_l2_topk(empty, cands, "vec_id", "embedding", 2),
        ),
    ]
    for new, old in pairs:
        assert new.collect() == []
        assert repr(new.schema) == repr(old.schema)


def test_blas_scans_zero_norm(spark):
    """Zero-norm vectors: the cosine scan raises what the old scan raised
    (a query driver-side, a candidate in the task); the L2 scan ranks
    them like any vector, as before."""
    cands = _vectors(spark, "int", _TIED + [[0.0, 0.0]])
    queries = _vectors(spark, "int", [[1.0, 0.0]])
    zero_q = _vectors(spark, "int", [[0.0, -0.0]])
    with pytest.raises(ValueError, match=r"zero-norm query vector\(s\) \[0\]"):
        cosine_topk_bruteforce(zero_q, cands, "vec_id", "embedding", k=2, dim=2, engine="gemm")
    with pytest.raises(Exception, match=r"zero-norm candidate vector\(s\) \[12\]"):
        cosine_topk_bruteforce(
            queries, cands, "vec_id", "embedding", k=2, dim=2, engine="gemm"
        ).collect()
    for q in (queries, zero_q):
        assert _rows(l2_topk_bruteforce(q, cands, "vec_id", "embedding", k=4, dim=2)) == _rows(
            old_l2_topk(q, cands, "vec_id", "embedding", 4)
        )
