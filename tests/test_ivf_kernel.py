"""The IVF family's two kernels (``llm/similarity.py::_nearest_cell`` and
``_probe_cells``) against the window blocks every IVF site carried
before, kept here as the reference: a ``row_number`` over the ×n_cells
expansion, ordered ``cos DESC, cell_id ASC``. The assignment is now a
partial aggregate, so its pick must equal the window's exactly — NaN
first, NULL last, -0.0 equal to 0.0, ties to the lowest cell id — and
the winner's cosine must keep its bits (compared by ``repr``). The
exact ppm expression (``harness/tables.py::exact_ppm``) is checked here
too, against Python's integer division."""

from __future__ import annotations

import math
import tempfile

import pytest
from hypothesis import HealthCheck, example, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from peskas_timor_data_pipeline_spark.harness.tables import exact_ppm
from peskas_timor_data_pipeline_spark.llm.similarity import (
    _nearest_cell,
    _probe_cells,
    dot_expr,
    ivf_build,
    ivf_centroids,
    kmeans_refine,
    norm_expr,
)
from peskas_timor_data_pipeline_spark.session import local_frame

NAN = float("nan")


# --- the window blocks before the kernels ------------------------------------------


def _old_scores(frame, key, vec, norm, cents, dim):
    return frame.crossJoin(F.broadcast(cents)).select(
        key,
        "cell_id",
        (dot_expr(vec, "cvec", dim) / (F.col(norm) * F.col("cnorm"))).alias("cos"),
    )


def old_nearest_cell(frame, key, vec, norm, cents, dim):
    w = Window.partitionBy(key).orderBy(F.desc("cos"), F.asc("cell_id"))
    return (
        _old_scores(frame, key, vec, norm, cents, dim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(key, "cell_id", "cos")
    )


def old_probe_cells(frame, key, vec, norm, cents, dim, n_probe):
    w = Window.partitionBy(key).orderBy(F.desc("cos"), F.asc("cell_id"))
    return (
        _old_scores(frame, key, vec, norm, cents, dim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select(key, "cell_id", F.col("rn").alias("probe_rank"))
    )


# --- helpers --------------------------------------------------------------------


def _rows(df):
    """Sorted rows with every value as its ``repr`` (a signed zero and a
    NaN count)."""
    return sorted(tuple(repr(x) for x in r) for r in df.collect())


def _tagged(tag, df):
    """``df``'s rows as strings behind a tag, so several results share one
    collect. A double's string is the JVM's ``Double.toString``, which
    tells a signed zero and a NaN apart."""
    return df.select(F.lit(tag).alias("tag"), *[F.col(c).cast("string") for c in df.columns])


def _frames(spark, id_type, vecs, cvecs, cell_ids):
    dim = len(cvecs[0])
    ddl = f"id {id_type}, v array<double>"
    ids = [f"v{i:02d}" if id_type == "string" else i for i in range(len(vecs))]
    frame = local_frame(spark, ddl, list(zip(ids, vecs))).select(
        "id", "v", norm_expr("v", dim).alias("n")
    )
    cents = local_frame(
        spark, f"cell_id {id_type}, cvec array<double>", list(zip(cell_ids, cvecs))
    ).select("cell_id", "cvec", norm_expr("cvec", dim).alias("cnorm"))
    return frame, cents


def _check(spark, id_type, vecs, cvecs, n_probe):
    dim = len(cvecs[0])
    # cell ids deliberately out of row order, so the id tie-break is seen
    ints = [(7 * j) % 11 - 5 for j in range(len(cvecs))]
    cell_ids = [f"c{x}" for x in ints] if id_type == "string" else ints
    frame, cents = _frames(spark, id_type, vecs, cvecs, cell_ids)
    args = (frame, "id", "v", "n", cents, dim)
    both = (
        _tagged("new assign", _nearest_cell(*args))
        .unionAll(_tagged("old assign", old_nearest_cell(*args)))
        .unionAll(_tagged("new probe", _probe_cells(*args, n_probe)))
        .unionAll(_tagged("old probe", old_probe_cells(*args, n_probe)))
    )
    got = {}
    for r in both.collect():
        got.setdefault(r[0], []).append(tuple(r[1:]))
    for kind in ("assign", "probe"):
        assert sorted(got.get(f"new {kind}", [])) == sorted(got.get(f"old {kind}", []))


_elem = st.sampled_from([-2.0, -1.0, -0.0, 0.0, 0.5, 1.0, 2.0])


@st.composite
def _cases(draw):
    dim = draw(st.integers(2, 6))
    vec = st.lists(_elem, min_size=dim, max_size=dim).filter(
        lambda v: any(x != 0 for x in v)  # a zero norm raises DIVIDE_BY_ZERO
    )
    # few distinct centroid vectors, drawn with repeats: exact cosine ties
    pool = draw(st.lists(vec, min_size=1, max_size=4))
    n_cells = draw(st.integers(1, 8))
    cvecs = [draw(st.sampled_from(pool)) for _ in range(n_cells)]
    vecs = draw(st.lists(st.one_of(st.sampled_from(pool), vec), max_size=40))
    return (
        draw(st.sampled_from(["int", "string"])),
        vecs,
        cvecs,
        draw(st.integers(1, n_cells + 1)),
    )


# --- the kernels ----------------------------------------------------------------


@seed(20261020)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=_cases())
def test_kernels_equal_window_blocks(spark, case):
    _check(spark, *case)


@pytest.mark.parametrize(
    "vecs,cvecs",
    [
        # a NULL vector: every cosine NULL, the lowest cell id wins
        ([None, [1.0, 2.0]], [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]),
        # a NULL element, in a vector and in a centroid (NULL sorts last)
        ([[None, 1.0], [1.0, 2.0], [2.0, 1.0]], [[1.0, 0.0], [1.0, None], [0.0, 1.0]]),
        # a NaN element, in a vector and in a centroid (NaN sorts first)
        ([[NAN, 1.0], [1.0, 2.0], [2.0, 1.0]], [[1.0, 0.0], [NAN, 1.0], [0.0, 1.0]]),
        # a -0.0 cosine ties a 0.0 one: the lowest cell id wins, its own
        # signed zero rides along
        ([[1.0, 0.0], [0.0, 1.0]], [[-0.0, -1.0], [0.0, 1.0], [0.0, -1.0], [-0.0, 1.0]]),
        # an empty frame
        ([], [[1.0, 0.0], [0.0, 1.0]]),
    ],
    ids=["null-vector", "null-element", "nan-element", "signed-zero-tie", "empty"],
)
@pytest.mark.parametrize("id_type", ["int", "string"])
def test_kernels_null_nan_and_signed_zero(spark, vecs, cvecs, id_type):
    _check(spark, id_type, vecs, cvecs, 2)


def test_former_min_by_sites_take_the_window_choice(spark):
    """``ivf_build`` and ``kmeans_refine`` used ``min_by`` over
    ``(-cos, cell_id)``, which put a NULL cosine first and a NaN one
    last. Through the kernel they pick what the window copies pick. Every
    vector here is a centroid: the one with a NaN element (9) wins every
    finite vector, the one with a NULL element (10) wins none, and both
    of those, whose own cosines are all NaN or all NULL, go to the lowest
    cell id."""
    rows = [(i, [math.cos(i), math.sin(i)]) for i in range(1, 9)]
    rows += [(9, [NAN, 1.0]), (10, [None, 1.0])]
    df = local_frame(spark, "vec_id long, embedding array<double>", rows)
    cents = ivf_centroids(df, "vec_id", "embedding", n_cells=10, dim=2)
    c = df.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        norm_expr("embedding", 2).alias("cn"),
    )
    want = old_nearest_cell(c, "cand_id", "cv", "cn", cents, 2)

    _, inverted = ivf_build(df, "vec_id", "embedding", dim=2, n_cells=10)
    assert _rows(inverted.select("cand_id", "cell_id")) == _rows(
        want.select("cand_id", "cell_id")
    )
    assert {r.cand_id: r.cell_id for r in inverted.collect()} == {
        **{i: 9 for i in range(1, 9)}, 9: 1, 10: 1,
    }

    km = kmeans_refine(df, cents.select("cell_id", "cvec"), "vec_id", "embedding", dim=2)
    assert sorted((r.cell_id, r.n) for r in km.collect()) == [(1, 2), (9, 8)]


# --- exact ppm ------------------------------------------------------------------

_BIG = 9 * 10**12  # keeps (n % d) * 10^6 and (n div d) * 10^6 inside a long


@st.composite
def _ppm_pairs(draw):
    d = draw(st.integers(1, _BIG))
    bound = min(_BIG * d, 2**63 - 1)
    return draw(st.integers(-bound, bound)), d


def _trunc_ppm(n, d):
    q = abs(n) * 10**6 // d
    return q if n >= 0 else -q


@seed(20261020)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pairs=st.lists(_ppm_pairs(), min_size=1, max_size=30))
@example(pairs=[(10**13, 7), (10**13, 3), (2**63 - 1, 10**12), (0, 5), (999_999, 10**6)])
def test_exact_ppm_equals_integer_division(spark, pairs):
    df = local_frame(spark, "n long, d long", pairs)
    got = [r.p for r in df.select(exact_ppm("n", "d").alias("p")).collect()]
    assert got == [_trunc_ppm(n, d) for n, d in pairs]


def test_inline_ppm_overflows_where_exact_ppm_does_not(spark):
    df = local_frame(spark, "n long, d long", [(10**13, 3)])
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.select(F.expr("n * 1000000L div d")).collect()
    assert df.select(exact_ppm("n", "d").alias("p")).first().p == 10**19 // 3


# --- e22's truth count ------------------------------------------------------------


def test_e22_empty_query_set_raises_named_error(spark):
    """e22's truth count is an aggregate in the plan: a corpus with no
    query ids (vec_id < 20) fails with e22's own message, not a bare
    DIVIDE_BY_ZERO."""
    from peskas_timor_data_pipeline_spark.harness.llm_q import DIM, e22_ivf_probe_sweep

    rows = [
        (i, [math.sin(i * (d + 1.0)) for d in range(DIM)], i % 3) for i in range(50, 80)
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(f"{tmp}/embeddings.parquet")
        with pytest.raises(Exception, match="e22 probe sweep: empty query set"):
            e22_ivf_probe_sweep(spark, tmp).collect()
