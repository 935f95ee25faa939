"""Estimation + public-data stage tests."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, example, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.operators.windows import month_spine
from peskas_timor_data_pipeline_spark.pipeline.estimate_pipeline import (
    complete_and_impute,
    monthly_indicators,
    national_rollup,
    scale_to_fleet,
)
from peskas_timor_data_pipeline_spark.pipeline.public import (
    RDI,
    anonymize_trips,
    nutrient_supply,
    periodic_summary,
)


def _trips(spark):
    rows = [
        ("Dili", dt.date(2023, 1, 5), 1, 10, 30.0, 12.0),
        ("Dili", dt.date(2023, 1, 20), 2, 10, 50.0, 20.0),
        ("Dili", dt.date(2023, 3, 2), 3, 11, 40.0, 15.0),   # Feb missing
        ("Baucau", dt.date(2023, 1, 8), 4, 12, 20.0, 8.0),
        ("Baucau", dt.date(2023, 3, 9), 5, 12, 24.0, 9.0),
    ]
    return spark.createDataFrame(
        rows,
        "region string, landing_date date, landing_id int, boat_id int, "
        "landing_catch double, catch_price double",
    )


def test_estimation_end_to_end(spark):
    monthly = monthly_indicators(_trips(spark))
    jan = monthly.filter("region = 'Dili'").orderBy("landing_period").collect()[0]
    assert jan.n_landings == 2 and jan.n_boats_seen == 1
    assert jan.landing_catch == 40.0

    spine = month_spine(spark, "2023-01-01", "2023-03-01")
    imputed = complete_and_impute(monthly, spine)
    assert imputed.count() == 6  # 2 regions x 3 months
    feb = imputed.filter(
        "region = 'Dili' and landing_period = date'2023-02-01'"
    ).collect()[0]
    assert abs(feb.landing_catch - 40.0) < 1e-9  # midpoint of 40 and 40
    assert feb.is_imputed

    boats = spark.createDataFrame(
        [("Dili", 100), ("Baucau", 50)], "region string, n_boats int"
    )
    scaled = scale_to_fleet(imputed, boats)
    national = national_rollup(scaled)
    assert national.count() == 3
    row = national.filter("landing_period = date'2023-01-01'").collect()[0]
    assert row.n_regions == 2 and row.catch is not None


def test_anonymized_ids_unique(spark):
    merged = spark.createDataFrame(
        [(1, 100), (2, 100), (3, None)], "landing_id int, tracker_trip_id int"
    )
    out = anonymize_trips(merged)
    ids = [r.trip_id for r in out.collect()]
    assert len(ids) == len(set(ids))  # tinytest test_public_data.R:11-14
    assert all(len(i) == 32 for i in ids)


def test_periodic_summary_and_nutrients(spark):
    catches = spark.createDataFrame(
        [
            (dt.date(2023, 1, 2), "CLP", 100.0),
            (dt.date(2023, 1, 9), "CLP", 50.0),
        ],
        "period date, species string, catch_kg double",
    )
    weekly = periodic_summary(
        catches, "period", "week", [F.sum("catch_kg").alias("catch_kg")]
    )
    # 2023-01-02 (Mon) -> Sunday 2023-01-01; 01-09 (Mon) -> 01-08
    weeks = sorted(str(r.period) for r in weekly.collect())
    assert weeks == ["2023-01-01", "2023-01-08"]

    dim = spark.createDataFrame(
        [("CLP", *[1.0] * len(RDI))],
        "species string, " + ", ".join(f"{c} double" for c in RDI),
    )
    supply = nutrient_supply(catches, dim, unit_days=30.0)
    assert supply.count() == 2 * len(RDI)
    sel = supply.filter(
        "nutrient = 'Protein_mu' and period = date'2023-01-02'"
    ).collect()[0]
    # 100 kg x 1.0 mu x1000 /30d /RDI(50)
    assert abs(sel.people_rdi - 100 * 1000 / 30 / 50) < 1e-6


def test_glmm_recovers_random_intercept_variance(spark):
    """Simulate poisson counts with known crossed random intercepts
    (sigma_month=0.7, sigma_version=0.3); the PQL fit must recover the
    fixed intercept and both variance components within tolerance, and
    BLUPs must correlate strongly with the true effects."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.operators.estimate import (
        glmm_random_intercepts,
    )

    rng = np.random.RandomState(7)
    n_months, n_reps = 40, 25
    beta0 = 2.0
    u_month = rng.normal(0.0, 0.7, n_months)
    u_version = {"v1": rng.normal(0.0, 0.3), "v2": rng.normal(0.0, 0.3)}
    rows = []
    for mth in range(n_months):
        for r in range(n_reps):
            ver = "v1" if mth < n_months // 2 else "v2"
            lam = np.exp(beta0 + u_month[mth] + u_version[ver])
            rows.append(("tl", f"m{mth:02d}", ver, float(rng.poisson(lam))))
    df = spark.createDataFrame(rows, "grp string, month string, version string, y double")
    fit = glmm_random_intercepts(
        df, ["grp"], "y", ["month", "version"], family="poisson"
    ).collect()
    fixed = [r for r in fit if r.kind == "fixed"][0]
    var = {r.term: r.estimate for r in fit if r.kind == "variance"}
    assert abs(fixed.estimate - beta0) < 0.5
    assert 0.49 * 0.4 < var["month"] < 0.49 * 2.2  # sigma^2 = 0.49
    blups = {r.level: r.estimate for r in fit if r.kind == "blup" and r.term == "month"}
    est = np.array([blups[f"m{m:02d}"] for m in range(n_months)])
    assert np.corrcoef(est, u_month)[0, 1] > 0.9
    # output is complete: one blup per level of each factor
    assert sum(1 for r in fit if r.kind == "blup") == n_months + 2


def test_zero_inflated_glmm_recovers_mixture(spark):
    """Simulate zero-inflated poisson (structural-zero prob 0.3, count
    intercept 2.0 with month random effects): the ZI fit must (a) recover
    the count intercept that a plain poisson fit underestimates, and (b)
    put the zi intercept near logit(0.3)."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.operators.estimate import (
        glmm_random_intercepts,
    )

    rng = np.random.RandomState(11)
    beta0, pi0 = 2.0, 0.3
    u_month = rng.normal(0.0, 0.5, 30)
    rows = []
    for mth in range(30):
        for _ in range(30):
            structural = rng.rand() < pi0
            lam = np.exp(beta0 + u_month[mth])
            yv = 0.0 if structural else float(rng.poisson(lam))
            rows.append(("tl", f"m{mth:02d}", yv))
    df = spark.createDataFrame(rows, "grp string, month string, y double")
    fit = glmm_random_intercepts(
        df, ["grp"], "y", ["month"], family="poisson", zero_inflated=True
    ).collect()
    est = {(r.kind, r.term): r.estimate for r in fit}
    assert abs(est[("fixed", "intercept")] - beta0) < 0.35
    zi_logit = est[("zi_fixed", "intercept")]
    pi_hat = 1.0 / (1.0 + np.exp(-zi_logit))
    assert 0.15 < pi_hat < 0.45
    # the plain fit (no zi) must be visibly biased DOWN vs the zi fit
    plain = {
        (r.kind, r.term): r.estimate
        for r in glmm_random_intercepts(
            df, ["grp"], "y", ["month"], family="poisson"
        ).collect()
    }
    assert plain[("fixed", "intercept")] < est[("fixed", "intercept")] - 0.15


def test_glm_per_group_families_recover_exact_fit(spark):
    import math

    from peskas_timor_data_pipeline_spark.operators.estimate import glm_per_group

    # y lies exactly on exp(1 + 0.5x): IRLS must recover the coefficients
    # for BOTH families (weights differ, fixed point is identical)
    rows = [("g", float(x), math.exp(1.0 + 0.5 * x)) for x in range(8)]
    df = spark.createDataFrame(rows, "grp string, x double, y double")
    for fam in ("poisson", "gamma"):
        out = {
            r.term: r.coef
            for r in glm_per_group(df, ["grp"], "y", ["x"], family=fam).collect()
        }
        assert abs(out["intercept"] - 1.0) < 1e-6, fam
        assert abs(out["x"] - 0.5) < 1e-6, fam


def test_impute_pmm_draws_only_observed_values(spark):
    """PMM's defining property: every replicate imputes a genuinely
    observed donor value, so the fill equals the md5-replayed mean of
    draws from the 5-nearest-predicted-mean pool; single-donor series
    collapse to that donor; donor-less series stay null."""
    import hashlib

    from peskas_timor_data_pipeline_spark.operators.estimate import (
        impute_pmm_replicates,
    )

    rows = [
        ("A", "p0", 0, 10), ("A", "p1", 1, 20), ("A", "p2", 2, 30),
        ("A", "p3", 3, None), ("A", "p4", 4, 50), ("A", "p5", 5, 60),
        ("B", "p0", 0, 7), ("B", "p1", 1, None),
        ("C", "p0", 0, None),
    ]
    df = spark.createDataFrame(rows, "k string, ord string, x int, v int")
    out = {(r.k, r.ord): r for r in impute_pmm_replicates(
        df, ["k"], "ord", "x", "v", m=5, donors=5, seed=666).collect()}

    # A/p3: positive slope -> ranking by |dx| with earlier-period tiebreak:
    # pool = [v(x=2), v(x=4), v(x=1), v(x=5), v(x=0)]
    pool = [30, 50, 20, 60, 10]
    ik = "\x1f".join(["666", "A", "p3"])
    picks = [
        pool[int(hashlib.md5(f"{ik}#{r}".encode()).hexdigest()[:12], 16) % 5]
        for r in range(5)
    ]
    assert out[("A", "p3")].v == sum(picks) / 5.0
    assert out[("A", "p3")].is_imputed
    assert all(p in pool for p in picks)
    # observed rows unchanged (as double), not flagged
    assert out[("A", "p2")].v == 30.0 and not out[("A", "p2")].is_imputed
    # single observed donor: every draw returns it
    assert out[("B", "p1")].v == 7.0
    # no donors at all: stays null but flagged
    assert out[("C", "p0")].v is None and out[("C", "p0")].is_imputed


def test_fill_missing_regions(spark):
    """The imei->modal-municipality fill (R/estimate-catch.R:561-581):
    NULL regions inherit the boat tracker's most frequent labelled region;
    ties break on region name; null-imei trips and imeis with no labelled
    trip anywhere stay NULL."""
    from peskas_timor_data_pipeline_spark.pipeline.estimate_pipeline import (
        fill_missing_regions,
    )

    rows = [
        # imei 100: Dili twice, Baucau once -> modal is Dili
        (1, 100, "Dili"),
        (2, 100, "Dili"),
        (3, 100, "Baucau"),
        (4, 100, None),          # filled with Dili
        # imei 200: tie Aileu/Baucau -> alphabetical first (Aileu)
        (5, 200, "Baucau"),
        (6, 200, "Aileu"),
        (7, 200, None),          # filled with Aileu
        # imei 300: never labelled -> stays NULL
        (8, 300, None),
        # no tracker at all -> stays NULL
        (9, None, None),
    ]
    trips = spark.createDataFrame(
        rows, "landing_id int, tracker_imei int, region string"
    )
    out = {r.landing_id: r.region for r in fill_missing_regions(trips).collect()}
    assert out == {
        1: "Dili", 2: "Dili", 3: "Baucau", 4: "Dili",
        5: "Baucau", 6: "Aileu", 7: "Aileu",
        8: None, 9: None,
    }
    # labelled rows are never overwritten and row count is preserved
    assert len(out) == len(rows)


_cell = st.one_of(st.none(), st.integers(min_value=-50, max_value=50))


@seed(20261018)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(series=st.lists(st.lists(st.tuples(_cell, _cell, _cell), min_size=1, max_size=7),
                       min_size=1, max_size=3))
@example(series=[
    # head, middle and tail gaps in every column; an all-null column
    [(None, None, None), (1, 4, None), (None, None, None),
     (None, 10, None), (7, None, None), (None, None, None)],
    [(3, None, 5), (None, 2, None)],
])
def test_interpolate_many_columns_equals_chained_calls(spark, series):
    """Filling several columns from one projection gives exactly the
    frame that chained single-column calls give, ``is_imputed`` (the
    last column's flag) and column order included."""
    from peskas_timor_data_pipeline_spark.operators.interpolate import (
        interpolate_linear,
    )

    rows = [
        (k, t, *(None if v is None else float(v) for v in vals))
        for k, s in enumerate(series) for t, vals in enumerate(s)
    ]
    df = spark.createDataFrame(rows, "k int, t int, a double, b double, c double")
    chained = df
    for col in ("a", "b", "c"):
        chained = interpolate_linear(chained, ["k"], "t", col)
    multi = interpolate_linear(df, ["k"], "t", ["a", "b", "c"])
    assert multi.columns == chained.columns == ["k", "t", "a", "b", "c", "is_imputed"]
    assert sorted(multi.collect()) == sorted(chained.collect())
