"""Unit checks for the r11 data_report.Rmd frame twins (pipeline/report.py:
catch_use_share, regional_mix, survey_activity, fisher_mix) — the
fixture-level behaviors the registry oracles can't isolate: grid
completion semantics, the Rmd's null filters, and deterministic firsts."""

import pytest


def test_catch_use_share_unit_granularity_and_drop(spark):
    """The observation unit is a (landing, taxon) pair: repeated rows in
    one unit count once, the deterministic first use is the min, null
    catches drop the row pre-rollup, and drop_taxa removes units AFTER
    the rollup (the Rmd's filter order)."""
    from peskas_timor_data_pipeline_spark.pipeline.report import (
        catch_use_share,
    )

    rows = [
        # landing 1, taxon A: two rows, uses differ -> one unit, min use
        (1, "A", "A", "sale", 2.0),
        (1, "A", "A", "food", 3.0),
        # landing 1, taxon B: null catch only -> unit never forms
        (1, "B", "B", "food", None),
        # landing 2, taxon A
        (2, "A", "A", "sale", 1.0),
        # placeholder taxon '0' is dropped after rollup
        (2, "0", "0", "food", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "landing long, taxon string, key string, use string, catch double"
    )
    out = {
        (r.key, r.catch_use): r
        for r in catch_use_share(
            df, "landing", "taxon", "key", "use", "catch"
        ).collect()
    }
    assert set(out) == {("A", "food"), ("A", "sale")}
    assert out[("A", "food")].obs == 1 and out[("A", "sale")].obs == 1
    assert out[("A", "food")].tot_obs == 2
    assert out[("A", "food")].prop_obs == pytest.approx(0.5)


def test_regional_mix_completion_nulls_total(spark):
    """tidyr::complete + replace_na(list(n = 0)) semantics: created
    (key, dim) combinations get n = 0 but a NULL tot_obs; null keys and
    dims are dropped before counting."""
    from peskas_timor_data_pipeline_spark.pipeline.report import regional_mix

    rows = [("m1", "g1"), ("m1", "g1"), ("m1", "g2"), ("m2", "g1"),
            (None, "g2"), ("m2", None)]
    df = spark.createDataFrame(rows, "k string, d string")
    out = {(r.key, r.dim): r for r in regional_mix(df, "k", "d").collect()}
    assert set(out) == {("m1", "g1"), ("m1", "g2"), ("m2", "g1"), ("m2", "g2")}
    assert out[("m1", "g1")].n == 2 and out[("m1", "g1")].tot_obs == 3
    assert out[("m2", "g1")].n == 1 and out[("m2", "g1")].tot_obs == 1
    # grid-completed row: zero count, NULL total (faithful to the Rmd)
    assert out[("m2", "g2")].n == 0 and out[("m2", "g2")].tot_obs is None


def test_survey_activity_month_grid(spark):
    """Every non-null region gets a row for every month present anywhere
    in the data, 0-filled; null regions only contribute their dates to
    the month spine."""
    import datetime as dt

    from peskas_timor_data_pipeline_spark.pipeline.report import (
        survey_activity,
    )

    rows = [
        ("m1", dt.date(2024, 1, 5)),
        ("m1", dt.date(2024, 1, 20)),
        ("m2", dt.date(2024, 2, 3)),
        (None, dt.date(2024, 3, 1)),  # contributes the March spine slot
    ]
    df = spark.createDataFrame(rows, "region string, d date")
    out = {(r.region, str(r.month)): r.obs
           for r in survey_activity(df, "region", "d").collect()}
    assert len(out) == 2 * 3  # 2 regions x 3 months
    assert out[("m1", "2024-01-01")] == 2
    assert out[("m1", "2024-02-01")] == 0
    assert out[("m2", "2024-02-01")] == 1
    assert out[("m2", "2024-03-01")] == 0


def test_fisher_mix_rollup_filters_and_unpivot(spark):
    """Rows with any null fisher count or null habitat/gear drop before
    the landing rollup (the Rmd's dat filters); surviving landings take
    deterministic-first (min) values; the unpivot totals per cell."""
    from peskas_timor_data_pipeline_spark.pipeline.report import fisher_mix

    rows = [
        (1, "h1", "g1", 1, 2, 3),
        (1, "h2", "g1", 5, 5, 5),   # same landing: min habitat/counts win
        (2, "h1", "g1", 10, 0, 0),
        (3, "h1", "g1", None, 1, 1),  # null count -> row dropped
        (4, None, "g1", 1, 1, 1),     # null habitat -> dropped
    ]
    df = spark.createDataFrame(
        rows,
        "landing long, habitat string, gear string, "
        "a long, b long, c long",
    )
    out = {(r.habitat, r.gear, r.name): r.value
           for r in fisher_mix(df, "landing", "habitat", "gear",
                               ["a", "b", "c"]).collect()}
    # landing 1 rolls to (h1, g1, a=1, b=2, c=3); landing 2 adds (10, 0, 0)
    assert out[("h1", "g1", "a")] == 11
    assert out[("h1", "g1", "b")] == 2
    assert out[("h1", "g1", "c")] == 3
    assert len(out) == 3


def test_string_rank_dict_order_preserving(spark):
    """Ids must be dense 1..u in the column's own (binary) sort order —
    including empty strings and non-ASCII — so min(id) decodes to
    min(string) exactly."""
    from peskas_timor_data_pipeline_spark.pipeline.report import (
        string_rank_dict,
    )

    vals = ["b", "", "ăâ", "a", "B", "b", None, "z"]
    df = spark.createDataFrame([(v,) for v in vals], "c string")
    out = sorted(
        ((r.c, r["__rank_id__"]) for r in string_rank_dict(df, "c").collect()),
        key=lambda t: t[1],
    )
    got_vals = [v for v, _ in out]
    got_ids = [i for _, i in out]
    assert got_vals == sorted(set(v for v in vals if v is not None))
    assert got_ids == list(range(1, len(got_vals) + 1))


def test_rp3_launches_one_job_count(spark, sf_dir):
    """rp3's action launches the same jobs on every run: catch_composition
    broadcasts its grid join instead of leaving the join to adaptive
    execution, which picked it by which stage finished first."""
    import collections

    from peskas_timor_data_pipeline_spark import obs
    from peskas_timor_data_pipeline_spark.harness import registry

    fn = registry()["rp3_catch_composition"][0]
    counts = collections.Counter()
    for _ in range(20):
        df = fn(spark, sf_dir)
        before = obs.cursor(spark)[0]
        df.write.mode("overwrite").format("noop").save()
        counts[obs.cursor(spark)[0] - before] += 1
    assert len(counts) == 1, counts
