"""Fishery-indicator estimation (SURVEY.md §3.3 step 1).

`estimate_fishery_indicators` re-expressed as one lazy plan over ALL
regions at once — the reference maps an R function over municipalities
serially (R/estimate-catch.R:24-60); in Spark the region is just another
group key, so the "embarrassingly parallel" loop disappears into the
shuffle.

Steps: imei->modal-region fill on merged trips (fill_missing_regions,
R/estimate-catch.R:561-581) -> per (region, month) trip aggregates ->
month-spine completion ->
linear-interpolation imputation (M7 replaces Amelia; deterministic) ->
catch = landing_catch x n_landings_per_boat x n_boats -> national rollup
(mean of municipal means / sum of sums, A13, R/estimate-catch.R:487-532).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.operators.interpolate import interpolate_linear
from peskas_timor_data_pipeline_spark.operators.windows import mode_per_group


def fill_missing_regions(
    trips: DataFrame,
    region_col: str = "region",
    imei_col: str = "tracker_imei",
) -> DataFrame:
    """Fill NULL regions from the boat tracker's modal region —
    `fill_missing_regions` (R/estimate-catch.R:561-581, applied to merged
    trips at R/estimate-catch.R:30 and R/format-public-data.R:34): a boat
    whose trips usually land in one municipality almost certainly landed
    its unlabelled trips there too.

    Composition of two green operators: A5 `mode_per_group` (most
    frequent non-null region per imei, ties broken by region name — the
    reference's count() emits groups region-ascending so `first()` after
    a stable desc-n arrange resolves ties the same way) and the J4
    join+coalesce. The reference full-joins; every imei in the fill dim
    comes FROM trips, so no right-only rows can exist and a left join is
    plan-identical — broadcast-able, since the dim is bounded by the
    fleet size (thousands of imeis), never by trip count.

    Trips with a NULL imei, or whose imei has no labelled trip anywhere,
    keep their NULL region (same as the reference)."""
    imei_regions = mode_per_group(
        trips.filter(
            F.col(imei_col).isNotNull() & F.col(region_col).isNotNull()
        ),
        [imei_col],
        region_col,
        out_col="__region_fill__",
    )
    return (
        trips.join(F.broadcast(imei_regions), imei_col, "left")
        .withColumn(
            region_col, F.coalesce(F.col(region_col), F.col("__region_fill__"))
        )
        .drop("__region_fill__")
    )


def monthly_indicators(trips: DataFrame) -> DataFrame:
    """Per (region, landing_period): n landings per boat, mean catch, mean
    price (estimate_landings/_value/_catch, R/estimate-catch.R:62-106,
    259-304). Input: merged trips with region, boat id, catch, price."""
    monthly = trips.groupBy(
        "region", F.trunc(F.to_date("landing_date"), "month").alias("landing_period")
    ).agg(
        F.countDistinct("landing_id").alias("n_landings"),
        F.countDistinct("boat_id").alias("n_boats_seen"),
        F.avg("landing_catch").alias("landing_catch"),
        F.avg("catch_price").alias("catch_price"),
    )
    return monthly.withColumn(
        "n_landings_per_boat", F.col("n_landings") / F.col("n_boats_seen")
    )


def complete_and_impute(monthly: DataFrame, spine: DataFrame) -> DataFrame:
    """Right-join every region onto the month spine (W4) and fill gaps by
    linear interpolation (M7 — the deterministic replacement for the
    Amelia/mice draw, whose replicates collapse to the mean anyway)."""
    regions = monthly.select("region").distinct()
    full = regions.crossJoin(spine).join(
        monthly, ["region", "landing_period"], "left"
    )
    # is_imputed flags catch_price, the last column
    return interpolate_linear(
        full, ["region"], "landing_period",
        ["n_landings_per_boat", "landing_catch", "catch_price"],
    )


def scale_to_fleet(imputed: DataFrame, boats_dim: DataFrame) -> DataFrame:
    """catch = landing_catch x n_landings_per_boat x n_boats
    (R/estimate-catch.R:408-430); boats dim from registered_boats
    (R/preprocess-metadata-tables.R:317-337), broadcast."""
    joined = imputed.join(F.broadcast(boats_dim), "region", "left")
    return joined.withColumn(
        "catch",
        F.col("landing_catch") * F.col("n_landings_per_boat") * F.col("n_boats"),
    ).withColumn(
        "revenue",
        F.col("catch_price") * F.col("n_landings_per_boat") * F.col("n_boats"),
    )


def national_rollup(municipal: DataFrame) -> DataFrame:
    """Explicit two-level rollup (A13): national = re-aggregation of
    municipal estimates — mean of means, sum of sums, median of medians,
    exactly as the reference does (NOT a grouping-sets shortcut, to
    preserve its semantics)."""
    return municipal.groupBy("landing_period").agg(
        F.sum("catch").alias("catch"),
        F.sum("revenue").alias("revenue"),
        F.avg("n_landings_per_boat").alias("n_landings_per_boat"),
        F.median("catch_price").alias("catch_price"),
        F.count(F.lit(1)).alias("n_regions"),
    )
