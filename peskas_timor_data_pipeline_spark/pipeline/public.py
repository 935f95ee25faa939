"""Public-data formatting (SURVEY.md §3.3 step 2, A14/A15).

format_public_data re-expressed: anonymized ids, period binning at
day/week(Sunday)/month/year, multi-source matched-count joins, nutrient
RDI normalization and unpivot (R/format-public-data.R:27-284,363-457,
597-696)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.functions.datetime_fns import floor_date
from peskas_timor_data_pipeline_spark.functions.hashing import anonymized_id
from peskas_timor_data_pipeline_spark.operators.restructure import pivot_longer

# Recommended daily intakes for supply normalization (inst/conf.yml:86-95)
RDI = {
    "Selenium_mu": 0.000055,
    "Zinc_mu": 0.011,
    "Protein_mu": 50.0,
    "Omega_3_mu": 1.6,
    "Calcium_mu": 1.0,
    "Iron_mu": 0.018,
    "Vitamin_A_mu": 0.0009,
}


def anonymize_trips(merged: DataFrame) -> DataFrame:
    """Replace (landing_id, tracker_trip_id) with an md5 trip hash
    (R/format-public-data.R:310-319); uniqueness is asserted by tests,
    mirroring inst/tinytest/test_public_data.R:11-14."""
    return merged.withColumn(
        "trip_id",
        anonymized_id(F.col("landing_id"), F.col("tracker_trip_id")),
    )


def periodic_summary(
    df: DataFrame, date_col: str, unit: str, aggs: list, keys: list[str] | None = None
) -> DataFrame:
    """One aggregation per period bin at the requested unit
    (day/week(Sunday-start)/month/year, R/format-public-data.R:363-393)."""
    bin_col = floor_date(F.col(date_col), unit).alias("period")
    return df.groupBy(bin_col, *(keys or [])).agg(*aggs)


def nutrient_supply(
    catches: DataFrame, nutrients_dim: DataFrame, unit_days: float = 30.0
) -> DataFrame:
    """catch (kg) x per-kg nutrient concentration -> people-equivalents of
    RDI per day, unpivoted to (nutrient, value)
    (R/format-public-data.R:597-696, RDI normalization :1177-1205)."""
    joined = catches.join(F.broadcast(nutrients_dim), "species", "left")
    # products and RDI scaling inside the one aggregate, scaled in the
    # fixed order ((sum * 1000) / unit_days) / rdi
    per_period = joined.groupBy("period").agg(*[
        (F.sum(F.col(c) * F.col("catch_kg")) * 1000.0 / unit_days / F.lit(rdi)).alias(c)
        for c, rdi in RDI.items()
    ])
    return pivot_longer(per_period, ["period"], list(RDI), "nutrient", "people_rdi")
