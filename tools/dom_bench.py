"""Domain-DAG scale rehearsal (VERDICT r07 #5): the peskas chain
landings -> weights -> validate -> merge -> estimate -> public run end to
end at 1x and 10x synthetic scale with engine-accounted per-stage metrics
(the same status-store stage accounting corpus_bench.py uses).

The reference splits this workload by hand to fit R's memory
(R/preprocess-landings.R:105-110); this rehearsal is the proof that the
Spark expression needs no such split: every stage is one lazy plan between
versioned parquet boundaries, driver-side state stays KB-sized, and the
10x run's wall/shuffle grow sublinearly-to-linearly with the data.

Synthetic data is deterministic (md5-keyed jitter, no rand()): n_boats
boats x 120 days of PDS tracker trips (with planted consecutive-trip
merges, over-duration and over-distance alert cases) and landings (two
species per landing, 5-cm length classes, ~1/17 boats with NULL
municipality to exercise the imei->modal-region fill).

Usage: python tools/dom_bench.py [--out DOMBENCH_r08.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from corpus_bench import _window  # noqa: E402

from peskas_timor_data_pipeline_spark import obs  # noqa: E402

MUNIS = ["Dili", "Baucau", "Bobonaro", "Covalima", "Lautem", "Liquica",
         "Manatuto", "Manufahi", "Oecusse", "Viqueque", "Aileu", "Ainaro"]
SPECIES = ["GZP", "FLY", "CGX", "EMP", "CLP", "SNA", "TUN", "MAC"]


def _h(prefix: str, *cols):
    """Deterministic 0..999999 integer from md5 of the keyed columns."""
    from pyspark.sql import functions as F

    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.lit(prefix), *cols)), 1, 8
            ),
            16, 10,
        ).cast("long") % 1000000
    )


def synth_trips(spark, n_boats: int, days: int = 120):
    """Raw PDS trips: 1 trip/boat/day plus a close follow-up trip for
    boats % 5 == 0 (exercises consecutive-trip merging); boats % 23 == 0
    get an over-96h duration (alert 8), % 29 an over-200km distance
    (alert 9)."""
    from pyspark.sql import functions as F

    base = (
        spark.range(n_boats)
        .select(F.col("id").alias("boat"))
        .select(
            "boat",
            F.explode(F.sequence(F.lit(0), F.lit(days - 1))).alias("d"),
        )
        .select(
            "boat", "d",
            F.explode(
                F.when(F.col("boat") % 5 == 0, F.array(F.lit(0), F.lit(1)))
                .otherwise(F.array(F.lit(0)))
            ).alias("leg"),
        )
    )
    r = _h("trip", "boat", "d", "leg")
    day0 = F.to_timestamp(F.lit("2023-01-01 00:00:00"))
    start_s = (
        F.col("d") * 86400
        + F.lit(5 * 3600)
        + F.col("leg") * F.lit(8 * 3600)
        + (r % 3600)
    )
    dur = (
        F.when(F.col("boat") % 23 == 0, F.lit(100 * 3600.0))
        .otherwise(F.lit(3 * 3600.0) + (r % 7200).cast("double"))
    )
    dist = (
        F.when(F.col("boat") % 29 == 0, F.lit(250000.0))
        .otherwise(F.lit(3000.0) + (r % 5000).cast("double"))
    )
    lat = F.lit(-8.5) - (r % 200).cast("double") / 1000.0
    lng = F.lit(125.5) + (r % 300).cast("double") / 1000.0
    return base.select(
        (F.col("boat") * 100000 + F.col("d") * 10 + F.col("leg")).alias("trip"),
        F.timestamp_seconds(day0.cast("long") + start_s).alias("started"),
        F.timestamp_seconds(
            day0.cast("long") + start_s + dur.cast("long")
        ).alias("ended"),
        "boat",
        dur.alias("duration_s"),
        (dist / 4).alias("range_m"),
        dist.alias("distance_m"),
        F.concat(F.lit("86"), F.lpad(F.col("boat").cast("string"), 8, "0")
                 ).alias("imei"),
        F.concat(F.lit("dev"), F.col("boat").cast("string")).alias("device_id"),
        F.lit(None).cast("timestamp").alias("last_seen"),
        lat.alias("start_lat"),
        lng.alias("start_lng"),
        (lat - 0.001).alias("end_lat"),
        (lng + 0.001).alias("end_lng"),
    )


def synth_landings(spark, n_boats: int, days: int = 120):
    """Nested landings: one per (boat, day) except r%3==0, two species
    with one 5-cm length class each; boats % 17 == 0 land with NULL
    municipality (the fill_missing_regions case)."""
    from pyspark.sql import functions as F

    base = (
        spark.range(n_boats)
        .select(F.col("id").alias("boat"))
        .select(
            "boat",
            F.explode(F.sequence(F.lit(0), F.lit(days - 1))).alias("d"),
        )
    )
    r = _h("land", "boat", "d")
    muni = F.element_at(
        F.array(*[F.lit(m) for m in MUNIS]),
        (F.col("boat") % 12 + 1).cast("int"),
    )
    sp = F.array(*[F.lit(s) for s in SPECIES])
    sp1 = F.element_at(sp, (r % 8 + 1).cast("int"))
    sp2 = F.element_at(sp, ((r + 3) % 8 + 1).cast("int"))
    length1 = ((r % 8) * 5 + 10).cast("double")
    length2 = (((r / 7).cast("long") % 8) * 5 + 15).cast("double")

    def species(code, length, n):
        return F.struct(
            code.alias("catch_taxon"),
            n.cast("int").alias("n"),
            F.array(
                F.struct(
                    length.alias("length"),
                    (n % 5 + 1).cast("int").alias("n_individuals"),
                )
            ).alias("length_individuals"),
        )

    return base.filter(r % 3 != 0).select(
        (F.col("boat") * 100000 + F.col("d")).alias("landing_id"),
        F.date_add(F.lit("2023-01-01").cast("date"), F.col("d").cast("int")
                   ).alias("landing_date"),
        F.when(F.col("boat") % 13 != 0,
               F.concat(F.lit("86"),
                        F.lpad(F.col("boat").cast("string"), 8, "0"))
               ).alias("tracker_imei"),
        F.when(F.col("boat") % 17 != 0, muni).alias("municipality"),
        F.array(
            species(sp1, length1, r % 9 + 1),
            species(sp2, length2, (r + 2) % 9 + 1),
        ).alias("species_group"),
    )


def synth_params(spark):
    """Length-weight parameter dim: 5 (a, b) rows per species code."""
    from pyspark.sql import functions as F

    return (
        spark.range(len(SPECIES) * 5)
        .select(
            F.element_at(
                F.array(*[F.lit(s) for s in SPECIES]),
                (F.col("id") % 8 + 1).cast("int"),
            ).alias("catch_taxon"),
            (F.lit(0.01) + (F.col("id") % 5).cast("double") / 500.0).alias("a"),
            (F.lit(2.9) + (F.col("id") % 7).cast("double") / 35.0).alias("b"),
        )
    )


def synth_nutrients(spark):
    from pyspark.sql import functions as F

    from peskas_timor_data_pipeline_spark.pipeline.public import RDI

    rows = spark.range(len(SPECIES)).select(
        F.element_at(
            F.array(*[F.lit(s) for s in SPECIES]),
            (F.col("id") + 1).cast("int"),
        ).alias("species"),
        *[
            ((F.col("id") % 5 + 1).cast("double") / (200.0 + 40 * i)).alias(c)
            for i, c in enumerate(RDI)
        ],
    )
    return rows


def run_scale(spark, label: str, n_boats: int, workdir: str) -> dict:
    from pyspark.sql import functions as F

    from peskas_timor_data_pipeline_spark.operators.weights import (
        estimate_weights,
    )
    from peskas_timor_data_pipeline_spark.operators.windows import month_spine
    from peskas_timor_data_pipeline_spark.pipeline.estimate_pipeline import (
        complete_and_impute,
        fill_missing_regions,
        monthly_indicators,
        national_rollup,
        scale_to_fleet,
    )
    from peskas_timor_data_pipeline_spark.pipeline.landings import (
        unnest_catches,
    )
    from peskas_timor_data_pipeline_spark.pipeline.public import (
        anonymize_trips,
        nutrient_supply,
        periodic_summary,
    )
    from peskas_timor_data_pipeline_spark.pipeline.trips import (
        merge_consecutive_trips,
        merge_trips,
        validate_trips,
    )
    from peskas_timor_data_pipeline_spark.plans.runner import Pipeline
    from peskas_timor_data_pipeline_spark.sources.io import write_stage

    if os.path.exists(workdir):
        shutil.rmtree(workdir)
    os.makedirs(workdir)

    # ingest (generation cost excluded from stage metrics: synthetic)
    write_stage(synth_trips(spark, n_boats), workdir, "raw_trips")
    write_stage(synth_landings(spark, n_boats), workdir, "raw_landings")
    write_stage(synth_params(spark), workdir, "lw_params")
    write_stage(synth_nutrients(spark), workdir, "nutrients_dim")

    pipe = Pipeline(spark, workdir)

    @pipe.stage("validated_trips", inputs=["raw_trips"])
    def validated_trips(spark, raw_trips):
        return validate_trips(merge_consecutive_trips(raw_trips))

    @pipe.stage("weighted_landings", inputs=["raw_landings", "lw_params"])
    def weighted_landings(spark, raw_landings, lw_params):
        catches = unnest_catches(
            raw_landings,
            ["landing_id", "landing_date", "tracker_imei", "municipality"],
        )
        w = estimate_weights(
            catches, lw_params, "catch_taxon", "length", "n_individuals",
            ["landing_id", "catch_taxon"],
        )
        per_landing = w.groupBy("landing_id").agg(
            (F.sum("weight") / 1000.0).alias("landing_catch"),
            (F.sum("weight") / 1000.0 * 4.5).alias("catch_price"),
        )
        heads = raw_landings.select(
            "landing_id", "landing_date", "tracker_imei", "municipality"
        )
        return heads.join(per_landing, "landing_id", "left")

    @pipe.stage("merged_trips", inputs=["weighted_landings", "validated_trips"])
    def merged_trips(spark, weighted_landings, validated_trips):
        return merge_trips(weighted_landings, validated_trips)

    @pipe.stage("estimated", inputs=["merged_trips"])
    def estimated(spark, merged_trips):
        trips = fill_missing_regions(
            merged_trips, region_col="municipality", imei_col="tracker_imei"
        ).select(
            F.col("municipality").alias("region"),
            "landing_date", "landing_id",
            F.col("tracker_imei").alias("boat_id"),
            "landing_catch", "catch_price",
        ).filter(F.col("region").isNotNull())
        monthly = monthly_indicators(trips)
        spine = month_spine(spark, "2023-01-01", "2023-04-01")
        imputed = complete_and_impute(monthly, spine)
        boats_dim = trips.groupBy("region").agg(
            F.countDistinct("boat_id").alias("n_boats")
        )
        municipal = scale_to_fleet(imputed, boats_dim)
        return national_rollup(municipal)

    @pipe.stage("public_summary", inputs=["merged_trips"])
    def public_summary(spark, merged_trips):
        anon = anonymize_trips(
            merged_trips.withColumn(
                "tracker_trip_id", F.col("tracker_trip_id").cast("string")
            )
        )
        return periodic_summary(
            anon.filter(F.col("landing_catch").isNotNull()),
            "landing_date", "month",
            [F.sum("landing_catch").alias("catch_kg"),
             F.count(F.lit(1)).alias("n_landings")],
        )

    @pipe.stage("public_nutrients", inputs=["raw_landings", "lw_params",
                                            "nutrients_dim"])
    def public_nutrients(spark, raw_landings, lw_params, nutrients_dim):
        catches = unnest_catches(
            raw_landings, ["landing_id", "landing_date"]
        )
        w = estimate_weights(
            catches, lw_params, "catch_taxon", "length", "n_individuals",
            ["landing_id", "landing_date", "catch_taxon"],
        )
        per = w.groupBy(
            F.trunc("landing_date", "month").alias("period"),
            F.col("catch_taxon").alias("species"),
        ).agg((F.sum("weight") / 1000.0).alias("catch_kg"))
        return nutrient_supply(per, nutrients_dim)

    per_stage = {}
    t_all = time.time()
    for st in ("validated_trips", "weighted_landings", "merged_trips",
               "estimated", "public_summary", "public_nutrients"):
        start = obs.cursor(spark)
        t0 = time.time()
        pipe.run(only={st})
        per_stage[st] = {
            "wall_s": round(time.time() - t0, 2),
            **_window(spark, start),
        }
    total = round(time.time() - t_all, 2)

    from peskas_timor_data_pipeline_spark.sources.io import read_stage
    rows = {
        st: read_stage(spark, workdir, st).count()
        for st in ("validated_trips", "weighted_landings", "merged_trips",
                   "estimated", "public_summary", "public_nutrients")
    }
    return {"label": label, "n_boats": n_boats, "total_wall_s": total,
            "rows": rows, "stages": per_stage}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="DOMBENCH_r08.json")
    ap.add_argument("--boats", type=int, default=1500)
    args = ap.parse_args()

    from peskas_timor_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="dom-bench")
    spark.sparkContext.setLogLevel("ERROR")
    base = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "spark-warehouse", "dombench")
    os.makedirs(base, exist_ok=True)

    r1 = run_scale(spark, "1x", args.boats, os.path.join(base, "art_1x"))
    r10 = run_scale(spark, "10x", args.boats * 10,
                    os.path.join(base, "art_10x"))

    def tot(r, k):
        return sum(s.get(k, 0) for s in r["stages"].values())

    result = {
        "runs": [r1, r10],
        "wall_ratio_10x_over_1x": round(
            r10["total_wall_s"] / max(r1["total_wall_s"], 0.01), 2),
        "shuffle_write_ratio_10x_over_1x": round(
            tot(r10, "shuffle_write") / max(tot(r1, "shuffle_write"), 1), 2),
        "max_collect_result_bytes": max(
            s.get("max_collect_result_bytes", 0)
            for r in (r1, r10) for s in r["stages"].values()),
        "notes": (
            "peskas domain DAG (trips sessionize+validate, landings "
            "unnest+length-weight, 1:1-per-day merge, imei->modal-region "
            "fill, monthly estimate + spine + interpolation + fleet "
            "scaling + national rollup, public summaries + nutrients) on "
            "deterministic synthetic data; per-stage status-store stage "
            "accounting between versioned parquet boundaries. The "
            "reference splits landings preprocessing by hand to fit R "
            "memory (R/preprocess-landings.R:105-110) - this chain needs "
            "no split and its driver-side state stays KB-sized."
        ),
    }
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "runs"}))
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
