"""The benchmark's workloads. Each one is a closed loop with one client:
``setup`` makes the inputs and runs one untimed pass, ``round`` runs one
unit of timed work back to back and returns its operations, ``check``
compares outputs against their pins outside the timed phase.

An operation is a query execution (query_mix) or a stage run or refresh
pass (domain_dag). It fails if it raises or if its output misses its pin.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import gen

# sorted(registry())[3::8] is a 35-query mix sized for sf0.1; every
# other query of its every-third subset (sorted(registry())[3::48]) keeps
# one untimed pass plus the timed rounds inside the per-run budget, and
# still holds a query that cuts lineage through llm.ckpt (d18).
# Listed by name so that new registry queries do not change the workload.
QUERY_MIX = (
    "a12_two_level_nest", "d18_bbit_minhash", "e9_silhouette",
    "m3_ols_cooks", "rp3_catch_composition", "ts1_subsequence_search",
)

DOMAIN_STAGES = ("validated_trips", "weighted_landings", "merged_trips",
                 "estimated", "public_summary", "public_nutrients")
DOMAIN_PINNED = ("estimated", "public_summary", "public_nutrients")

# Recommended daily intakes the published nutrient supply is normalised by
# (the reference's inst/conf.yml), kept here so the oracle below does not
# read them from the package it checks.
RDI = {
    "Selenium_mu": 0.000055,
    "Zinc_mu": 0.011,
    "Protein_mu": 50.0,
    "Omega_3_mu": 1.6,
    "Calcium_mu": 1.0,
    "Iron_mu": 0.018,
    "Vitamin_A_mu": 0.0009,
}


# -- output pins (same canonical form and hash as tools/selfcheck.py) ------

def canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return canon(float(v))
    except ImportError:
        pass
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _digest(cols: list[str], rows: list[tuple]) -> tuple:
    return tuple(sorted(cols)), len(rows), value_hash(cols, rows)


def _fail(what: str) -> None:
    print(f"# FAIL {what}\n{traceback.format_exc()}", file=sys.stderr)


class QueryMix:
    """Registry queries on seeded TPC-H-ish tables; per-query fixed cost
    (py4j plan build, hidden eager jobs, planning, job launch) dominates."""

    # two rounds give each query a median of two samples; with one round
    # the spreads over ten runs reached 0.25-0.33
    min_rounds = 2

    def __init__(self, spark, tracer, work_dir: str, seed: int, sf: float):
        self.spark, self.tracer, self.seed, self.sf = spark, tracer, seed, sf
        self.data = os.path.join(work_dir, "tables")
        self.queries = QUERY_MIX
        # query -> (sorted column names, row count, value hash)
        self.got: dict[str, tuple] = {}
        self.expected: dict[str, tuple] = {}

    def setup(self) -> None:
        """Write the tables, then one untimed pass over every query that
        collects its rows (absorbing first-run codegen), and run each
        query's DuckDB oracle twin on the same tables. The pass runs the
        queries on ``nproc`` threads: it only has to compile and collect,
        and a serial pass would take most of the run budget."""
        import duckdb

        from peskas_timor_data_pipeline_spark.harness import registry

        gen.write_tables(self.data, self.sf, self.seed)
        reg = registry()
        self.fns = {q: reg[q] for q in self.queries}

        def collect(q):
            try:
                sdf = self.fns[q][0](self.spark, self.data)
                return _digest(sdf.columns, [tuple(r) for r in sdf.collect()])
            except Exception:  # noqa: BLE001 - a raising query is a failed op
                _fail(f"pin {q}")
                return None

        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            self.got = dict(zip(self.queries, pool.map(collect, self.queries)))
        con = duckdb.connect()
        con.execute("SET threads=2")
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.data}/{t}.parquet'")
        self.expected = {}
        for q in self.queries:
            sql = self.fns[q][1]
            if sql is None:
                print(f"# FAIL pin {q}: no oracle twin", file=sys.stderr)
                continue
            try:
                res = con.execute(sql)
                self.expected[q] = _digest([d[0] for d in res.description],
                                           res.fetchall())
            except duckdb.Error:
                _fail(f"oracle {q}")
        con.close()

    def round(self) -> list[tuple[str, float, bool]]:
        tr, ops = self.tracer, []
        for q in self.queries:
            fn = self.fns[q][0]
            t0 = time.perf_counter()
            try:
                with tr.span("harness.build", engine=True):
                    df = fn(self.spark, self.data)
                if tr.enabled:
                    with tr.span("harness.plan", engine=True):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("harness.action", engine=True):
                    df.write.mode("overwrite").format("noop").save()
                ok = True
            except Exception:  # noqa: BLE001
                _fail(q)
                ok = False
            ops.append((q, time.perf_counter() - t0, ok))
        return ops

    def check(self) -> list[bool]:
        """Each query's Spark rows against its oracle's: column names, row
        count and value hash."""
        results = []
        for q in self.queries:
            got, want = self.got.get(q), self.expected.get(q)
            ok = got is not None and got == want
            if not ok:
                print(f"# FAIL pin {q}: spark={got} oracle={want}",
                      file=sys.stderr)
            results.append(ok)
        return results


class DomainDag:
    """The peskas chain (trips sessionize + validate, landings unnest +
    length-weight, merge, estimate, public summaries) through
    ``plans.runner``: full passes that write every artifact, each followed
    by an incremental refresh after a new ``nutrients_dim`` version."""

    # the run reports the median of two rounds (a full pass plus a refresh
    # each); one round left run_s a single raw sample
    min_rounds = 2

    def __init__(self, spark, tracer, work_dir: str, seed: int,
                 n_boats: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.n_boats = n_boats
        self.art = os.path.join(work_dir, "artifacts")
        self.version = 0
        self.fn_calls = 0
        # input name -> path of its first write; nutrients_dim per version
        self.inputs: dict[str, str] = {}
        # (stage, artifact path, nutrients version) per pinned write
        self.outputs: list[tuple[str, str, int]] = []

    def _write_input(self, df, name: str) -> None:
        from peskas_timor_data_pipeline_spark.sources.io import write_stage

        with self.tracer.paused():
            path = write_stage(df, self.art, name)
        if name == "nutrients_dim":
            name = f"{name}.v{self.version}"
        self.inputs.setdefault(name, path)

    def setup(self) -> None:
        os.makedirs(self.art, exist_ok=True)
        s, n = self.spark, self.n_boats
        self._write_input(gen.synth_trips(s, n, self.seed), "raw_trips")
        self._write_input(gen.synth_landings(s, n, self.seed), "raw_landings")
        self._write_input(gen.synth_params(s), "lw_params")
        self._write_input(gen.synth_nutrients(s, self.version),
                          "nutrients_dim")
        self.pipe = self._pipeline()
        # untimed: one full pass absorbs first-run codegen; the refresh
        # reruns one of its stages and skips the rest
        self.warm_ops = [self._stage(st) for st in DOMAIN_STAGES]

    def _pipeline(self):
        from pyspark.sql import functions as F

        from peskas_timor_data_pipeline_spark.operators.weights import (
            estimate_weights,
        )
        from peskas_timor_data_pipeline_spark.operators.windows import (
            month_spine,
        )
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

        pipe = Pipeline(self.spark, self.art)
        wrap = self.tracer.wrap

        def stage(name, inputs):
            def deco(fn):
                def counted(*a, **kw):
                    self.fn_calls += 1
                    return fn(*a, **kw)
                return pipe.stage(name, inputs=inputs)(
                    wrap(counted, "plans.runner.fn"))
            return deco

        @stage("validated_trips", ["raw_trips"])
        def validated_trips(spark, raw_trips):
            return validate_trips(merge_consecutive_trips(raw_trips))

        @stage("weighted_landings", ["raw_landings", "lw_params"])
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

        @stage("merged_trips", ["weighted_landings", "validated_trips"])
        def merged_trips(spark, weighted_landings, validated_trips):
            return merge_trips(weighted_landings, validated_trips)

        @stage("estimated", ["merged_trips"])
        def estimated(spark, merged_trips):
            trips = fill_missing_regions(
                merged_trips, region_col="municipality",
                imei_col="tracker_imei",
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
            return national_rollup(scale_to_fleet(imputed, boats_dim))

        @stage("public_summary", ["merged_trips"])
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

        @stage("public_nutrients", ["raw_landings", "lw_params",
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

        return pipe

    def _keep(self, paths: dict[str, str]) -> None:
        """Record each newly written pinned artifact (a refresh returns the
        paths of the stages it skipped too)."""
        seen = {p for _st, p, _v in self.outputs}
        for st in DOMAIN_PINNED:
            if st in paths and paths[st] not in seen:
                self.outputs.append((st, paths[st], self.version))

    def _stage(self, st: str) -> tuple[str, float, bool]:
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"pipeline.domain.{st}", engine=True):
                self._keep(self.pipe.run(only={st}))
            ok = True
        except Exception:  # noqa: BLE001
            _fail(st)
            ok = False
        return st, time.perf_counter() - t0, ok

    def round(self) -> list[tuple[str, float, bool]]:
        tr = self.tracer
        ops = [self._stage(st) for st in DOMAIN_STAGES]
        self.version ^= 1
        self._write_input(gen.synth_nutrients(self.spark, self.version),
                          "nutrients_dim")
        t0, calls = time.perf_counter(), self.fn_calls
        try:
            with tr.span("refresh", engine=True):
                self._keep(self.pipe.run(incremental=True))
            ok = True
        except Exception:  # noqa: BLE001
            _fail("refresh")
            ok = False
        ops.append(("refresh", time.perf_counter() - t0, ok))
        tr.add("plans.runner.skipped",
               len(DOMAIN_STAGES) - (self.fn_calls - calls))
        return ops

    def check(self) -> list[bool]:
        """Every ``public_nutrients`` artifact matches a DuckDB recomputation
        from the generated inputs for its ``nutrients_dim`` version (a
        refresh that kept the stale output fails). Every ``estimated`` and
        ``public_summary`` artifact has rows and the same value hash as the
        first one written for its stage (they do not read the nutrients)."""
        results = [ok for *_x, ok in self.warm_ops]
        try:
            expected = {v: nutrient_oracle(
                self.inputs["raw_landings"], self.inputs["lw_params"],
                self.inputs[f"nutrients_dim.v{v}"]) for v in (0, 1)}
        except Exception:  # noqa: BLE001
            _fail("nutrient oracle")
            expected = {}
        first: dict[str, tuple[int, str]] = {}
        for st, path, ver in self.outputs:
            try:
                cols, rows = _read_artifact(path)
                if st == "public_nutrients":
                    ok = _close(_nutrient_rows(cols, rows), expected[ver])
                else:
                    got = (len(rows), value_hash(cols, rows))
                    ok = got[0] > 0 and first.setdefault(st, got) == got
            except Exception:  # noqa: BLE001
                _fail(f"pin {st} {path}")
                ok = False
            if not ok:
                print(f"# FAIL pin {st} v{ver}: {path}", file=sys.stderr)
            results.append(ok)
        return results


def _read_artifact(path: str) -> tuple[list[str], list[tuple]]:
    """An artifact's columns and rows, read without Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    return t.column_names, list(zip(*(c.to_pylist() for c in t.columns)))


def nutrient_oracle(landings: str, params: str, nutrients: str
                    ) -> dict[tuple[str, str], float]:
    """``public_nutrients`` recomputed in DuckDB from the input artifacts:
    unnest species and length classes, weight = 75th percentile of
    ``a * length^b`` over the species' parameter rows times the number of
    individuals, monthly catch per species, times the per-kg nutrient
    content, per month, as people-equivalents of the daily intake over a
    30-day month. Returns (month, nutrient) -> value."""
    import duckdb

    supply = ",\n".join(
        f"sum(n.{c} * p.catch_kg) * 1000.0 / 30.0 / {rdi!r} AS {c}"
        for c, rdi in RDI.items())
    sql = f"""
    WITH sp AS (
      SELECT landing_date, unnest(species_group) AS sp
      FROM read_parquet('{landings}/*.parquet')),
    li AS (
      SELECT landing_date, sp.catch_taxon AS taxon,
             unnest(sp.length_individuals) AS li FROM sp),
    c AS (
      SELECT landing_date, taxon, li.length AS len,
             li.n_individuals AS n FROM li),
    lw AS (
      SELECT catch_taxon AS taxon, a, b
      FROM read_parquet('{params}/*.parquet')),
    pw AS (
      SELECT d.taxon, d.len, quantile_cont(lw.a * pow(d.len, lw.b), 0.75) AS w
      FROM (SELECT DISTINCT taxon, len FROM c) d JOIN lw USING (taxon)
      GROUP BY d.taxon, d.len),
    p AS (
      SELECT CAST(date_trunc('month', c.landing_date) AS DATE) AS period,
             c.taxon AS species, sum(pw.w * c.n) / 1000.0 AS catch_kg
      FROM c JOIN pw USING (taxon, len) GROUP BY 1, 2)
    SELECT p.period, {supply}
    FROM p LEFT JOIN read_parquet('{nutrients}/*.parquet') n USING (species)
    GROUP BY p.period"""
    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return {(str(r[0]), c): v for r in res.fetchall()
                for c, v in zip(cols[1:], r[1:])}
    finally:
        con.close()


def _nutrient_rows(cols: list[str], rows: list[tuple]
                   ) -> dict[tuple[str, str], float]:
    i, j, k = (cols.index(c) for c in ("period", "nutrient", "people_rdi"))
    out = {(str(r[i]), r[j]): r[k] for r in rows}
    return out if len(out) == len(rows) else {}


def _close(got: dict, want: dict, rel: float = 1e-9) -> bool:
    """Same keys, values equal up to summation-order rounding."""
    return bool(want) and got.keys() == want.keys() and all(
        got[k] is not None and want[k] is not None
        and abs(got[k] - want[k]) <= rel * max(1.0, abs(want[k]))
        for k in want)
