"""Sources, artifact versioning, DAG runner, streaming ingestion."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark import obs
from peskas_timor_data_pipeline_spark.harness.tables import TABLES, load
from peskas_timor_data_pipeline_spark.sources.io import (
    add_version,
    read_parquet,
    read_stage,
    resolve_latest,
    schema_diff,
    write_stage,
)
from peskas_timor_data_pipeline_spark.sources.rest import (
    fetch_kobo_paginated,
    incremental_trip_ids,
    sync_flags_frames,
)


def test_versioned_artifacts_roundtrip(spark, tmp_path):
    import datetime as dt

    d = str(tmp_path)
    df1 = spark.range(3).withColumn("v", F.lit("old"))
    df2 = spark.range(5).withColumn("v", F.lit("new"))
    p1 = write_stage(df1, d, "landings")
    time.sleep(1.1)  # version stamps have second resolution
    p2 = write_stage(df2, d, "landings")
    assert p1 != p2
    latest = resolve_latest(d, "landings", "parquet")
    assert latest == p2
    assert read_stage(spark, d, "landings").count() == 5
    name = add_version("x", "parquet", ts=dt.datetime(2023, 5, 1, 12, 0, 0))
    assert name.startswith("x__20230501120000_") and name.endswith("__.parquet")


def test_pipeline_runner(spark, tmp_path):
    from peskas_timor_data_pipeline_spark.plans import Pipeline

    pipe = Pipeline(spark, str(tmp_path))

    @pipe.stage("raw")
    def raw(spark):
        return spark.range(10).withColumn("v", F.col("id") * 2)

    @pipe.stage("agg", inputs=["raw"])
    def agg(spark, raw):
        return raw.agg(F.sum("v").alias("total"))

    paths = pipe.run()
    assert set(paths) == {"raw", "agg"}
    assert spark.read.parquet(paths["agg"]).collect()[0].total == 90


def test_kobo_pagination_and_retry():
    pages = [
        {"results": [{"_id": 1}, {"_id": 2}], "next": "http://k/page2"},
        {"results": [{"_id": 3}], "next": None},
    ]
    calls = {"n": 0, "fail_once": True}

    class Resp:
        def __init__(self, payload):
            self._p = payload

        def json(self):
            return self._p

    def http_get(url, params=None, auth=None):
        if calls["fail_once"]:
            calls["fail_once"] = False
            raise ConnectionError("flaky")
        out = Resp(pages[calls["n"]])
        calls["n"] += 1
        return out

    got = list(fetch_kobo_paginated(http_get, "http://k", "asset", since_id=0))
    assert [r["_id"] for r in got] == [1, 2, 3]


def test_incremental_ids():
    assert incremental_trip_ids([1, 2, 3, 4], {2, 4}) == [1, 3]


FLAGS_DDL = (
    "submission_id int, submission_date date, flag_date date, alert string, "
    "validated boolean, validated_when_ymd date, comments string"
)


def _flags_row(sid, sub_d, flag_d, alert, validated=False, when=None, comments=None):
    import datetime as dt

    d = lambda s: dt.date.fromisoformat(s) if s else None  # noqa: E731
    return (sid, d(sub_d), d(flag_d), alert, validated, d(when), comments)


def test_sync_flags_reference_precedence(spark):
    """R/validate-landings.R:295-331: local alert wins, remote decisions
    win, flag_date persists iff the alert is unchanged, new ids append,
    remote-only ids raise."""
    import pytest

    local = spark.createDataFrame(
        [
            _flags_row(1, "2023-01-05", "2023-03-01", "6"),     # alert changed
            _flags_row(2, "2023-01-06", "2023-03-01", "11"),    # alert same
            _flags_row(3, "2023-01-07", "2023-03-01", "0"),     # new id
        ],
        FLAGS_DDL,
    )
    remote = spark.createDataFrame(
        [
            _flags_row(1, "2023-01-05", "2023-02-01", "0", True, "2023-02-02", "checked ok"),
            _flags_row(2, "2023-01-06", "2023-02-01", "11", False, None, "pending"),
        ],
        FLAGS_DDL,
    )
    rows = {r.submission_id: r for r in sync_flags_frames(local, remote).collect()}
    assert len(rows) == 3
    # id 1: alert changed "0"->"6": local alert, FRESH flag_date, remote decisions
    assert rows[1].alert == "6" and str(rows[1].flag_date) == "2023-03-01"
    assert rows[1].validated is True and rows[1].comments == "checked ok"
    assert str(rows[1].validated_when_ymd) == "2023-02-02"
    # id 2: alert unchanged: REMOTE flag_date survives the re-run
    assert rows[2].alert == "11" and str(rows[2].flag_date) == "2023-02-01"
    assert rows[2].validated is False and rows[2].comments == "pending"
    # id 3: appended as-is
    assert rows[3].alert == "0" and rows[3].validated is False
    # remote id missing locally -> refuse (upstream data loss)
    with pytest.raises(ValueError, match="missing from the local"):
        sync_flags_frames(local.filter("submission_id <> 2"), remote).collect()


def test_sync_flags_null_alert_pair_keeps_local_date(spark):
    """The reference's case_when(alert.x == alert.y ~ flag_date.y, TRUE ~
    flag_date.x) evaluates NA == NA to NA and falls through to the LOCAL
    flag_date — a both-null alert pair must NOT keep the remote date
    (eqNullSafe semantics would)."""
    local = spark.createDataFrame(
        [_flags_row(9, "2023-01-05", "2023-03-01", None)], FLAGS_DDL
    )
    remote = spark.createDataFrame(
        [_flags_row(9, "2023-01-05", "2023-02-01", None, True, None, "c")],
        FLAGS_DDL,
    )
    row = sync_flags_frames(local, remote).collect()[0]
    assert str(row.flag_date) == "2023-03-01"  # local, not remote
    assert row.validated is True  # remote decision still wins


def test_read_sheet_api_truncates_long_rows(spark):
    """The Sheets API can return stray cells beyond the header range; such
    rows are truncated to the header width (short rows stay null-padded)
    rather than failing createDataFrame with an opaque length error."""
    from peskas_timor_data_pipeline_spark.sources.sheets import read_sheet

    payload = {
        "values": [
            ["a", "b"],
            ["1", "2", "STRAY"],
            ["3"],
        ]
    }
    df = read_sheet(
        spark, "api", "sheet1", "flags", http=lambda url, params=None: payload
    )
    rows = df.collect()
    assert df.columns == ["a", "b"]
    assert (rows[0].a, rows[0].b) == ("1", "2")
    assert (rows[1].a, rows[1].b) == ("3", None)


def test_sheet_dir_roundtrip_and_flags_sync(spark, tmp_path):
    """S9/S10 end to end on the dir: transport: seed a remote flags tab,
    run the full read -> merge -> write-back workflow, re-read and assert
    the published sheet carries the merged precedence result."""
    from peskas_timor_data_pipeline_spark.sources.sheets import (
        read_sheet,
        sync_flags_sheet,
        typed_flags,
        unite_alerts,
        write_sheet,
    )

    transport = f"dir:{tmp_path}"
    remote = spark.createDataFrame(
        [
            _flags_row(1, "2023-01-05", "2023-02-01", "0", True, "2023-02-02", "ok"),
            _flags_row(2, "2023-01-06", "2023-02-01", "4-8", False, None, None),
        ],
        FLAGS_DDL,
    )
    write_sheet(remote, transport, "sheet1", "flags")
    # sheet reads back all-string (col_types="c"), then casts
    raw = read_sheet(spark, transport, "sheet1", "flags")
    assert dict(raw.dtypes) == {c: "string" for c in raw.columns}
    assert typed_flags(raw).schema == remote.schema

    # local run recomputes alerts: id 1 now alerts 4+12, id 3 is new
    local = unite_alerts(
        spark.createDataFrame(
            [
                (1, "2023-01-05", "2023-03-01", "4", "12"),
                (2, "2023-01-06", "2023-03-01", "4", "8"),
                (3, "2023-01-07", "2023-03-01", None, None),
            ],
            "submission_id int, submission_date string, flag_date string, a1 string, a2 string",
        )
        .selectExpr(
            "submission_id", "cast(submission_date as date) submission_date",
            "cast(flag_date as date) flag_date", "a1", "a2",
        ),
        ["a1", "a2"],
    ).selectExpr(
        "submission_id", "submission_date", "flag_date", "alert",
        "false as validated", "cast(null as date) validated_when_ymd",
        "cast(null as string) comments",
    )
    sync_flags_sheet(spark, transport, "sheet1", "flags", local)

    published = {
        r.submission_id: r
        for r in typed_flags(
            read_sheet(spark, transport, "sheet1", "flags")
        ).collect()
    }
    assert len(published) == 3
    assert published[1].alert == "4-12"                      # local alert wins
    assert str(published[1].flag_date) == "2023-03-01"       # changed -> fresh date
    assert published[1].validated is True                    # remote decision kept
    assert published[2].alert == "4-8"
    assert str(published[2].flag_date) == "2023-02-01"       # unchanged -> old date
    assert published[3].alert == "0" and published[3].validated is False


def test_streaming_dedup_available_now(spark, tmp_path):
    from peskas_timor_data_pipeline_spark.streaming.ingest import (
        dedup_submissions,
        stream_landed_files,
        write_append_sink,
    )
    from pyspark.sql.types import StringType, StructField, StructType, TimestampType

    landing = tmp_path / "landing"
    landing.mkdir()
    subs = [
        {"_id": "1", "_submission_time": "2023-05-01T10:00:00", "v": "a"},
        {"_id": "1", "_submission_time": "2023-05-01T10:00:00", "v": "a-dup"},
        # re-send with a LATER retransmission timestamp: the
        # dropDuplicatesWithinWatermark key is the id alone, so this must
        # dedup too (a composite (id, ts) key would wrongly keep it)
        {"_id": "1", "_submission_time": "2023-05-01T10:05:00", "v": "a-resend"},
        {"_id": "2", "_submission_time": "2023-05-02T11:00:00", "v": "b"},
    ]
    with open(landing / "batch1.jsonl", "w") as f:
        for s in subs:
            f.write(json.dumps(s) + "\n")

    schema = StructType(
        [
            StructField("_id", StringType()),
            StructField("_submission_time", TimestampType()),
            StructField("v", StringType()),
        ]
    )
    stream = stream_landed_files(spark, str(landing), schema)
    assert stream.isStreaming
    deduped = dedup_submissions(stream)
    sink = str(tmp_path / "sink")
    q = write_append_sink(deduped, sink, str(tmp_path / "ckpt")).start()
    q.awaitTermination(60)
    out = spark.read.parquet(sink)
    assert out.count() == 2
    assert {r._id for r in out.collect()} == {"1", "2"}


def test_pds_trips_fetch_retry_and_headers():
    from peskas_timor_data_pipeline_spark.sources.rest import fetch_pds_trips_csv

    calls = []

    class Resp:
        text = "Trip,Started,Ended\n1,2024-01-01,2024-01-02\n"

    def flaky_get(url, headers=None):
        calls.append((url, headers))
        if len(calls) == 1:
            raise ConnectionError("transient")
        return Resp()

    body = fetch_pds_trips_csv(
        flaky_get, "https://api.example", "s3cret", "tok", "2024-01-01", "2024-02-01"
    )
    assert body.startswith("Trip,")
    assert len(calls) == 2  # one failure, one success
    url, headers = calls[-1]
    assert url.endswith("/trips/2024-01-01/2024-02-01")
    assert headers["X-API-SECRET"] == "s3cret"


def test_write_public_tsv_roundtrip(spark, tmp_path):
    from peskas_timor_data_pipeline_spark.sources.io import write_public_tsv

    df = spark.createDataFrame(
        [(1, "Dili", 3.5), (2, "Baucau", None)], "id int, site string, catch double"
    )
    out = str(tmp_path / "public_tsv")
    write_public_tsv(df, out)
    back = (
        spark.read.option("header", True).option("sep", "\t").csv(out)
    )
    rows = {r.id: r for r in back.collect()}
    assert rows["1"].site == "Dili" and rows["2"].catch is None


def test_upsert_stage_merge_semantics(spark, tmp_path):
    import time as _time

    from peskas_timor_data_pipeline_spark.sources.io import (
        read_stage,
        upsert_stage,
        write_stage,
    )

    d = str(tmp_path / "stages")
    base = spark.createDataFrame(
        [(1, "old"), (2, "keep")], "id int, v string"
    )
    write_stage(base, d, "tbl")
    _time.sleep(1.1)  # version names are second-granular
    batch = spark.createDataFrame(
        [(1, "new"), (3, "ins")], "id int, v string"
    )
    upsert_stage(spark, batch, d, "tbl", ["id"])
    got = {r.id: r.v for r in read_stage(spark, d, "tbl").collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_read_csv_quarantined_splits_bad_rows(spark, tmp_path):
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from peskas_timor_data_pipeline_spark.sources.io import read_csv_quarantined

    p = tmp_path / "vendor.csv"
    p.write_text(
        "trip,boat,dist\n"
        "1,B1,10.5\n"
        "not_an_int,B2,3.0\n"   # trip fails the int cast
        "3,B3,oops\n"           # dist fails the double cast
        "4,B4,7.25\n"
    )
    schema = StructType(
        [
            StructField("trip", IntegerType()),
            StructField("boat", StringType()),
            StructField("dist", DoubleType()),
        ]
    )
    clean, quarantine = read_csv_quarantined(spark, str(p), schema)
    assert sorted(r.trip for r in clean.collect()) == [1, 4]
    bad = sorted(r.raw_record for r in quarantine.collect())
    assert bad == ["3,B3,oops", "not_an_int,B2,3.0"]


def test_pipeline_incremental_skip_and_invalidate(spark, tmp_path):
    from peskas_timor_data_pipeline_spark.plans import Pipeline
    from peskas_timor_data_pipeline_spark.sources.io import write_stage

    # "base" is an externally-written versioned artifact (the source side
    # handles its own incrementality, S14-style); the derived stage skips
    # while base's latest version is unchanged
    write_stage(spark.range(5).withColumn("v", F.col("id")), str(tmp_path), "base")
    pipe = Pipeline(spark, str(tmp_path))
    runs = {"n": 0}

    @pipe.stage("derived", inputs=["base"])
    def derived(spark, base):
        runs["n"] += 1
        return base.agg(F.sum("v").alias("total"))

    p1 = pipe.run(incremental=True)
    assert runs["n"] == 1
    p2 = pipe.run(incremental=True)
    assert runs["n"] == 1                      # skipped: inputs unchanged
    assert p2["derived"] == p1["derived"]      # resolves to the same artifact
    # a new base version invalidates the fingerprint -> recompute
    write_stage(spark.range(7).withColumn("v", F.col("id")), str(tmp_path), "base")
    p3 = pipe.run(incremental=True)
    assert runs["n"] == 2
    assert spark.read.parquet(p3["derived"]).collect()[0].total == 21
    # non-incremental always recomputes
    pipe.run()
    assert runs["n"] == 3


def test_runner_resumes_only_committed_artifacts(spark, tmp_path):
    """A write that died mid-stage leaves a NEWER version directory with
    part files (and even its ``_schema.json``) but no ``_SUCCESS`` marker.
    Resolution, reads and the incremental skip must all keep using the
    committed artifact."""
    import os

    from peskas_timor_data_pipeline_spark.plans import Pipeline

    d = str(tmp_path)

    def half_written(df, prefix):
        path = write_stage(df, d, prefix)
        os.remove(os.path.join(path, "_SUCCESS"))
        assert any(f.startswith("part-") for f in os.listdir(path))
        assert os.path.exists(os.path.join(path, "_schema.json"))
        return path

    base = write_stage(spark.range(5).withColumn("v", F.col("id")), d, "base")
    pipe = Pipeline(spark, d)
    runs = {"n": 0}

    @pipe.stage("derived", inputs=["base"])
    def derived(spark, base):
        runs["n"] += 1
        return base.agg(F.sum("v").alias("total"))

    p1 = pipe.run(incremental=True)
    meta = os.path.join(d, "derived__inputs__.json")
    with open(meta) as f:
        assert json.load(f)["inputs"] == f"base={base}"
    assert not os.path.exists(meta + ".tmp")

    torn_base = half_written(spark.range(7).withColumn("v", F.col("id")), "base")
    torn_derived = half_written(spark.range(1).select(F.lit(0).alias("total")), "derived")
    assert torn_base > base and torn_derived > p1["derived"]
    assert resolve_latest(d, "base", "parquet") == base
    assert read_stage(spark, d, "base").count() == 5
    p2 = pipe.run(incremental=True)
    assert runs["n"] == 1                      # skipped on the committed input
    assert p2["derived"] == p1["derived"]      # not the torn output
    assert read_stage(spark, d, "derived").collect()[0].total == 10


def test_schema_diff_detects_drift(spark, tmp_path):
    """added / removed / type-changed / unchanged all classified; footer
    metadata only (works on empty files too)."""
    from pyspark.sql import functions as F

    from peskas_timor_data_pipeline_spark.sources.io import schema_diff

    a = spark.createDataFrame([(1, "x", 2.0)], "id long, name string, score double")
    b = a.select(
        "id",
        F.col("score").cast("float").alias("score"),
        F.lit(True).alias("flag"),
    )
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    a.write.parquet(pa)
    b.write.parquet(pb)
    got = {r.column_name: (r.status, r.type_a, r.type_b)
           for r in schema_diff(spark, pa, pb).collect()}
    assert got["id"] == ("unchanged", "bigint", "bigint")
    assert got["name"][0] == "removed"
    assert got["flag"][0] == "added"
    assert got["score"] == ("type_changed", "double", "float")


def _jobs_launched(spark, fn):
    """Run ``fn`` and count the Spark jobs it launched, by the DAG
    scheduler's job ids (the status store's job list drops its oldest
    entries past ``spark.ui.retainedJobs``, so its size is no counter)."""
    before = obs.cursor(spark)[0]
    out = fn()
    return out, obs.cursor(spark)[0] - before


def _normalized_plan(df) -> str:
    import re

    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().executedPlan().toString())


def test_read_stage_uses_recorded_schema_without_a_job(spark, tmp_path):
    """A ``write_stage`` artifact carries ``_schema.json``; reading it
    launches no schema-inference job and gives the same schema, rows and
    executed plan as an inferring read, nested and temporal types
    included. ``write_stage_clustered`` records the schema too."""
    import os

    from peskas_timor_data_pipeline_spark.sources.io import write_stage_clustered

    d = str(tmp_path)
    df = spark.range(50).selectExpr(
        "id",
        "named_struct('a', id, 'b', array(cast(id AS string))) AS s",
        "array(id, id + 1) AS arr",
        "date_add(date'2023-01-01', cast(id AS int)) AS dt",
        "timestamp'2023-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
        "cast(id / 7 AS decimal(18, 4)) AS dec",
    )
    path = write_stage(df, d, "typed")
    assert os.path.exists(os.path.join(path, "_schema.json"))
    got, jobs = _jobs_launched(spark, lambda: read_stage(spark, d, "typed"))
    assert jobs == 0
    inferred = spark.read.parquet(path)
    assert got.schema == inferred.schema
    assert sorted(got.collect()) == sorted(inferred.collect())
    assert _normalized_plan(got) == _normalized_plan(inferred)

    clustered = write_stage_clustered(df, d, "clustered", ["id"], n_files=2)
    assert os.path.exists(os.path.join(clustered, "_schema.json"))
    got, jobs = _jobs_launched(spark, lambda: read_stage(spark, d, "clustered"))
    assert jobs == 0 and got.schema == inferred.schema


def test_read_stage_infers_without_schema_file(spark, tmp_path):
    """An artifact without the sidecar (older code, or a crash between
    commit and schema write) is read by inference."""
    import os

    d = str(tmp_path)
    df = spark.createDataFrame([(1, "a", 2.5), (2, None, None)], "id int, v string, x double")
    path = write_stage(df, d, "old")
    os.remove(os.path.join(path, "_schema.json"))
    got, jobs = _jobs_launched(spark, lambda: read_stage(spark, d, "old"))
    assert jobs >= 1
    assert got.schema == spark.read.parquet(path).schema
    assert sorted(got.collect(), key=lambda r: r.id) == df.collect()


def test_read_stage_partitioned_artifact_as_before(spark, tmp_path):
    """Partitioned artifacts get no sidecar: the partition column's type
    comes from directory-name inference, as before."""
    import os

    from peskas_timor_data_pipeline_spark.sources.io import write_stage_partitioned

    d = str(tmp_path)
    df = spark.range(12).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("band"), F.lit("x").alias("v")
    )
    path = write_stage_partitioned(df, d, "parts", ["band"])
    assert not os.path.exists(os.path.join(path, "_schema.json"))
    got = read_stage(spark, d, "parts")
    inferred = spark.read.parquet(path)
    assert got.schema == inferred.schema
    assert got.schema["band"].dataType.simpleString() == "int"
    assert sorted(got.collect()) == sorted(inferred.collect())


def test_incremental_skip_is_keyed_on_stage_code(spark, tmp_path):
    """Under ``incremental=True`` a stage whose fn changed reruns even
    though its inputs did not; an unchanged stage is skipped."""
    from peskas_timor_data_pipeline_spark.plans import Pipeline

    d = str(tmp_path)
    write_stage(spark.range(5).withColumn("v", F.col("id")), d, "base")
    runs = []

    def total_v1(spark, base):
        runs.append("v1")
        return base.agg(F.sum("v").alias("total"))

    def total_v2(spark, base):
        runs.append("v2")
        return base.agg((F.sum("v") * 2).alias("total"))

    def pipeline(fn):
        pipe = Pipeline(spark, d)
        pipe.stage("derived", inputs=["base"])(fn)
        return pipe

    p1 = pipeline(total_v1).run(incremental=True)
    p2 = pipeline(total_v1).run(incremental=True)
    assert runs == ["v1"] and p2["derived"] == p1["derived"]
    p3 = pipeline(total_v2).run(incremental=True)
    assert runs == ["v1", "v2"] and p3["derived"] != p1["derived"]
    assert read_stage(spark, d, "derived").collect()[0].total == 20
    pipeline(total_v2).run(incremental=True)
    assert runs == ["v1", "v2"]


def test_stage_version_covers_the_wrapped_body(spark, tmp_path):
    """Stages registered through one shared wrapper get versions from the
    bodies the wrapper closes over: they differ from each other, and an
    edited body reruns only its own stage under ``incremental=True``."""
    from peskas_timor_data_pipeline_spark.plans import Pipeline

    d = str(tmp_path)
    write_stage(spark.range(5).withColumn("v", F.col("id")), d, "base")
    runs = []

    def total(spark, base):
        return base.agg(F.sum("v").alias("total"))

    def count_v1(spark, base):
        return base.agg(F.count("v").alias("n"))

    def count_v2(spark, base):
        return base.agg((F.count("v") + 1).alias("n"))

    def pipeline(count_fn):
        pipe = Pipeline(spark, d)

        def stage(name, fn):
            def counted(*a, **kw):
                runs.append(name)
                return fn(*a, **kw)

            pipe.stage(name, inputs=["base"])(counted)

        stage("total", total)
        stage("count", count_fn)
        return pipe

    p = pipeline(count_v1)
    assert p.stages[0].version != p.stages[1].version
    p.run(incremental=True)
    pipeline(count_v1).run(incremental=True)
    assert runs == ["total", "count"]
    pipeline(count_v2).run(incremental=True)
    assert runs == ["total", "count", "count"]
    assert read_stage(spark, d, "count").collect()[0].n == 6


def test_stage_version_covers_module_data_a_helper_reads(spark, tmp_path, monkeypatch):
    """A stage whose package helper reads a module-level constant
    (``nutrient_supply`` and the ``RDI`` dict) reruns under
    ``incremental=True`` once that constant is edited and the stage is
    registered again, and serves the new value; unedited, it skips. The
    stage reaches the helper as an attribute of its module
    (``public.nutrient_supply``)."""
    import datetime as dt

    from peskas_timor_data_pipeline_spark.pipeline import public
    from peskas_timor_data_pipeline_spark.plans import Pipeline

    d = str(tmp_path)
    write_stage(
        spark.createDataFrame(
            [(dt.date(2023, 1, 1), "CLP", 30.0)],
            "period date, species string, catch_kg double",
        ),
        d,
        "catches",
    )
    write_stage(
        spark.createDataFrame(
            [("CLP", *[1.0] * len(public.RDI))],
            "species string, " + ", ".join(f"{c} double" for c in public.RDI),
        ),
        d,
        "dim",
    )
    runs = []

    def run():
        pipe = Pipeline(spark, d)

        @pipe.stage("supply", inputs=["catches", "dim"])
        def supply(spark, catches, dim):
            runs.append(1)
            return public.nutrient_supply(catches, dim)

        pipe.run(incremental=True)
        rows = read_stage(spark, d, "supply").filter("nutrient = 'Protein_mu'")
        return rows.collect()[0].people_rdi

    assert run() == 30.0 * 1000 / 30 / 50
    assert run() == 30.0 * 1000 / 30 / 50 and len(runs) == 1
    monkeypatch.setitem(public.RDI, "Protein_mu", 25.0)
    assert run() == 30.0 * 1000 / 30 / 25
    assert len(runs) == 2


def test_unreadable_meta_reruns_its_stage(spark, tmp_path, caplog):
    """A meta file that is garbage, truncated JSON or keyless counts as
    absent: the stage reruns with a warning instead of failing the run.
    A meta that matches while the stage's output is gone reruns too."""
    import logging
    import shutil

    from peskas_timor_data_pipeline_spark.plans import Pipeline

    d = str(tmp_path)
    write_stage(spark.range(3).withColumn("v", F.col("id")), d, "base")
    runs = []

    def derived(spark, base):
        runs.append(1)
        return base.agg(F.sum("v").alias("total"))

    def run():
        pipe = Pipeline(spark, d)
        pipe.stage("derived", inputs=["base"])(derived)
        return pipe.run(incremental=True)

    first = run()
    meta = os.path.join(d, "derived__inputs__.json")
    good = open(meta, "rb").read()
    run()
    assert len(runs) == 1
    for bad in (b"\x00\xff\xfe garbage", good[: len(good) // 2], b"[]", b"{}"):
        with open(meta, "wb") as f:
            f.write(bad)
        with caplog.at_level(logging.WARNING, logger="peskas_timor_data_pipeline_spark.plans.runner"):
            caplog.clear()
            out = run()
        assert out["derived"] != first["derived"]
        assert any("rerunning" in r.getMessage() for r in caplog.records), bad
    assert len(runs) == 5
    run()
    assert len(runs) == 5  # the rerun rewrote a good meta

    while resolve_latest(d, "derived", "parquet") is not None:
        shutil.rmtree(resolve_latest(d, "derived", "parquet"))
    run()
    assert len(runs) == 6
    assert read_stage(spark, d, "derived").collect()[0].total == 3


def test_second_load_launches_no_job(spark, sf_dir):
    """After one ``load`` of a table, the next load of the unchanged file
    launches no job, and reads what a plain ``spark.read.parquet`` reads:
    schema, rows and executed plan."""
    for name in TABLES:
        load(spark, sf_dir, name)
        df, jobs = _jobs_launched(spark, lambda: load(spark, sf_dir, name))
        assert jobs == 0, name
        path = f"{sf_dir}/{name}.parquet"
        got, jobs = _jobs_launched(spark, lambda: read_parquet(spark, path))
        assert jobs == 0, name
        plain = spark.read.parquet(path)
        assert got.schema == plain.schema, name
        assert _normalized_plan(got) == _normalized_plan(plain), name
        if name in ("events", "orders", "documents"):
            assert sorted(got.collect()) == sorted(plain.collect()), name


def test_rewritten_file_reinfers(spark, tmp_path):
    """The memo is keyed on the files: a rewrite of the same path infers
    again and sees the new schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1, 2], "v": ["a", "b"]}), path)
    first, jobs = _jobs_launched(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1
    _, jobs = _jobs_launched(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    pq.write_table(pa.table({"id": [1, 2, 3], "v": [1.5, 2.5, 3.5], "w": [True] * 3}), path)
    got, jobs = _jobs_launched(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert got.schema == spark.read.parquet(path).schema != first.schema
    assert got.count() == 3

    # a directory of part files: one more file is a different listing
    d = str(tmp_path / "dir")
    os.makedirs(d)
    pq.write_table(pa.table({"id": [1]}), os.path.join(d, "part-0.parquet"))
    assert read_parquet(spark, d).count() == 1
    pq.write_table(pa.table({"id": [2, 3]}), os.path.join(d, "part-1.parquet"))
    got, jobs = _jobs_launched(spark, lambda: read_parquet(spark, d))
    assert jobs >= 1 and got.count() == 3


def test_flipped_nanos_conf_reinfers(spark, tmp_path):
    """``nanosAsLong`` changes what Spark infers for TIMESTAMP(NANOS), so
    it is part of the memo key: flipping it gives Spark's own answer for
    the new setting, not the remembered one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path, version="2.6")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        as_long = read_parquet(spark, path)
        assert as_long.schema["ts"].dataType.simpleString() == "bigint"
        _, jobs = _jobs_launched(spark, lambda: read_parquet(spark, path))
        assert jobs == 0
        spark.conf.set(key, "false")

        def outcome(read):
            try:
                return read().schema.simpleString()
            except Exception as e:  # noqa: BLE001 - compare the failure itself
                return type(e).__name__

        got = outcome(lambda: read_parquet(spark, path))
        assert got == outcome(lambda: spark.read.parquet(path))
        assert got != as_long.schema.simpleString()
    finally:
        spark.conf.set(key, old)


def test_schema_diff_on_artifacts_launches_no_job(spark, tmp_path):
    """Two artifacts with schema sidecars are compared without a job."""
    d = str(tmp_path)
    a = write_stage(spark.createDataFrame([(1, "x")], "id long, name string"), d, "a")
    b = write_stage(spark.createDataFrame([(1, 2.0)], "id long, score double"), d, "b")
    out, jobs = _jobs_launched(spark, lambda: schema_diff(spark, a, b))
    assert jobs == 0
    got = {r.column_name: r.status for r in out.collect()}
    assert got == {"id": "unchanged", "name": "removed", "score": "added"}
