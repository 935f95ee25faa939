"""Stateful streaming sessionization + nested JSON source."""

from __future__ import annotations

import json
import time


def test_sessionize_stream_closes_on_gap(spark, tmp_path):
    from peskas_timor_data_pipeline_spark.streaming.stateful import sessionize_stream
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    landing = tmp_path / "events"
    landing.mkdir()
    # user 7: 3 events in one session, then a 2h gap -> second session.
    # The first session closes when the post-gap event arrives; the second
    # stays open (no later event) so append mode emits exactly 1 row.
    rows = [
        ("2024-01-01T10:00:00", 7, 1.0),
        ("2024-01-01T10:10:00", 7, 2.0),
        ("2024-01-01T10:20:00", 7, 3.0),
        ("2024-01-01T12:30:00", 7, 4.0),
    ]
    with open(landing / "a.jsonl", "w") as f:
        for ts, uid, v in rows:
            f.write(json.dumps({"ts": ts, "user_id": uid, "value": v}) + "\n")

    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(landing))
    sessions = sessionize_stream(stream, gap_seconds=1800)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # ProcessingTimeTimeout keeps an availableNow query alive (it keeps
    # running no-data batches for the open session's timeout), so wait
    # for the data batch to commit and stop the query ourselves
    try:
        deadline = time.monotonic() + 120
        while sum(p.numInputRows for p in q.recentProgress) < len(rows):
            if q.exception() is not None:
                raise q.exception()
            assert time.monotonic() < deadline, "the data batch never committed"
            time.sleep(0.2)
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM sessions_out").collect()
    assert len(out) == 1
    s = out[0]
    assert s.n_events == 3 and s.sum_value == 6.0
    assert s.session_start.minute == 0 and s.session_end.minute == 20


def test_nested_json_source(spark, tmp_path):
    from peskas_timor_data_pipeline_spark.sources.json_source import (
        read_kobo_submissions,
        typed_catches,
    )
    from peskas_timor_data_pipeline_spark.pipeline.landings import unnest_catches

    sub = {
        "_id": "42",
        "_submission_time": "2023-05-02T08:00:00",
        "date": "2023-05-02",
        "total_catch_value": "25",
        "species_group": [
            {
                "species": "CLP",
                "food_or_sale": "food",
                "length_individuals": [
                    {"mean_length": "7.5", "n_individuals": "20"},
                    {"mean_length": "12.5", "n_individuals": "5"},
                ],
            }
        ],
        "_attachments": [{"download_url": "http://x/1.jpg", "id": "9001"}],
    }
    p = tmp_path / "subs.jsonl"
    p.write_text(json.dumps(sub) + "\n")

    typed = typed_catches(read_kobo_submissions(spark, str(p)))
    row = typed.collect()[0]
    assert row.species_group[0].length_individuals[0].mean_length == 7.5
    # same downstream unnest path as the wide-export route
    flat = unnest_catches(typed.select("_id", "species_group"), ["_id"])
    assert flat.count() == 2


def test_windowed_counts_append_emits_closed_windows(spark, tmp_path):
    from peskas_timor_data_pipeline_spark.streaming.ingest import windowed_counts
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    landing = tmp_path / "wevents"
    landing.mkdir()
    # two daily windows with data + one far-future event that pushes the
    # watermark (1h allowance) past both, so append mode emits exactly them
    # daily tumbling windows are epoch-aligned in UTC, so with a non-UTC
    # session TZ the local boundary sits mid-day; events 30 min apart are in
    # one window for any whole/half-hour TZ offset
    rows = [
        ("2024-01-01T10:00:00", "a", 1.0),
        ("2024-01-01T10:30:00", "a", 2.0),
        ("2024-01-02T10:00:00", "b", 5.0),
        ("2024-02-01T00:00:00", "z", 0.0),
    ]
    with open(landing / "a.jsonl", "w") as f:
        for ts, k, v in rows:
            f.write(json.dumps({"ts": ts, "k": k, "value": v}) + "\n")

    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("k", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(landing))
    agg = windowed_counts(
        stream, "ts", value_col="value", keys=("k",), window="1 day", watermark="1 hour"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM win_out").collect()
    got = {r.k: (r.n, r.sum_value) for r in out}
    assert got["a"] == (2, 3.0)
    assert got["b"] == (1, 5.0)
    # the watermark-pushing window itself is still open -> not emitted
    assert "z" not in got
    # windows are exactly one day wide and distinct per key
    assert all((r.window_end - r.window_start).total_seconds() == 86400 for r in out)
    assert len(out) == 2


def test_session_counts_stream_merges_and_closes(spark, tmp_path):
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from peskas_timor_data_pipeline_spark.streaming.ingest import session_counts

    landing = tmp_path / "sevents"
    landing.mkdir()
    rows = [
        # user a: 3 events chained within the 10-min gap -> ONE session
        ("2024-01-01T10:00:00", "a"),
        ("2024-01-01T10:05:00", "a"),
        ("2024-01-01T10:12:00", "a"),
        # user a again after a >10-min silence -> second session
        ("2024-01-01T11:00:00", "a"),
        # watermark pusher
        ("2024-01-02T00:00:00", "z"),
    ]
    with open(landing / "a.jsonl", "w") as f:
        for ts, k in rows:
            f.write(json.dumps({"ts": ts, "k": k}) + "\n")
    schema = StructType(
        [StructField("ts", TimestampType()), StructField("k", StringType())]
    )
    stream = spark.readStream.schema(schema).json(str(landing))
    agg = session_counts(stream, "ts", keys=("k",), gap="10 minutes", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(90)
    a_rows = sorted(
        (r for r in spark.sql("select * from sess_out").collect() if r.k == "a"),
        key=lambda r: r.session_start,
    )
    # TZ-robust assertions (streaming sources and the session TZ disagree on
    # rendering): the chained 3-event session comes first, the singleton an
    # hour later; session_end = last event + gap
    assert [r.n for r in a_rows] == [3, 1]
    assert (a_rows[1].session_start - a_rows[0].session_start).total_seconds() == 3600
    assert (a_rows[0].session_end - a_rows[0].session_start).total_seconds() == 22 * 60
    assert (a_rows[1].session_end - a_rows[1].session_start).total_seconds() == 600
