"""Structured Streaming ingestion (SURVEY.md §2.10).

The reference is batch-on-cron, but its incremental patterns map directly
to streams; these builders make ingestion continuous without changing any
downstream batch stage (parquet sinks are readable by both):

- landing-dir file stream + dedup-by-id with a submission-time watermark
  (replaces the since-id fetch + duplicate check,
  R/retrieve-survey-data.R:207-223; late-submission window = the 28-day
  delay threshold, inst/conf.yml:106-107)
- append-only track sink (replaces the consolidated tracks file,
  R/get-cloud-files.R:160-214)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType


def stream_landed_files(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    fmt: str = "json",
    max_files_per_trigger: int = 100,
) -> DataFrame:
    """File-source stream over the REST ingestors' landing directory.
    Checkpointing replaces the reference's already-ingested anti-join —
    the source tracks processed files exactly-once."""
    reader = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    return reader.load(landing_dir)


def dedup_submissions(
    stream: DataFrame,
    id_col: str = "_id",
    ts_col: str = "_submission_time",
    late_days: int = 28,
) -> DataFrame:
    """Exactly-once submissions: duplicate ids (Kobo re-sends) are
    dropped, with dedup state bounded to the reference's 28-day
    late-submission window via ``dropDuplicatesWithinWatermark`` — the
    Spark 3.5+ API built for exactly this key shape. Plain
    ``dropDuplicates([id])`` under a watermark does NOT evict state
    unless the event-time column is part of the dedup key, so the r05
    form's state grew unboundedly (one entry per id, forever) — a real
    leak at ingest scale; the WithinWatermark variant evicts each id once
    the watermark passes its event time, which also correctly dedups
    re-sends whose retransmission carries a slightly LATER timestamp
    (same id, different event time — a composite (id, ts) key would
    wrongly keep both)."""
    return stream.withWatermark(
        ts_col, f"{late_days} days"
    ).dropDuplicatesWithinWatermark([id_col])


def write_append_sink(
    stream: DataFrame, path: str, checkpoint: str, trigger_available_now: bool = True
) -> DataStreamWriter:
    """Append-only parquet sink (the streaming version of the consolidated
    track cache). ``availableNow`` drains the backlog then stops — the
    cron-compatible mode; drop it for a continuously-running pipeline."""
    writer = (
        stream.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    value_col: str | None = None,
    keys: tuple[str, ...] = (),
    window: str = "7 days",
    watermark: str = "28 days",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming form of the
    batch time-binned summaries (A14, R/format-public-data.R:363-457): one
    row per (window, keys...) with an event count and optional value sum.

    In append mode a window emits exactly once, when the watermark (event
    time minus the late-data allowance — the reference's 28-day submission
    delay) passes its end; state is bounded by watermark x keys, so the
    operator runs indefinitely at constant memory."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias(f"sum_{value_col}"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), *keys)
        .agg(*aggs)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "n",
            *([f"sum_{value_col}"] if value_col is not None else []),
        )
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment (the streaming form of J1's
    broadcast dim joins — landings ⋈ vessel_types/gear/stations). The static
    side is re-resolved every micro-batch, so a refreshed metadata parquet
    is picked up without restarting the query; broadcasting it keeps the
    join stateless (no streaming state, no watermark needed)."""
    from pyspark.sql import functions as F

    return stream.join(F.broadcast(dim), on=on, how=how)


def upsert_sink(
    stream: DataFrame,
    directory: str,
    prefix: str,
    key_cols: list[str],
    checkpoint: str,
    trigger_available_now: bool = True,
) -> DataStreamWriter:
    """foreachBatch MERGE sink: each micro-batch upserts onto the versioned
    parquet stage (sources.io.upsert_stage — same-key rows replaced, rest
    carried over, new immutable artifact). Checkpointed batch ids make the
    upsert effectively-once on restart: a replayed batch rewrites the same
    keys with the same rows, so the merge is idempotent."""
    from peskas_timor_data_pipeline_spark.sources.io import upsert_stage

    def merge_batch(batch: DataFrame, _batch_id: int) -> None:
        upsert_stage(batch.sparkSession, batch, directory, prefix, key_cols)

    writer = stream.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer


def join_streams_windowed(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    watermark: str = "10 minutes",
    max_lag: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with bounded state: each side is
    watermarked, and the join condition adds the event-time band
    ``right_ts in [left_ts - max_lag, left_ts]`` (right events join the
    left events they precede within the lag). The time band + watermark is
    what lets Spark EVICT state — without it a stream-stream join buffers
    both sides forever; with it, rows older than
    ``watermark + max_lag`` drop out of the state store every trigger.

    The batch analogue is :func:`operators.joins.interval_join`; this is
    the live-ingestion form (landings arriving while PDS tracks stream in,
    matched on imei within the reporting lag).
    """
    from pyspark.sql import functions as F

    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = F.expr(
        " AND ".join(
            [f"l.{k} = r.{k}" for k in keys]
            + [
                f"r.{right_ts} >= l.{left_ts} - INTERVAL {max_lag}",
                f"r.{right_ts} <= l.{left_ts}",
            ]
        )
    )
    return lw.alias("l").join(rw.alias("r"), cond, "inner")


def session_counts(
    stream: DataFrame,
    ts_col: str,
    keys: tuple[str, ...],
    gap: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked SESSION-window aggregation (native session_window):
    unlike tumbling windows, each window's end extends while events keep
    arriving within ``gap`` — the streaming twin of the batch
    sessionization (A6/a23). A session emits once in append mode, when
    the watermark passes gap after its last event; state per key is one
    open session, so memory is bounded by live keys, not history."""
    from pyspark.sql import functions as F

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.session_window(ts_col, gap).alias("sess"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *keys,
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n",
        )
    )


def store_dedup_sink(
    doc_stream: DataFrame,
    store_sigs: DataFrame | str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    band_size: int = 8,
    k_shingle: int = 5,
    min_agree: int = 12,
    trigger_available_now: bool = True,
    band_store: str | None = None,
) -> DataStreamWriter:
    """Streaming front door for the incremental signature-store dedup
    (llm/dedup.py::match_signature_store): each micro-batch of incoming
    documents computes its MinHash signatures and matches them against
    the PERSISTED corpus signature store, writing match verdicts to a
    parquet sink. This is the d20 batch operator mounted on a stream —
    the continuous-crawl shape where new slices are deduped as they land,
    without re-reading (or re-shingling) the corpus.

    foreachBatch rather than native stream ops, deliberately: the matcher
    needs a per-batch groupBy (signature mins) and a rank-1 window (best
    match), both of which are batch-only operators; inside foreachBatch
    each micro-batch IS a batch frame, so the exact hash-checked batch
    code runs unchanged. Pass ``store_sigs`` as a PATH for long-running
    queries: the frame is then re-created per micro-batch, so a store
    refresh or compaction is picked up without restarting the query. A
    pre-built DataFrame is also accepted, but it PINS its parquet file
    listing at creation — compacting the store under it fails the next
    micro-batch with missing-file errors; fine for availableNow drains,
    wrong for continuous mode. Checkpointed batch ids + overwrite-by-
    batch-partition keep the sink effectively-once on replay.

    ``band_store``: path to the store's persisted band rows
    (llm/dedup.py::store_band_rows written hive-partitioned on
    ``band_pfx`` — the corpus pipeline's ``band_store`` artifact). With
    it, each micro-batch neither re-derives nor re-shuffles the store's
    bands: the equi-join reads only the band-prefix partitions the batch
    collides with, so per-batch store IO tracks the colliding fraction
    instead of total store size — the difference between O(store) and
    O(batch) work per micro-batch on a crawl-scale store.
    """
    from pyspark.sql import functions as F

    from peskas_timor_data_pipeline_spark.llm.dedup import (
        match_signature_store, minhash_signature,
    )

    def match_batch(batch: DataFrame, batch_id: int) -> None:
        import re

        if not batch.take(1):
            return
        store = (
            batch.sparkSession.read.parquet(store_sigs)
            if isinstance(store_sigs, str)
            else store_sigs
        )
        # The store schema is the single source of truth for signature
        # geometry (same contract as pipeline.corpus_pipeline.
        # dedup_incoming_slice): a caller-supplied n_hashes that differs
        # from the persisted store would silently compare a slot subset
        # (wrong est_jaccard_ppm, missed matches) or fail every
        # micro-batch on missing columns.
        store_n = sum(
            1 for c in store.columns if re.fullmatch(r"h\d+", c)
        )
        if store_n == 0:
            raise ValueError(
                "signature store carries no h* signature columns"
            )
        if store_n != n_hashes:
            raise ValueError(
                f"signature geometry mismatch: store has {store_n} hash "
                f"slots, caller asked for n_hashes={n_hashes}"
            )
        if n_hashes // band_size == 0:
            raise ValueError(
                f"band_size={band_size} exceeds n_hashes={n_hashes}: "
                "zero bands would match nothing"
            )
        bsig = minhash_signature(batch, id_col, text_col, n_hashes, k_shingle)
        store_bands = (
            batch.sparkSession.read.parquet(band_store)
            if band_store is not None
            else None
        )
        # the matcher's own batch_id column is the DOC id; the micro-batch
        # sequence number gets its own name to avoid shadowing it
        verdicts = match_signature_store(
            bsig, store, id_col, n_hashes, band_size, min_agree,
            store_bands=store_bands,
        ).withColumn("micro_batch_id", F.lit(batch_id))
        (
            verdicts.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("micro_batch_id")
            .parquet(out_path)
        )

    writer = doc_stream.writeStream.foreachBatch(match_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer
