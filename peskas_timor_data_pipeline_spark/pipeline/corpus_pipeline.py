"""End-to-end training-corpus preparation DAG.

The LLM-side counterpart of the domain pipeline (landings/trips/estimate):
the stage chain every large-scale pretraining-data build runs, wired
through the same versioned-artifact runner (plans/runner.py) so a failed
run resumes from the last stage and an unchanged shard skips the whole
branch via input fingerprints.

    normalize -> quality gate -> exact dedup -> near-dedup (MinHash/LSH
    with the hot-bucket cap) -> signature store -> repeated-span masking
    -> packing

plus the steady-state increment: :func:`dedup_incoming_slice` matches a
new crawl slice against the persisted ``signature_store`` artifact (the
d20 operator), so recrawls are flagged and only genuinely new content
enters the next full build — the corpus text is never re-read.

Every stage is one lazy Catalyst plan ending in a versioned parquet write;
stage outputs are inspectable, re-runnable artifacts (the corpus-audit
queries — d1/d2/d7/d15/t37 — read the same intermediates).

Scale notes, per stage:
- normalize/quality: narrow maps + two partial-aggregated explode chains
  (repetition signals); no corpus-wide state.
- exact dedup: one shuffle on the content hash.
- near-dedup: signatures are one explode + groupBy(doc); candidate pairs
  shuffle on band keys with ``bucket_cap`` bounding any hot bucket to
  linear star pairs; components run on the (tiny) pair graph only.
- masking: one positioned explode + one gram aggregation + a per-doc
  window sweep (llm/dedup.py::repeated_span_mask).
- packing: md5-sharded greedy walk, window arithmetic only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.llm.dedup import (
    apply_span_mask,
    band_prefix_len,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signature,
    store_band_rows,
    repeated_span_mask,
)
from peskas_timor_data_pipeline_spark.llm.cluster import resolve_duplicates
from peskas_timor_data_pipeline_spark.llm.text import (
    normalize_text,
    pack_sequences,
    quality_features,
    repetition_signals,
)
from peskas_timor_data_pipeline_spark.plans.runner import Pipeline
from peskas_timor_data_pipeline_spark.sources.io import read_parquet, write_stage


def ingest_corpus(spark: SparkSession, artifact_dir: str, source_path: str) -> str:
    """Write/refresh the raw corpus artifact (stage name ``corpus_raw``).
    Source-side incrementality is the caller's concern, exactly like the
    S14 track ingestion: call this only when the source shard actually
    changed — downstream stage fingerprints then skip the whole unchanged
    branch on ``run(incremental=True)``."""
    df = read_parquet(spark, source_path).select("doc_id", "text")
    return write_stage(df, artifact_dir, "corpus_raw")


def build_corpus_pipeline(
    spark: SparkSession,
    artifact_dir: str,
    *,
    min_quality: float = 0.2,
    max_dup_line_ppm: int = 300_000,
    kn_tail_frac: float | None = None,
    n_hashes: int = 16,
    band_size: int = 8,
    bucket_cap: int | None = 64,
    k_span: int = 50,
    pack_budget: int = 512,
) -> Pipeline:
    """Wire the corpus stages onto a runner; call :func:`ingest_corpus`
    first (it owns the ``corpus_raw`` artifact), then ``.run()`` —
    ``incremental=True`` skips every stage whose inputs' artifact versions
    are unchanged.

    ``kn_tail_frac`` switches on the CCNet-style LM gate (Wenzek et al.
    2020): score every quality-gated doc with the corpus-self Kneser-Ney
    bigram model (llm/text.py::kneser_ney_logprob) and drop the
    worst-scoring tail fraction before dedup. Off by default — the gate
    costs one extra corpus pass and only pays off on crawl-grade input.
    """
    pipe = Pipeline(spark, artifact_dir)

    @pipe.stage("normalized", inputs=["corpus_raw"])
    def normalized(spark: SparkSession, corpus_raw: DataFrame) -> DataFrame:
        return normalize_text(corpus_raw, "text", out_col="norm_text")

    @pipe.stage("quality_gated", inputs=["normalized"])
    def quality_gated(spark: SparkSession, normalized: DataFrame) -> DataFrame:
        feats = quality_features(normalized, "norm_text")
        # repetition gates read the RAW text: normalization collapses
        # whitespace runs (including newlines), which would erase the very
        # line structure the duplicate-line gate inspects
        reps = repetition_signals(normalized, "doc_id", "text")
        return (
            feats.join(reps, "doc_id")
            .filter(
                (F.col("quality_score") >= min_quality)
                & (F.col("dup_line_ppm") <= max_dup_line_ppm)
            )
            .select("doc_id", "text", "norm_text")
        )

    dedup_input = "quality_gated"
    if kn_tail_frac is not None:
        dedup_input = "lm_gated"

        @pipe.stage("lm_gated", inputs=["quality_gated"])
        def lm_gated(spark: SparkSession, quality_gated: DataFrame) -> DataFrame:
            # CCNet keeps the best (1 - tail) of the crawl by LM score;
            # the threshold is a broadcast percentile scalar (the t13
            # pattern), NOT a corpus-wide rank window
            from peskas_timor_data_pipeline_spark.llm.text import (
                kneser_ney_logprob,
            )

            kn = kneser_ney_logprob(quality_gated, "doc_id", "norm_text")
            thr = kn.agg(
                F.percentile_approx(
                    "mean_logp_kn", F.lit(float(kn_tail_frac)), F.lit(10000)
                ).alias("__thr__")
            )
            return (
                # LEFT join: kneser_ney_logprob emits no row for docs with
                # fewer than 2 tokens, and an inner join here silently
                # dropped every 0/1-token doc regardless of the threshold
                # (ADVICE r05). Ungradeable docs pass through with NULL
                # mean_logp_kn — the LM gate only removes docs the LM
                # actually scored below the cut; a length gate is the
                # quality stage's job, not this one's.
                quality_gated.join(
                    kn.select("doc_id", "mean_logp_kn"), "doc_id", "left"
                )
                .crossJoin(F.broadcast(thr))
                # STRICT >: the approx quantile returns an actual data
                # value, so >= would keep the threshold doc itself and, on
                # small inputs where the frac rounds to the minimum, drop
                # nothing at all; dropping ties at the threshold errs the
                # CCNet way (toward cleaner data)
                .filter(
                    F.col("mean_logp_kn").isNull()
                    | (F.col("mean_logp_kn") > F.col("__thr__"))
                )
                .select("doc_id", "text", "norm_text")
            )

    @pipe.stage("exact_deduped", inputs=[dedup_input])
    def exact_deduped(spark: SparkSession, **frames: DataFrame) -> DataFrame:
        gated = frames[dedup_input]
        return exact_dedup(gated, "doc_id", ["norm_text"]).select(
            "doc_id", "text", "norm_text", "n_dups"
        )

    @pipe.stage("near_deduped", inputs=["exact_deduped"])
    def near_deduped(spark: SparkSession, exact_deduped: DataFrame) -> DataFrame:
        sigs = minhash_signature(
            exact_deduped, "doc_id", "norm_text", n_hashes=n_hashes
        )
        pairs = lsh_candidate_pairs(
            sigs, "doc_id", n_hashes, band_size, bucket_cap=bucket_cap
        )
        resolved = resolve_duplicates(exact_deduped, pairs, "doc_id")
        return resolved.filter(~F.col("is_duplicate")).select(
            "doc_id", "text", "norm_text"
        )

    @pipe.stage("signature_store", inputs=["near_deduped"])
    def signature_store(spark: SparkSession, near_deduped: DataFrame) -> DataFrame:
        # the persisted store the steady-state path matches new slices
        # against (dedup_incoming_slice) — signatures only, no text, so
        # the incremental pass never re-reads or re-shingles the corpus
        return minhash_signature(
            near_deduped, "doc_id", "norm_text", n_hashes=n_hashes
        )

    @pipe.stage(
        "band_store", inputs=["signature_store"], partition_cols=["band_pfx"]
    )
    def band_store(spark: SparkSession, signature_store: DataFrame) -> DataFrame:
        # the store's LSH band rows, persisted hive-partitioned on the
        # band-key prefix: the steady-state matcher prunes its store-side
        # scan to the prefixes an incoming batch collides with and never
        # re-derives the store's bands — without this, every micro-batch
        # re-bands and re-shuffles the WHOLE store (linear in store size).
        # Prefix width scales with the store (band_prefix_len, r09): tiny
        # stores write ONE partition (the fixed 256-partition layout's
        # listing overhead beat its pruning below ~1M band rows), big
        # stores grow partitions with size so per-batch IO stays flat.
        plen = band_prefix_len(
            signature_store.count(), n_hashes // band_size
        )
        return store_band_rows(
            signature_store, "doc_id", n_hashes, band_size, prefix_len=plen
        ).repartition("band_pfx")

    @pipe.stage("masked", inputs=["near_deduped"])
    def masked(spark: SparkSession, near_deduped: DataFrame) -> DataFrame:
        spans = repeated_span_mask(near_deduped, "doc_id", "norm_text", k_min=k_span)
        return apply_span_mask(
            near_deduped, spans, "doc_id", "norm_text"
        ).select("doc_id", "masked_text")

    @pipe.stage("packed", inputs=["masked"])
    def packed(spark: SparkSession, masked: DataFrame) -> DataFrame:
        with_tokens = masked.withColumn(
            "n_tokens",
            F.size(F.expr(r"filter(split(masked_text, '\\s+'), x -> x <> '')"))
            .cast("long"),
        ).filter(F.col("n_tokens") > 0)
        bins = pack_sequences(with_tokens, "doc_id", "n_tokens", budget=pack_budget)
        return bins.join(with_tokens.select("doc_id", "masked_text"), "doc_id")

    return pipe


def dedup_incoming_slice(
    spark: SparkSession,
    artifact_dir: str,
    slice_df: DataFrame,
    *,
    band_size: int = 8,
    min_agree: int = 12,
) -> tuple[DataFrame, DataFrame]:
    """The steady-state incremental path: match one incoming crawl slice
    against the pipeline's persisted ``signature_store`` artifact WITHOUT
    touching corpus text (llm/dedup.py::match_signature_store — the d20
    operator; streaming front door in streaming/ingest.py::
    store_dedup_sink). The slice must carry (doc_id, norm_text) — run
    :func:`llm.text.normalize_text` upstream so slice grams use the same
    normalization the store was built with, or the match rate silently
    collapses.

    Returns ``(new_docs, verdicts)``: the slice rows with no store match
    (the genuinely new content that proceeds into the next full corpus
    build) and the per-matched-doc verdict frame (batch_id, store_id,
    n_agree, est_jaccard_ppm) for the dedup audit trail.

    The signature geometry (``n_hashes``) is DERIVED from the store
    artifact's h-columns rather than taken as a parameter — a caller
    passing a different value than the store was built with would
    silently compare a slot subset (or fail on missing columns); the
    store schema is the single source of truth.

    When the pipeline's ``band_store`` artifact exists (hive-partitioned
    band rows, built by the full run), the match uses it: the store's
    bands are not re-derived and the store-side scan prunes to the
    band-key prefixes the slice actually collides with — per-slice cost
    then tracks the COLLIDING store fraction, not total store size.
    Falls back to on-the-fly banding for stores built before the
    artifact existed.
    """
    import re

    from peskas_timor_data_pipeline_spark.llm.dedup import (
        match_signature_store,
    )
    from peskas_timor_data_pipeline_spark.sources.io import (
        read_stage,
        resolve_latest,
    )

    store_sigs = read_stage(spark, artifact_dir, "signature_store")
    store_bands = (
        read_stage(spark, artifact_dir, "band_store")
        if resolve_latest(artifact_dir, "band_store", "parquet") is not None
        else None
    )
    n_hashes = sum(
        1 for c in store_sigs.columns if re.fullmatch(r"h\d+", c)
    )
    if n_hashes == 0:
        raise ValueError(
            "signature_store artifact carries no h* signature columns"
        )
    if n_hashes // band_size == 0:
        # n_hashes // band_size bands: zero bands would emit zero band
        # keys, so every slice doc would silently pass as new (e.g. a
        # store built at minhash_signature's default n_hashes=6 against
        # the default band_size=8)
        raise ValueError(
            f"band_size={band_size} exceeds the store's signature width "
            f"n_hashes={n_hashes}: zero bands would match nothing"
        )
    slice_sigs = minhash_signature(
        slice_df, "doc_id", "norm_text", n_hashes=n_hashes
    )
    verdicts = match_signature_store(
        slice_sigs, store_sigs, "doc_id", n_hashes, band_size, min_agree,
        store_bands=store_bands,
    )
    new_docs = slice_df.join(
        verdicts.select(F.col("batch_id").alias("doc_id")),
        "doc_id",
        "left_anti",
    )
    return new_docs, verdicts
