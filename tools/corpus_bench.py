"""End-to-end corpus-DAG scale rehearsal (VERDICT r05 #5).

Runs the full training-corpus pipeline (ingest -> normalize -> quality
gate -> Kneser-Ney LM gate -> exact dedup -> MinHash/LSH near-dedup ->
repeated-span masking -> packing; pipeline/corpus_pipeline.py) at two
scales — the sf0.1 documents table (5k docs) and a 10x synthetic blow-up
(50k docs: per source doc, 10 deterministic variants with planted exact
and near duplicates so dedup does real work) — and records per-stage wall
time, shuffle read/write bytes, input/output bytes, and the per-stage
maximum task RESULT size (the bytes each task ships back to the driver:
the "no stage collects megabytes to the driver" proof; threshold scalars
and LSH bucket histograms are the only driver-side state by design).

Metrics come from Spark's in-process status store (``obs.window`` over
the stages each pipeline stage ran), so the numbers are the engine's own
accounting, not wall-clock guesswork.

Usage: python tools/corpus_bench.py [--out CORPUSBENCH_r06.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from peskas_timor_data_pipeline_spark import obs  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STAGES = ("normalized", "quality_gated", "lm_gated", "exact_deduped",
          "near_deduped", "signature_store", "band_store", "masked",
          "packed")


def _window(spark, start: tuple[int, int]) -> dict:
    """The stages Spark ran since ``start`` (an ``obs.cursor``): shuffle,
    input and output bytes, spill, and the largest per-stage RESULT size
    (bytes a stage's tasks shipped to the driver), split into broadcast
    builds and everything else. Broadcast builds are capped by
    ``autoBroadcastJoinThreshold`` and turn into sort-merge joins once a
    side outgrows it; everything else (explicit collects, scalar
    aggregates) must stay KB-sized at any scale."""
    w = obs.window(spark, start)
    return {"n_spark_stages": w["stages"],
            **{k: w[k] for k in ("shuffle_read", "shuffle_write", "input",
                                 "output", "spill_bytes",
                                 "max_broadcast_result_bytes",
                                 "max_collect_result_bytes")}}


def synth_10x(spark, src_sf_dir: str, out_path: str, mult: int = 10) -> int:
    """``mult`` x docs from the 5k sf0.1 documents: variants 0 and 1 are
    exact copies (planted exact dups), variant 2 appends one char (near
    dup for LSH), 3..mult-1 get distinct md5 tails (unique mass).
    Deterministic. mult=10 -> 50k docs; mult=100 -> 500k docs (the r10
    second scale decade)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{src_sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    blown = (
        docs.select(
            "doc_id", "text",
            F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("v"),
        )
        .select(
            (F.col("doc_id") * 128 + F.col("v")).alias("doc_id"),
            F.when(F.col("v") <= 1, F.col("text"))
            .when(F.col("v") == 2, F.concat(F.col("text"), F.lit("!")))
            .otherwise(
                F.concat(
                    F.col("text"), F.lit(" "),
                    F.md5(F.concat_ws("#", "doc_id", "v")),
                )
            )
            .alias("text"),
        )
    )
    blown.repartition(32).write.mode("overwrite").parquet(out_path)
    return blown.count()


def run_scale(spark, label: str, source_parquet: str, workdir: str) -> dict:
    from peskas_timor_data_pipeline_spark.pipeline.corpus_pipeline import (
        build_corpus_pipeline,
        ingest_corpus,
    )

    if os.path.exists(workdir):
        shutil.rmtree(workdir)
    os.makedirs(workdir)
    ingest_corpus(spark, workdir, source_parquet)
    pipe = build_corpus_pipeline(
        spark, workdir, kn_tail_frac=0.1, min_quality=0.0,
        max_dup_line_ppm=1_000_000,
    )
    per_stage = {}
    t_all = time.time()
    for name in STAGES:
        start = obs.cursor(spark)
        t0 = time.time()
        pipe.run(only={name})
        wall = round(time.time() - t0, 2)
        per_stage[name] = {"wall_s": wall, **_window(spark, start)}
    total_wall = round(time.time() - t_all, 2)
    rows = {
        name: spark.read.parquet(
            _latest(workdir, name)
        ).count()
        for name in ("corpus_raw", "quality_gated", "lm_gated",
                     "near_deduped", "packed")
    }
    return {"label": label, "total_wall_s": total_wall,
            "rows": rows, "stages": per_stage}


def synth_unique(spark, src_sf_dir: str, out_path: str, mult: int) -> int:
    """``mult`` genuinely-unique variants per source doc: the text is a
    40-token md5 soup keyed on (doc_id, variant, i), so no two docs share
    shingles — the store for the incremental-scaling measurement must
    actually BE 10x bigger after dedup (the planted-dup corpus of
    synth_10x collapses back to ~1x, by design)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{src_sf_dir}/documents.parquet").select("doc_id")
    blown = (
        docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("v"),
        )
        .select(
            (F.col("doc_id") * 16 + F.col("v")).alias("doc_id"),
            F.array_join(
                F.expr(
                    "transform(sequence(1, 40),"
                    " i -> md5(concat_ws('#', doc_id, v, i)))"
                ),
                " ",
            ).alias("text"),
        )
    )
    blown.repartition(32).write.mode("overwrite").parquet(out_path)
    return blown.count()


def build_store_only(spark, source_parquet: str, workdir: str) -> None:
    """Minimal pipeline run that materializes the signature_store and
    band_store artifacts (gates open so the token-soup corpus survives)."""
    from peskas_timor_data_pipeline_spark.pipeline.corpus_pipeline import (
        build_corpus_pipeline,
        ingest_corpus,
    )

    if os.path.exists(workdir):
        shutil.rmtree(workdir)
    os.makedirs(workdir)
    ingest_corpus(spark, workdir, source_parquet)
    build_corpus_pipeline(
        spark, workdir, min_quality=0.0, max_dup_line_ppm=1_000_000,
    ).run(only={"normalized", "quality_gated", "exact_deduped",
                "near_deduped", "signature_store", "band_store"})


def run_incremental(spark, label: str, workdir: str) -> dict:
    """Steady-state slice dedup against the store built in ``workdir``:
    a fixed 24-doc incoming slice (12 recrawls + 12 novel) matched via
    the BANDED store path (band_store artifact: hive-partitioned band
    rows carrying the signature slots, prefix-pruned scan, store never
    re-banded) and, as the contrast, via the signature-only path (full
    store scan + re-band per batch). Each path runs once unmeasured
    (file-listing + codegen warmup) then once measured. The banded
    store-side scan must track the COLLIDING fraction (bounded by the
    slice's band-key count / 256 partitions) as the store grows 10x;
    the unbanded path's scan grows with the store by construction."""
    from peskas_timor_data_pipeline_spark.llm.dedup import (
        match_signature_store,
        minhash_signature,
    )
    from peskas_timor_data_pipeline_spark.pipeline.corpus_pipeline import (
        dedup_incoming_slice,
    )

    store_rows = spark.read.parquet(_latest(workdir, "near_deduped")).select(
        "doc_id", "norm_text"
    )
    recrawl = store_rows.orderBy("doc_id").limit(12).collect()
    slice_rows = [
        (int(r.doc_id) + 10_000_000, r.norm_text) for r in recrawl
    ] + [
        (20_000_000 + i, f"novel slice document {i} " * 12) for i in range(12)
    ]
    slice_df = spark.createDataFrame(
        slice_rows, "doc_id long, norm_text string"
    )

    def window(fn):
        fn()  # warmup: listing, codegen, broadcast build
        start = obs.cursor(spark)
        t0 = time.time()
        n = fn()
        wall = round(time.time() - t0, 2)
        return {"wall_s": wall, "verdicts": n, **_window(spark, start)}

    # banded path (band_store artifact present after the full build).
    # Artifact frames are resolved ONCE outside the window, exactly like
    # the unbanded contrast's store_sigs — a streaming front door
    # (store_dedup_sink) reads the store once per process, not per
    # micro-batch, so billing per-call artifact re-resolution to the
    # banded side compared one read_stage-per-batch path against a
    # pre-read one (fixed ~1s skew at toy scale, r09 fix)
    store_sigs = spark.read.parquet(_latest(workdir, "signature_store"))
    store_bands = spark.read.parquet(_latest(workdir, "band_store"))
    slice_sigs = minhash_signature(slice_df, "doc_id", "norm_text", n_hashes=16)
    banded = window(
        lambda: match_signature_store(
            slice_sigs, store_sigs, "doc_id", 16, 8, 12,
            store_bands=store_bands,
        ).count()
    )
    # signature-only contrast: full store scan + re-band per batch
    unbanded = window(
        lambda: match_signature_store(
            slice_sigs, store_sigs, "doc_id", 16, 8, 12
        ).count()
    )

    def _tree_bytes(path):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, files in os.walk(path)
            for f in files
        )

    band_bytes = _tree_bytes(_latest(workdir, "band_store"))
    sig_bytes = _tree_bytes(_latest(workdir, "signature_store"))
    return {
        "label": label,
        "slice_rows": len(slice_rows),
        "band_store_bytes": band_bytes,
        "signature_store_bytes": sig_bytes,
        "banded_scan_fraction_of_band_store": round(
            banded["input"] / max(band_bytes, 1), 3
        ),
        "banded": banded,
        "unbanded": unbanded,
    }


def _latest(artifact_dir: str, name: str) -> str:
    from peskas_timor_data_pipeline_spark.sources.io import resolve_latest

    return resolve_latest(artifact_dir, name, "parquet")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="CORPUSBENCH_r06.json")
    args = ap.parse_args()

    from peskas_timor_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="corpus-bench")
    base = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "spark-warehouse", "corpusbench")
    os.makedirs(base, exist_ok=True)

    x10_path = os.path.join(base, "docs_10x.parquet")
    n10 = synth_10x(spark, SF_DIR, x10_path)
    print(f"synthesized {n10} docs at {x10_path}")
    x100_path = os.path.join(base, "docs_100x.parquet")
    n100 = synth_10x(spark, SF_DIR, x100_path, mult=100)
    print(f"synthesized {n100} docs at {x100_path}")

    r1 = run_scale(spark, "sf0.1 (5k docs)",
                   f"{SF_DIR}/documents.parquet",
                   os.path.join(base, "art_1x"))
    r10 = run_scale(spark, "10x (50k docs)", x10_path,
                    os.path.join(base, "art_10x"))
    r100 = run_scale(spark, "100x (500k docs)", x100_path,
                     os.path.join(base, "art_100x"))
    # incremental-path scaling needs stores that genuinely ARE 1x and
    # 10x after dedup (the planted-dup corpus collapses back to ~1x)
    u1_path = os.path.join(base, "docs_u1.parquet")
    u10_path = os.path.join(base, "docs_u10.parquet")
    synth_unique(spark, SF_DIR, u1_path, 1)
    synth_unique(spark, SF_DIR, u10_path, 10)
    build_store_only(spark, u1_path, os.path.join(base, "store_u1"))
    build_store_only(spark, u10_path, os.path.join(base, "store_u10"))
    inc1 = run_incremental(spark, "slice vs 1x store (5k unique docs)",
                           os.path.join(base, "store_u1"))
    inc10 = run_incremental(spark, "slice vs 10x store (50k unique docs)",
                            os.path.join(base, "store_u10"))

    def tot(r, k):
        return sum(s.get(k, 0) for s in r["stages"].values())

    result = {
        "runs": [r1, r10, r100],
        "incremental": {
            "runs": [inc1, inc10],
            "banded_store_input_ratio_10x_over_1x": round(
                inc10["banded"]["input"] / max(inc1["banded"]["input"], 1), 2
            ),
            "unbanded_store_input_ratio_10x_over_1x": round(
                inc10["unbanded"]["input"]
                / max(inc1["unbanded"]["input"], 1), 2
            ),
            "banded_wall_ratio_10x_over_1x": round(
                inc10["banded"]["wall_s"]
                / max(inc1["banded"]["wall_s"], 0.01), 2
            ),
            "notes": (
                "fixed 24-doc slice vs the 1x and 10x stores; banded = "
                "band_store artifact (prefix-pruned, signatures carried "
                "in band rows, store never re-banded), unbanded = "
                "signature-only store re-banded per batch. 'input' is "
                "the engine-accounted scan bytes in each window. At this "
                "toy scale the banded path's absolute wall is HIGHER "
                "(256-partition listing + prefix-set overhead dwarf a "
                "2MB full scan); the scale signal is the bytes: banded "
                "store-side scan is flat in store size (bounded by the "
                "slice's colliding partitions), unbanded grows with the "
                "store."
            ),
        },
        "shuffle_write_ratio_10x_over_1x":
            round(tot(r10, "shuffle_write") / max(tot(r1, "shuffle_write"), 1), 2),
        "wall_ratio_10x_over_1x":
            round(r10["total_wall_s"] / max(r1["total_wall_s"], 0.01), 2),
        "shuffle_write_ratio_100x_over_10x":
            round(tot(r100, "shuffle_write") / max(tot(r10, "shuffle_write"), 1), 2),
        "wall_ratio_100x_over_10x":
            round(r100["total_wall_s"] / max(r10["total_wall_s"], 0.01), 2),
        "spill_bytes_100x": tot(r100, "spill_bytes"),
        "max_broadcast_result_bytes": max(
            s.get("max_broadcast_result_bytes", 0)
            for r in (r1, r10, r100) for s in r["stages"].values()
        ),
        "max_collect_result_bytes": max(
            s.get("max_collect_result_bytes", 0)
            for r in (r1, r10, r100) for s in r["stages"].values()
        ),
        "notes": (
            "broadcast results are BroadcastExchange materializations "
            "(auto-bounded by spark.sql.autoBroadcastJoinThreshold, "
            "plan flips to sort-merge beyond it); collect results are "
            "the pipeline's explicit driver-side state (LSH bucket "
            "histogram, LM-gate threshold scalar) and must stay KB-sized"
        ),
    }
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "runs"}))
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
