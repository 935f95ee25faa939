"""segment_dedup scale rehearsal (VERDICT r10 ask #1 closure).

The r10 verdict's last `weak` item was the struct-min SortAggregate in
``segment_dedup``'s first-occurrence decision — the exact class that
spilled 35 GB on the minhash signature agg at 500k docs before the long
re-encoding.  The integral-id fast path (chained fixed-width min
aggregates, llm/dedup.py) landed at r11-open; this tool is the required
evidence: run segment_dedup over the sf0.1 documents table at 1x (5k),
10x (50k) and 100x (500k synthetic blow-up, same generator as
CORPUSBENCH), and record per-decade wall, shuffle bytes, spill bytes
(must be ZERO) and the executed-plan aggregate strategy (must contain
HashAggregate and no SortAggregate).

The result frame is fully materialized through an aggregate checksum
(count, sum n_segs/n_kept, sum of rebuilt lengths) so every stage —
including the per-doc rebuild — actually executes; nothing larger than
one scalar row reaches the driver.

Usage: python tools/seg_bench.py [--out SEGBENCH_r11.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from peskas_timor_data_pipeline_spark import obs  # noqa: E402
from tools.corpus_bench import SF_DIR, _window, synth_10x  # noqa: E402


def run_decade(spark, label: str, parquet_path: str) -> dict:
    from pyspark.sql import functions as F

    from peskas_timor_data_pipeline_spark.llm.dedup import segment_dedup

    docs = spark.read.parquet(parquet_path).select("doc_id", "text")
    out = segment_dedup(docs, "doc_id", "text", seg_words=10)
    checksum = out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_segs").alias("sum_segs"),
        F.sum("n_kept").alias("sum_kept"),
        F.sum(F.length("rebuilt")).alias("sum_rebuilt_len"),
    )
    start = obs.cursor(spark)
    t0 = time.time()
    row = checksum.collect()[0]
    wall = round(time.time() - t0, 2)
    plan = checksum._jdf.queryExecution().executedPlan().toString()
    return {
        "label": label,
        "wall_s": wall,
        "n_docs": row["n_docs"],
        "sum_segs": row["sum_segs"],
        "sum_kept": row["sum_kept"],
        "sum_rebuilt_len": row["sum_rebuilt_len"],
        "plan_has_hash_aggregate": "HashAggregate" in plan,
        "plan_has_sort_aggregate": "SortAggregate" in plan,
        **_window(spark, start),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="SEGBENCH_r11.json")
    args = ap.parse_args()

    from peskas_timor_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="seg-bench")
    base = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "spark-warehouse", "segbench")
    os.makedirs(base, exist_ok=True)

    x10 = os.path.join(base, "docs_10x.parquet")
    x100 = os.path.join(base, "docs_100x.parquet")
    n10 = synth_10x(spark, SF_DIR, x10)
    n100 = synth_10x(spark, SF_DIR, x100, mult=100)
    print(f"synthesized {n10} / {n100} docs")

    decades = [
        run_decade(spark, "1x (5k docs)", f"{SF_DIR}/documents.parquet"),
        run_decade(spark, "10x (50k docs)", x10),
        run_decade(spark, "100x (500k docs)", x100),
    ]
    for d in decades:
        print(json.dumps(d))

    ok = all(
        d["spill_bytes"] == 0
        and d["plan_has_hash_aggregate"]
        and not d["plan_has_sort_aggregate"]
        for d in decades
    )
    report = {
        "bench": "segment_dedup scale decades",
        "sf_dir": SF_DIR,
        "decades": decades,
        "zero_spill_and_hash_aggregate_everywhere": ok,
    }
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(("PASS" if ok else "FAIL"), "->", args.out)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
