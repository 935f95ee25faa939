"""Correctness harness: named queries + DuckDB oracle twins.

Each module contributes ``QUERIES: dict[name, (spark_fn, oracle_sql|None)]``
where ``spark_fn(spark, sf_dir) -> DataFrame`` exercises one operator family
from SURVEY.md §2 on the driver's synthetic tables, and the oracle SQL is its
ANSI-SQL twin for DuckDB. Column names/aliases match exactly (the driver
sorts columns by name and hashes values).

Determinism conventions (see SURVEY.md §7.4):
- every double aggregate is rounded; granularity scales with magnitude so
  float summation-order differences cannot flip the rounded value
- ordered firsts/medians use explicit orderings, never input order
- pseudo-random choices use md5-based ordering, identical in both engines
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Registry front-of-line for round 11.  The driver records ~50 CORRECTNESS
# rows per round in registry order.  Order (VERDICT r10 ask #4 — finish
# the evidence rotation so no query's driver evidence predates r06):
# (a) the 21 queries that overflowed the r10 window (their latest driver
#     evidence is still r05 in the CORRECTNESS_r01-r10 union ledger),
#     alphabetical,
# (b) top-up from the r06 evidence cohort (50 queries), alphabetical —
#     ~29 fit in the ~50-row window; the rest lead r12.
_PRIORITY_R11 = (
    # (0) new in r11 — sampled immediately so no evidence gap opens:
    #     pure-Python PNG decode (VERDICT r10 ask #2) and the four
    #     data_report.Rmd frame twins closing the frame audit (ask #5)
    "mm14_png_decode", "mm15_jpeg_decode", "rp7_catch_use_share",
    "rp8_regional_mix", "rp9_survey_activity", "rp10_fisher_mix",
    # (a) r05 evidence tail (the r10 rotation's own documented overflow)
    "j11_interval_join", "j12_scd2_temporal", "m11_theil_sen",
    "m12_mann_kendall", "m13_bh_fdr", "m2b_length_weight_ll",
    "m4b_glmm_1ri", "mm13_audio_clipping", "p18_fd_audit",
    "p7b_fish_groups", "t30_source_similarity", "t31_psi_drift",
    "t36_tokenizer_fertility", "t37_repetition_signals",
    "t38_kneser_ney_logprob", "t39_temperature_mixture",
    "t40_source_diversity", "w12_session_paths", "w15_ohlc",
    "w16_interval_union", "w6_downsample",
    # (b) r06 evidence cohort, alphabetical (overflow rolls into r12)
    "a10_quantile_group", "a11_pivot_longer", "a11_pivot_wider",
    "a12_two_level_nest", "a13_rollup_two_level",
    "a14_time_binned_multisource", "a15_metric_unpivot",
    "a1_groupby_stats", "a2_summarise_across", "a3_add_count",
    "a4_conditional_agg", "a5_mode_per_group", "a7_grid_binning",
    "a8_mad_bounds_grouped", "a9_mad_alert_global", "d18_bbit_minhash",
    "d19_cluster_safe_split", "d7_repeated_grams", "d7b_gram_checksum",
    "d7c_shared_checksum", "e23_embedding_audit", "f_date_functions",
    "f_string_functions", "flagship_cpue", "j1_left_join_dims",
    "j2_inner_join", "j3_right_join_spine", "j4_full_outer_coalesce",
    "j5_one_to_one_day_match", "j6_reduce_join_unite", "j7_join_nested",
    "j8_complete_crossfill", "j9_suffix_match_join", "m4_glmm",
    "m4zi_glmm", "o1_sort_topn", "o2_union_by_name", "o4_set_ops",
    "p10_replicate_rows", "p11_sample_deterministic",
    "p12_distinct_except", "p1_pattern_projection", "p2_filter_project",
    "p3_semi_join", "p4_anti_join", "p5_mutate_across",
    "p6_coalesce_columns", "p7_case_when_recode", "p9_type_casts",
    "t41_weighted_reservoir",
)


def registry() -> dict[str, tuple[QueryFn, str | None]]:
    from peskas_timor_data_pipeline_spark.harness import (
        aggregates_q,
        core_relational_q,
        flagship,
        llm_q,
        stats_q,
        validators_q,
        windows_q,
    )

    merged: dict[str, tuple[QueryFn, str | None]] = {}
    for mod in (flagship, core_relational_q, aggregates_q, windows_q,
                validators_q, stats_q, llm_q):
        for name, entry in mod.QUERIES.items():
            if name in merged:
                raise ValueError(f"duplicate query name: {name}")
            merged[name] = entry
    missing = [n for n in _PRIORITY_R11 if n not in merged]
    if missing:
        raise ValueError(f"priority list names unknown queries: {missing}")
    out: dict[str, tuple[QueryFn, str | None]] = {}
    for name in _PRIORITY_R11:
        out[name] = merged[name]
    for name in merged:
        if name not in out:
            out[name] = merged[name]
    return out
