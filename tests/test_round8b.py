"""Unit tests for the round-8 batch-2 operator families: association
rules, link prediction, pointer-jump closure, Mann-Whitney, chi-square,
ACF, multi-touch attribution, readability, rank-2 PCA.

Each test pins the operator against an independently-computed
fixture-sized truth (hand arithmetic or a tiny Python replay), the same
strategy as test_property_round7.py — the sf0.01 DuckDB oracles are the
scale check; these are the semantics check.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# --- association rules -------------------------------------------------------


def test_association_rules_counts_and_lift(spark):
    from peskas_timor_data_pipeline_spark.operators.affinity import (
        association_rules,
    )

    rows = [
        (1, "a"), (1, "b"), (1, "b"),  # duplicate item collapses
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "b"), (4, "c"),
        (5, "a"),
    ]
    df = spark.createDataFrame(rows, "basket int, item string")
    out = association_rules(df, "basket", "item", min_support=2)
    got = {(r["antecedent"], r["consequent"]): r for r in out.collect()}
    # pair (a,b) in baskets 1,2 -> support 2; a in 4 baskets, b in 3
    ab = got[("a", "b")]
    assert ab["pair_support"] == 2
    assert ab["antecedent_support"] == 4
    assert ab["consequent_support"] == 3
    assert ab["n_baskets"] == 5
    assert ab["confidence"] == pytest.approx(2 / 4)
    assert ab["lift"] == pytest.approx(2 * 5 / (4 * 3))
    # both directions emitted
    assert ("b", "a") in got
    # (a,c) support 1 < 2 -> pruned
    assert ("a", "c") not in got


def test_association_rules_infrequent_item_pruned(spark):
    from peskas_timor_data_pipeline_spark.operators.affinity import (
        association_rules,
    )

    rows = [(1, "a"), (1, "z"), (2, "a"), (2, "b"), (3, "a"), (3, "b")]
    df = spark.createDataFrame(rows, "basket int, item string")
    out = association_rules(df, "basket", "item", min_support=2).collect()
    items = {r["antecedent"] for r in out} | {r["consequent"] for r in out}
    assert "z" not in items


# --- link prediction ---------------------------------------------------------


def test_link_prediction_scores_path_graph(spark):
    from peskas_timor_data_pipeline_spark.operators.graph import (
        link_prediction_scores,
    )

    # path 1-2-3-4 plus 2-5: non-edges sharing a neighbor:
    # (1,3) via 2, (2,4) via 3, (1,5) via 2, (3,5) via 2
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5)], "src int, dst int"
    )
    out = {
        (r["x"], r["y"]): r
        for r in link_prediction_scores(edges, "src", "dst", top_r=10).collect()
    }
    assert set(out) == {(1, 3), (2, 4), (1, 5), (3, 5)}
    assert all(r["common_neighbors"] == 1 for r in out.values())
    # center 2 has degree 3, center 3 degree 2
    aa2 = math.floor(1e6 / math.log(3) + 0.5)
    aa3 = math.floor(1e6 / math.log(2) + 0.5)
    assert out[(1, 3)]["aa_micro"] == aa2
    assert out[(2, 4)]["aa_micro"] == aa3


def test_link_prediction_center_degree_cap(spark):
    from peskas_timor_data_pipeline_spark.operators.graph import (
        link_prediction_scores,
    )

    # star around hub 0 (degree 4) plus a path through node 9 (degree 2)
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (1, 9), (9, 2)],
        "src int, dst int",
    )
    capped = link_prediction_scores(
        edges, "src", "dst", top_r=100, max_center_degree=2
    ).collect()
    # hub-centered wedges (pairs among 1,2,3,4 through 0) dropped; what
    # survives: (0,9) through centers 1 and 2, (1,2) through center 9
    assert {(r["x"], r["y"]): r["common_neighbors"] for r in capped} == {
        (0, 9): 2,
        (1, 2): 1,
    }
    full = link_prediction_scores(edges, "src", "dst", top_r=100).collect()
    assert len(full) > len(capped)


# --- pointer-jump closure ----------------------------------------------------


def test_pointer_jump_closure_resolves_log_depth(spark):
    from peskas_timor_data_pipeline_spark.operators.graph import (
        pointer_jump_closure,
    )

    # chain 1 <- 2 <- 3 ... <- 20 (depth up to 19), root 1
    rows = [(k, max(k - 1, 1)) for k in range(1, 21)]
    nodes = spark.createDataFrame(rows, "node int, parent int")
    out = {r["node"]: r for r in
           pointer_jump_closure(nodes, "node", "parent", n_rounds=5).collect()}
    assert out[1]["depth"] == 0 and out[1]["resolved"]
    assert out[20]["depth"] == 19 and out[20]["root"] == 1
    assert all(r["resolved"] for r in out.values())
    # 2**5 = 32 >= 19: resolved; with 2 rounds only depth <= 4 resolves
    shallow = {r["node"]: r for r in
               pointer_jump_closure(nodes, "node", "parent", n_rounds=2).collect()}
    assert shallow[20]["resolved"] is False
    assert shallow[5]["resolved"] is True  # depth 4 = 2**2


def test_pointer_jump_closure_forest_and_dangling(spark):
    from peskas_timor_data_pipeline_spark.operators.graph import (
        pointer_jump_closure,
    )

    # two roots (1, 10); node 30's parent 99 is absent -> freezes, unresolved
    rows = [(1, 1), (2, 1), (10, 10), (11, 10), (12, 11), (30, 99)]
    nodes = spark.createDataFrame(rows, "node int, parent int")
    out = {r["node"]: r for r in
           pointer_jump_closure(nodes, "node", "parent", n_rounds=4).collect()}
    assert out[2]["root"] == 1 and out[2]["depth"] == 1
    assert out[12]["root"] == 10 and out[12]["depth"] == 2
    assert out[30]["root"] == 99 and out[30]["resolved"] is False


# --- Mann-Whitney ------------------------------------------------------------


def test_mann_whitney_matches_scipy_convention(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        mann_whitney_u,
    )

    # a = [1,2,3], b = [4,5,6]: U_a = 0 (every a below every b)
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0),
            ("b", 4.0), ("b", 5.0), ("b", 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert out["n_a"] == 3 and out["n_b"] == 3
    assert out["u_a"] == 0.0
    # z = (0 - 4.5) / sqrt(3*3*7/12) = -4.5 / 2.2913
    assert out["z"] == pytest.approx(-4.5 / math.sqrt(3 * 3 * 7 / 12), abs=1e-6)


def test_mann_whitney_ties_midrank(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        mann_whitney_u,
    )

    # all six values tied -> U_a = n_a*n_b/2, var = 0 -> NULL stats
    rows = [("a", 2.0)] * 3 + [("b", 2.0)] * 3
    df = spark.createDataFrame(rows, "g string, v double")
    out = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert out["u_a"] is None and out["z"] is None


# --- chi-square --------------------------------------------------------------


def test_chi_square_independence_2x2(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        chi_square_independence,
    )

    # classic 2x2: rows (10,20 / 30,40) -> chi2 = 100*1/(30*70)*...
    rows = (
        [("r1", "c1")] * 10 + [("r1", "c2")] * 20
        + [("r2", "c1")] * 30 + [("r2", "c2")] * 40
    )
    df = spark.createDataFrame(rows, "a string, b string")
    out = chi_square_independence(df, "a", "b").collect()
    assert len(out) == 4
    assert out[0]["dof"] == 1
    # chi2 for this table = 100 * (10*40 - 20*30)^2 / (30*70*40*60)
    expect = 100 * (10 * 40 - 20 * 30) ** 2 / (30 * 70 * 40 * 60)
    assert out[0]["chi2_micro"] / 1e6 == pytest.approx(expect, abs=4e-6)
    cell = {(r["a"], r["b"]): r for r in out}[("r1", "c1")]
    assert cell["obs"] == 10
    assert cell["expected"] == pytest.approx(30 * 40 / 100)


# --- ACF ---------------------------------------------------------------------


def test_autocorrelation_alternating_series(spark):
    from peskas_timor_data_pipeline_spark.operators.timeseries import (
        autocorrelation,
    )

    xs = [1, 0] * 10  # strict alternation
    df = spark.createDataFrame(list(enumerate(xs)), "i int, x int")
    out = {r["lag"]: r for r in autocorrelation(df, "i", "x", max_lag=3).collect()}
    # numpy-checked truth for the biased (global-denominator) estimator
    n = len(xs)
    m = sum(xs) / n
    den = sum((x - m) ** 2 for x in xs)

    def ref(l):
        return round(sum((xs[t] - m) * (xs[t + l] - m) for t in range(n - l)) / den, 6)

    for lag in (1, 2, 3):
        assert out[lag]["acf"] == pytest.approx(ref(lag), abs=1e-6)
        assert out[lag]["n_pairs"] == n - lag


def test_autocorrelation_constant_series_null(spark):
    from peskas_timor_data_pipeline_spark.operators.timeseries import (
        autocorrelation,
    )

    df = spark.createDataFrame([(i, 5) for i in range(8)], "i int, x int")
    out = autocorrelation(df, "i", "x", max_lag=2).collect()
    assert all(r["acf"] is None for r in out)


# --- attribution -------------------------------------------------------------


def test_multi_touch_attribution_credits(spark):
    from peskas_timor_data_pipeline_spark.operators.funnel import (
        multi_touch_attribution,
    )

    rows = [
        # user 1: ad, email, PURCHASE -> window of 2 touches
        (1, 1, "ad"), (1, 2, "email"), (1, 3, "purchase"),
        # user 1 second window: ad then PURCHASE -> 1 touch
        (1, 4, "ad"), (1, 5, "purchase"),
        # user 2: touches but no conversion -> no credit
        (2, 1, "ad"), (2, 2, "email"),
    ]
    df = spark.createDataFrame(rows, "u int, t int, typ string")
    out = {r["channel"]: r for r in multi_touch_attribution(
        df, "u", ["t"], "typ", "purchase").collect()}
    assert set(out) == {"ad", "email"}
    # last touch: email closes window 1, ad closes window 2
    assert out["email"]["last_touch_conversions"] == 1
    assert out["ad"]["last_touch_conversions"] == 1
    # linear: window 1 splits 500000/500000; window 2 gives ad 1000000
    assert out["ad"]["linear_credit_micro"] == 500000 + 1000000
    assert out["email"]["linear_credit_micro"] == 500000
    assert out["ad"]["n_touches"] == 2


def test_multi_touch_attribution_empty_window(spark):
    from peskas_timor_data_pipeline_spark.operators.funnel import (
        multi_touch_attribution,
    )

    # back-to-back purchases: second window empty, no crash, no rows
    rows = [(1, 1, "purchase"), (1, 2, "purchase")]
    df = spark.createDataFrame(rows, "u int, t int, typ string")
    assert multi_touch_attribution(df, "u", ["t"], "typ", "purchase").count() == 0


# --- readability -------------------------------------------------------------


def test_readability_scores_known_text(spark):
    from peskas_timor_data_pipeline_spark.llm.text import readability_scores

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"), (2, ""), (3, "rhythm")],
        "doc_id int, text string",
    )
    out = {r["id"]: r for r in readability_scores(df, "doc_id", "text").collect()}
    r1 = out[1]
    assert r1["n_words"] == 6 and r1["n_sentences"] == 2
    # 6 one-syllable words (vowel runs: e/a, a, a, e, o, a)
    assert r1["n_syllables"] == 6
    expect = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    assert r1["flesch"] == pytest.approx(expect, abs=1e-6)
    assert r1["band"] == "very_easy"
    # empty text -> NULL score, zero counts
    assert out[2]["n_words"] == 0 and out[2]["flesch"] is None
    # no vowels -> floor of one syllable
    assert out[3]["n_syllables"] == 1


# --- rank-2 PCA --------------------------------------------------------------


def test_pca_top2_recovers_axes(spark):
    from peskas_timor_data_pipeline_spark.llm.similarity import pca_top2

    # synthetic 4-dim data: dim1 variance >> dim3 variance >> rest
    rows = []
    for i in range(40):
        v = [0.0, 0.0, 0.0, 0.0]
        v[0] = 10.0 if i % 2 == 0 else -10.0
        v[2] = 3.0 if i % 4 < 2 else -3.0
        v[3] = 0.01 * (i % 5)
        rows.append((i, v))
    df = spark.createDataFrame(rows, "id int, embedding array<double>")
    out = pca_top2(df, "embedding", dim=4, n_iter=3).collect()
    comp1 = {r["i"]: r["loading"] for r in out if r["comp"] == 1}
    comp2 = {r["i"]: r["loading"] for r in out if r["comp"] == 2}
    eig1 = [r["eigenvalue"] for r in out if r["comp"] == 1][0]
    eig2 = [r["eigenvalue"] for r in out if r["comp"] == 2][0]
    # dominant direction is axis 1, second is axis 3 (1-indexed)
    assert abs(comp1[1]) == pytest.approx(1.0)
    assert abs(comp1[3]) < 0.05
    assert abs(comp2[3]) == pytest.approx(1.0, abs=0.05)
    assert abs(comp2[1]) < 0.05
    assert eig1 > eig2 > 0
    assert len(out) == 8


def test_pca_top2_matches_top_eigenvector_for_comp1(spark):
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        pca_top2,
        top_eigenvector,
    )

    rows = [(i, [float(i % 7), float((3 * i) % 5), float(i % 2)])
            for i in range(30)]
    df = spark.createDataFrame(rows, "id int, embedding array<double>")
    solo = {r["i"]: (r["component"], r["eigenvalue"])
            for r in top_eigenvector(df, "embedding", dim=3, n_iter=3).collect()}
    duo = {r["i"]: (r["loading"], r["eigenvalue"])
           for r in pca_top2(df, "embedding", dim=3, n_iter=3).collect()
           if r["comp"] == 1}
    assert solo == duo


# --- Kruskal-Wallis ----------------------------------------------------------


def test_kruskal_wallis_textbook_example(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        kruskal_wallis,
    )

    # three clearly separated groups, no ties -> big H
    rows = (
        [("a", float(v)) for v in (1, 2, 3)]
        + [("b", float(v)) for v in (4, 5, 6)]
        + [("c", float(v)) for v in (7, 8, 9)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = kruskal_wallis(df, "g", "v").collect()[0]
    # ranks 1..9; R_a=6, R_b=15, R_c=24; H = 12/(9*10)*(36/3+225/3+576/3)-30
    expect = 12 / 90 * ((36 + 225 + 576) / 3) - 30
    assert out["n_total"] == 9 and out["k_groups"] == 3 and out["dof"] == 2
    assert out["h"] == pytest.approx(expect, abs=1e-6)
    assert out["h_corrected"] == pytest.approx(expect, abs=1e-6)  # no ties


def test_kruskal_wallis_all_tied_null(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        kruskal_wallis,
    )

    df = spark.createDataFrame(
        [("a", 1.0)] * 3 + [("b", 1.0)] * 3, "g string, v double"
    )
    out = kruskal_wallis(df, "g", "v").collect()[0]
    assert out["h"] is None and out["h_corrected"] is None


# --- Spearman ----------------------------------------------------------------


def test_spearman_perfect_monotone(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        spearman_correlation,
    )

    rows = [(float(i), float(i * i)) for i in range(1, 11)]  # monotone, nonlinear
    df = spark.createDataFrame(rows, "x double, y double")
    out = spearman_correlation(df, "x", "y", grid_x=1, grid_y=1).collect()[0]
    assert out["n"] == 10
    assert out["rho"] == pytest.approx(1.0)
    anti = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(1, 11)], "x double, y double"
    )
    out2 = spearman_correlation(anti, "x", "y", grid_x=1, grid_y=1).collect()[0]
    assert out2["rho"] == pytest.approx(-1.0)


def test_spearman_ties_match_scipy_convention(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        spearman_correlation,
    )

    xs = [1.0, 2.0, 2.0, 3.0]
    ys = [10.0, 20.0, 20.0, 10.0]
    df = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
    out = spearman_correlation(df, "x", "y", grid_x=1, grid_y=1).collect()[0]
    # midranks x: 1, 2.5, 2.5, 4; y: 1.5, 3.5, 3.5, 1.5 -> pearson of those
    import statistics as st
    rx, ry = [1, 2.5, 2.5, 4], [1.5, 3.5, 3.5, 1.5]
    mx, my = st.mean(rx), st.mean(ry)
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = (sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)) ** 0.5
    assert out["rho"] == pytest.approx(num / den, abs=1e-6)


# --- Holt linear -------------------------------------------------------------


def test_holt_linear_matches_sequential_replay(spark):
    from peskas_timor_data_pipeline_spark.operators.timeseries import (
        holt_linear,
    )

    xs = [10, 12, 15, 14, 18, 21, 20, 25]
    df = spark.createDataFrame(
        [("s", i, x) for i, x in enumerate(xs)], "k string, i int, x int"
    )
    out = holt_linear(df, "k", "i", "x", alpha=0.5, beta=0.3).collect()[0]
    l, b = float(xs[0]), 0.0
    for x in xs[1:]:
        l2 = 0.5 * x + 0.5 * (l + b)
        b = 0.3 * (l2 - l) + 0.7 * b
        l = l2
    assert out["n_points"] == len(xs)
    assert out["level"] == pytest.approx(l, abs=1e-6)
    assert out["trend"] == pytest.approx(b, abs=1e-6)
    assert out["forecast_1"] == pytest.approx(l + b, abs=1e-6)


def test_holt_linear_single_point(spark):
    from peskas_timor_data_pipeline_spark.operators.timeseries import (
        holt_linear,
    )

    df = spark.createDataFrame([("s", 0, 7)], "k string, i int, x int")
    out = holt_linear(df, "k", "i", "x").collect()[0]
    assert out["n_points"] == 1
    assert out["level"] == 7.0 and out["trend"] == 0.0
    assert out["forecast_1"] == 7.0


# --- PCA scores --------------------------------------------------------------


def test_pca_scores_separate_clusters(spark):
    from peskas_timor_data_pipeline_spark.llm.similarity import pca_scores

    # two clusters offset along dim 1 -> score1 separates them
    rows = []
    for i in range(40):
        base = 5.0 if i % 2 == 0 else -5.0
        rows.append((i, [base + 0.01 * (i % 3), 0.1 * (i % 5), 0.0]))
    df = spark.createDataFrame(rows, "id int, embedding array<double>")
    out = pca_scores(df, "id", "embedding", dim=3, n_iter=3).collect()
    s_even = [r["score1"] for r in out if r["id"] % 2 == 0]
    s_odd = [r["score1"] for r in out if r["id"] % 2 == 1]
    # same sign within cluster, opposite across
    assert all(v > 2 for v in s_even) != all(v > 2 for v in s_odd)
    assert abs(sum(s_even) / len(s_even) - sum(s_odd) / len(s_odd)) > 5
    # scores are centered: overall mean ~ 0
    allv = [r["score1"] for r in out]
    assert abs(sum(allv) / len(allv)) < 0.5


# --- HITS --------------------------------------------------------------------


def test_hits_scores_bipartite_hand_graph(spark):
    from peskas_timor_data_pipeline_spark.operators.graph import hits_scores

    # hubs 1,2,3 -> authorities 10,20: node 10 cited by all three,
    # 20 by one; hub 1 points at both, hubs 2,3 only at 10
    edges = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (3, 10)], "src int, dst int"
    )
    out = hits_scores(edges, "src", "dst", n_rounds=3, top_r=10).collect()
    hubs = {r["node"]: r["score_nano"] for r in out if r["side"] == "hub"}
    auth = {r["node"]: r["score_nano"] for r in out if r["side"] == "authority"}
    # python replay of the integer recursion
    NANO = 1_000_000_000
    h = {1: NANO, 2: NANO, 3: NANO}
    a = {}
    E = [(1, 10), (1, 20), (2, 10), (3, 10)]
    for _ in range(3):
        raw_a = {}
        for s, d in E:
            raw_a[d] = raw_a.get(d, 0) + h[s]
        m = max(raw_a.values())
        a = {d: v * NANO // m for d, v in raw_a.items()}
        raw_h = {}
        for s, d in E:
            raw_h[s] = raw_h.get(s, 0) + a[d]
        m = max(raw_h.values())
        h = {s: v * NANO // m for s, v in raw_h.items()}
    assert hubs == h
    assert auth == a
    # structural sanity: 10 is the top authority, 1 the top hub
    assert max(auth, key=auth.get) == 10
    assert max(hubs, key=hubs.get) == 1


def test_hits_top_r_truncates_deterministically(spark):
    from peskas_timor_data_pipeline_spark.operators.graph import hits_scores

    edges = spark.createDataFrame(
        [(s, d) for s in range(6) for d in range(100, 104)],
        "src int, dst int",
    )
    out = hits_scores(edges, "src", "dst", n_rounds=2, top_r=3).collect()
    assert sum(1 for r in out if r["side"] == "hub") == 3
    assert sum(1 for r in out if r["side"] == "authority") == 3
    # complete bipartite: every score saturates at NANO; tie-break by node
    assert [r["node"] for r in out if r["side"] == "hub"] == [0, 1, 2]


# --- decayed aggregation -------------------------------------------------------


def test_decayed_aggregate_halves_per_half_life(spark):
    import datetime as dt

    from peskas_timor_data_pipeline_spark.operators.funnel import (
        decayed_aggregate,
    )

    rows = [
        ("s", dt.datetime(2024, 1, 10, 12, 0), 10.0),   # age 0 at as_of
        ("s", dt.datetime(2024, 1, 3, 12, 0), 10.0),    # age 7 = 1 half-life
        ("s", dt.datetime(2023, 12, 27, 12, 0), 10.0),  # age 14 = 2
        ("s", dt.datetime(2024, 1, 20, 12, 0), 4.0),    # future -> clamp 0
    ]
    df = spark.createDataFrame(rows, "src string, ts timestamp, v double")
    out = decayed_aggregate(
        df, ["src"], "ts", "v", as_of="2024-01-10", half_life_days=7
    ).collect()[0]
    assert out["n_events"] == 4
    # weights: 1, 0.5, 0.25, 1 -> 2.75e6 micro
    assert out["decayed_count_micro"] == pytest.approx(2_750_000, abs=2)
    # value mass: 10 + 5 + 2.5 + 4 = 21.5e6 micro
    assert out["decayed_value_micro"] == pytest.approx(21_500_000, abs=4)


def test_decayed_aggregate_integer_sums_are_exact(spark):
    import datetime as dt

    from peskas_timor_data_pipeline_spark.operators.funnel import (
        decayed_aggregate,
    )

    import math as m

    rows = [("s", dt.datetime(2024, 1, 1 + (i % 9), 6, 0), 1.0)
            for i in range(200)]
    df = spark.createDataFrame(rows, "src string, ts timestamp, v double")
    out = decayed_aggregate(
        df, ["src"], "ts", "v", as_of="2024-01-10", half_life_days=7
    ).collect()[0]
    expect = sum(
        m.floor(1e6 * m.exp(-m.log(2.0) / 7.0 * ((9 - (i % 9)))) + 0.5)
        for i in range(200)
    )
    assert out["decayed_count_micro"] == expect


# --- IVF cell split ------------------------------------------------------------


def test_ivf_cell_split_hot_cluster(spark):
    from peskas_timor_data_pipeline_spark.llm.similarity import ivf_cell_split

    # two tight direction-clusters; the bigger one becomes the hot cell.
    # within the hot cluster, dim 3 carries the variance (bimodal +-2).
    rows = []
    for i in range(40):
        rows.append((i, [10.0, 0.1 * (i % 3), (2.0 if i % 2 == 0 else -2.0), 0.0]))
    for i in range(40, 50):
        rows.append((i, [0.0, 10.0, 0.05 * (i % 2), 0.0]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = ivf_cell_split(df, "vec_id", "embedding", n_cells=2, dim=4).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_hot"] == 40
    assert r["split_dim"] == 3
    # bimodal +-2 -> threshold ~ 0, halves 20/20
    assert abs(r["threshold"]) < 0.01
    assert r["n_low"] == 20 and r["n_high"] == 20
    assert r["n_cells_used"] == 2
    # 40 vs avg 25 -> 1.6 before; after: max(20,20,10)/avg(50/3)
    assert r["imbalance_before"] == pytest.approx(40 / 25, abs=1e-6)
    assert r["imbalance_after"] == pytest.approx(20 / (50 / 3), abs=1e-6)
    assert r["imbalance_after"] < r["imbalance_before"]


# --- classifier evaluation suite -----------------------------------------------


def test_classification_report_hand_matrix(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        classification_report,
    )

    rows = (
        [("a", "a")] * 8 + [("a", "b")] * 2       # a: tp 8, fn 2
        + [("b", "b")] * 5 + [("b", "a")] * 5     # b: tp 5, fn 5; a gets 5 fp
        + [("c", "a")] * 3                        # c never predicted
    )
    df = spark.createDataFrame(rows, "t string, p string")
    out = {r["label"]: r for r in classification_report(df, "t", "p").collect()}
    a = out["a"]
    assert (a["support"], a["tp"], a["fp"], a["fn"]) == (10, 8, 8, 2)
    assert a["precision"] == pytest.approx(8 / 16)
    assert a["recall"] == pytest.approx(8 / 10)
    f1 = 2 * 0.5 * 0.8 / (0.5 + 0.8)
    assert a["f1"] == pytest.approx(f1, abs=1e-6)
    c = out["c"]
    assert c["support"] == 3 and c["tp"] == 0
    assert c["precision"] is None  # never predicted
    assert c["recall"] == 0.0


def test_roc_auc_perfect_and_random(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import roc_auc

    # perfectly separable: positives all score above negatives
    rows = [(1, 0.9), (1, 0.8), (1, 0.7), (0, 0.3), (0, 0.2), (0, 0.1)]
    df = spark.createDataFrame(rows, "y int, s double")
    out = roc_auc(df, "y", "s").collect()[0]
    assert out["auc"] == 1.0 and out["gini"] == 1.0
    # all tied: AUC = 0.5 by the midrank convention
    tied = spark.createDataFrame([(1, 0.5)] * 3 + [(0, 0.5)] * 3, "y int, s double")
    out2 = roc_auc(tied, "y", "s").collect()[0]
    assert out2["auc"] == 0.5
    # single class -> NULL
    mono = spark.createDataFrame([(1, 0.5)] * 3, "y int, s double")
    assert roc_auc(mono, "y", "s").collect()[0]["auc"] is None


def test_roc_auc_matches_pairwise_probability(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import roc_auc

    import itertools
    rows = [(1, 0.9), (1, 0.4), (1, 0.4), (0, 0.6), (0, 0.4), (0, 0.1)]
    df = spark.createDataFrame(rows, "y int, s double")
    out = roc_auc(df, "y", "s").collect()[0]
    pos = [s for y, s in rows if y == 1]
    neg = [s for y, s in rows if y == 0]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0)
        for p, n in itertools.product(pos, neg)
    )
    assert out["auc"] == pytest.approx(wins / (len(pos) * len(neg)), abs=1e-6)


def test_calibration_ece_perfect_and_offset(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        calibration_ece,
    )

    # bin-constant scores with exactly matching frequencies -> ECE ~ 0
    rows = []
    for _ in range(10):
        rows += [(0.25, 1), (0.25, 0), (0.25, 0), (0.25, 0)]   # 25% pos
        rows += [(0.75, 1), (0.75, 1), (0.75, 1), (0.75, 0)]   # 75% pos
    df = spark.createDataFrame(rows, "p double, y int")
    out = calibration_ece(df, "p", "y", n_bins=4).collect()[0]
    assert out["n"] == 80 and out["n_bins_used"] == 2
    assert out["ece_micro"] <= 2
    # systematic over-confidence: scores 0.9, actual 50% -> gap 0.4
    off = spark.createDataFrame(
        [(0.9, 1), (0.9, 0)] * 20, "p double, y int"
    )
    out2 = calibration_ece(off, "p", "y", n_bins=4).collect()[0]
    assert out2["ece_micro"] == pytest.approx(400_000, abs=5)
    assert out2["max_ce_micro"] == pytest.approx(400_000, abs=5)


# --- Good-Turing + power analysis ----------------------------------------------


def test_good_turing_hand_corpus(spark):
    from peskas_timor_data_pipeline_spark.llm.text import good_turing_coverage

    # tokens: a a a b b c d e -> S(1)=3 (c,d,e), S(2)=1 (b), S(3)=1 (a)
    df = spark.createDataFrame(
        [(1, "a a a b b"), (2, "c d e")], "doc_id int, text string"
    )
    out = {r["r"]: r for r in good_turing_coverage(df, "text", max_r=3).collect()}
    assert out[1]["s_r"] == 3 and out[2]["s_r"] == 1 and out[3]["s_r"] == 1
    assert out[1]["n_tokens"] == 8 and out[1]["n_types"] == 5
    # missing mass = S(1)/N = 3/8
    assert out[1]["missing_mass"] == pytest.approx(3 / 8)
    assert out[1]["coverage"] == pytest.approx(5 / 8)
    # r* (1) = 2 * S(2)/S(1) = 2/3; r* (2) = 3 * S(3)/S(2) = 3
    assert out[1]["r_star"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[2]["r_star"] == pytest.approx(3.0)
    # S(4) = 0 -> r*(3) undefined
    assert out[3]["r_star"] is None


def test_required_sample_size_matches_fleiss(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        required_sample_size,
    )

    import math as m
    rows = [("seg", 1)] * 20 + [("seg", 0)] * 80   # p1 = 0.2
    df = spark.createDataFrame(rows, "g string, s int")
    out = required_sample_size(
        df, ["g"], "s = 1", rel_mde=0.25
    ).collect()[0]
    p1, p2 = 0.2, 0.25
    pbar = (p1 + p2) / 2
    num = (1.959964 * m.sqrt(2 * pbar * (1 - pbar))
           + 0.841621 * m.sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
    expect = m.ceil(num * num / (p2 - p1) ** 2)
    assert out["p1"] == pytest.approx(0.2)
    assert out["p2"] == pytest.approx(0.25)
    assert out["n_per_arm"] == expect
    # saturated baseline -> NULLs
    sat = spark.createDataFrame([("s", 1)] * 10, "g string, s int")
    out2 = required_sample_size(sat, ["g"], "s = 1", rel_mde=0.1).collect()[0]
    assert out2["n_per_arm"] is None


# --- Brown-Forsythe ------------------------------------------------------------


def test_brown_forsythe_matches_scipy_formula(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        brown_forsythe,
    )

    # group a tight around 5, group b spread 0..10 (integer lattice grid=1)
    a = [5, 5, 5, 6, 4, 5, 5, 6, 4, 5]
    b = [0, 10, 1, 9, 2, 8, 0, 10, 5, 5]
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    out = brown_forsythe(df, "g", "v", grid=1).collect()[0]

    def z(vals):
        med = sorted(vals)[(len(vals) - 1) // 2]  # lower median
        return [abs(v - med) for v in vals]

    za, zb = z(a), z(b)
    allz = za + zb
    n, k = len(allz), 2
    gm = sum(allz) / n
    ma, mb = sum(za) / len(za), sum(zb) / len(zb)
    ssb = len(za) * (ma - gm) ** 2 + len(zb) * (mb - gm) ** 2
    ssw = sum((v - ma) ** 2 for v in za) + sum((v - mb) ** 2 for v in zb)
    expect = (ssb / (k - 1)) / (ssw / (n - k))
    assert out["n_total"] == 20 and out["k_groups"] == 2
    assert out["df1"] == 1 and out["df2"] == 18
    assert out["f_stat"] == pytest.approx(expect, abs=1e-5)


def test_brown_forsythe_equal_spread_small_f(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        brown_forsythe,
    )

    rows = [("a", float(v)) for v in range(10)] + [
        ("b", float(v + 100)) for v in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = brown_forsythe(df, "g", "v", grid=1).collect()[0]
    # identical spreads at different locations -> F ~ 0
    assert out["f_stat"] is not None and out["f_stat"] < 0.01


# --- Kaplan-Meier --------------------------------------------------------------


def test_kaplan_meier_textbook_curve(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        kaplan_meier,
    )

    # classic small example: events at t=1 (2 of 10), t=3 (1 of 7 after
    # a censor at 2), censor at 2 and 5
    rows = (
        [(1, 1)] * 2 + [(2, 0)] * 1 + [(3, 1)] * 1 + [(5, 0)] * 6
    )
    df = spark.createDataFrame(rows, "dur int, ev int")
    out = {r["t"]: r for r in kaplan_meier(df, "dur", "ev").collect()}
    assert set(out) == {1, 3}
    # t=1: n_risk 10, d 2 -> S = 0.8
    assert out[1]["n_risk"] == 10 and out[1]["n_events"] == 2
    assert out[1]["survival"] == pytest.approx(0.8, abs=1e-6)
    # t=3: n_risk 7 (one censored at 2), d 1 -> S = 0.8 * 6/7
    assert out[3]["n_risk"] == 7
    assert out[3]["survival"] == pytest.approx(0.8 * 6 / 7, abs=1e-6)


def test_kaplan_meier_full_failure_hits_zero(spark):
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        kaplan_meier,
    )

    rows = [(1, 1)] * 3 + [(2, 1)] * 2  # everyone fails by t=2
    df = spark.createDataFrame(rows, "dur int, ev int")
    out = {r["t"]: r for r in kaplan_meier(df, "dur", "ev").collect()}
    assert out[1]["survival"] == pytest.approx(0.4, abs=1e-6)
    assert out[2]["survival"] == 0.0


# --- empty-input robustness (the r07 2b3dfa3 convention) -----------------------


def test_round8_operators_survive_empty_inputs(spark):
    """Every round-8 operator must handle an empty frame without ANSI
    division errors or crashes — returning an empty or NULL-stat result."""
    import datetime as dt

    from peskas_timor_data_pipeline_spark.llm.similarity import (
        pca_scores,
        pca_top2,
        top_eigenvector,
    )
    from peskas_timor_data_pipeline_spark.llm.text import (
        good_turing_coverage,
        readability_scores,
    )
    from peskas_timor_data_pipeline_spark.operators.affinity import (
        association_rules,
    )
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        brown_forsythe,
        calibration_ece,
        chi_square_independence,
        classification_report,
        kaplan_meier,
        kruskal_wallis,
        mann_whitney_u,
        required_sample_size,
        roc_auc,
        spearman_correlation,
    )
    from peskas_timor_data_pipeline_spark.operators.funnel import (
        decayed_aggregate,
        multi_touch_attribution,
    )
    from peskas_timor_data_pipeline_spark.operators.graph import (
        hits_scores,
        link_prediction_scores,
        pointer_jump_closure,
    )
    from peskas_timor_data_pipeline_spark.operators.timeseries import (
        autocorrelation,
        holt_linear,
    )

    e_gv = spark.createDataFrame([], "g string, v double")
    e_edges = spark.createDataFrame([], "src int, dst int")
    e_nodes = spark.createDataFrame([], "node int, parent int")
    e_bi = spark.createDataFrame([], "basket int, item string")
    e_ix = spark.createDataFrame([], "i int, x int")
    e_kix = spark.createDataFrame([], "k string, i int, x int")
    e_ut = spark.createDataFrame([], "u int, t int, typ string")
    e_doc = spark.createDataFrame([], "doc_id int, text string")
    e_emb = spark.createDataFrame([], "id int, embedding array<double>")
    e_tp = spark.createDataFrame([], "t string, p string")
    e_ys = spark.createDataFrame([], "y int, s double")
    e_de = spark.createDataFrame([], "dur int, ev int")
    e_ts = spark.createDataFrame([], "src string, ts timestamp, v double")

    assert association_rules(e_bi, "basket", "item", 2).count() == 0
    assert link_prediction_scores(e_edges, "src", "dst").count() == 0
    assert pointer_jump_closure(e_nodes, "node", "parent").count() == 0
    assert hits_scores(e_edges, "src", "dst").count() == 0
    mw = mann_whitney_u(e_gv, "g", "v", "a", "b").collect()[0]
    assert mw["u_a"] is None
    kw = kruskal_wallis(e_gv, "g", "v").collect()[0]
    assert kw["h"] is None
    assert chi_square_independence(e_tp, "t", "p").count() == 0
    sp = spearman_correlation(e_gv, "g", "v", 1, 1).collect()[0]
    assert sp["rho"] is None
    assert autocorrelation(e_ix, "i", "x", 3).count() == 0
    assert holt_linear(e_kix, "k", "i", "x").count() == 0
    assert multi_touch_attribution(e_ut, "u", ["t"], "typ", "buy").count() == 0
    assert decayed_aggregate(
        e_ts, ["src"], "ts", "v", as_of="2024-01-01"
    ).count() == 0
    assert readability_scores(e_doc, "doc_id", "text").count() == 0
    gt = good_turing_coverage(e_doc, "text", max_r=2).collect()
    assert len(gt) == 2 and all(r["missing_mass"] is None for r in gt)
    assert classification_report(e_tp, "t", "p").count() == 0
    ra = roc_auc(e_ys, "y", "s").collect()[0]
    assert ra["auc"] is None
    ece = calibration_ece(e_ys, "s", "y").collect()[0]
    assert ece["ece_micro"] is None or ece["ece_micro"] == 0
    assert required_sample_size(e_ys, ["y"], "s > 0").count() == 0
    bf = brown_forsythe(e_gv, "g", "v").collect()[0]
    assert bf["f_stat"] is None
    assert kaplan_meier(e_de, "dur", "ev").count() == 0
    assert pca_top2(e_emb, "embedding", dim=2, n_iter=1).count() == 2 * 2
    assert pca_scores(e_emb, "id", "embedding", dim=2, n_iter=1).count() == 0
    te = top_eigenvector(e_emb, "embedding", dim=2, n_iter=1).collect()
    assert len(te) == 2
    assert all(r["component"] is None and r["eigenvalue"] is None for r in te)


# --- RFM ----------------------------------------------------------------------


def test_rfm_segments_hand_grid(spark):
    import datetime as dt

    from peskas_timor_data_pipeline_spark.operators.funnel import rfm_segments

    # 4 customers, 2 tiles: clear recency/frequency/monetary ordering
    rows = [
        # cust 1: recent, frequent, big spender
        (1, dt.datetime(2024, 1, 28), 100.0),
        (1, dt.datetime(2024, 1, 29), 100.0),
        (1, dt.datetime(2024, 1, 30), 100.0),
        # cust 2: recent-ish, 2 orders, medium
        (2, dt.datetime(2024, 1, 20), 50.0),
        (2, dt.datetime(2024, 1, 25), 50.0),
        # cust 3: stale, 1 order, small
        (3, dt.datetime(2024, 1, 5), 10.0),
        # cust 4: stalest, 1 order, tiny
        (4, dt.datetime(2024, 1, 1), 1.0),
    ]
    df = spark.createDataFrame(rows, "cust int, ts timestamp, amt double")
    out = rfm_segments(
        df, "cust", "ts", "amt", as_of="2024-01-31", n_tiles=2
    ).collect()
    segs = {(r["r_score"], r["f_score"], r["m_score"]): r for r in out}
    # customers 1,2 are the recent/frequent/big half -> (2,2,2)
    top = segs[(2, 2, 2)]
    assert top["n_customers"] == 2
    assert top["total_orders"] == 5
    assert top["total_monetary_cents"] == 30000 + 10000
    # customers 3,4 land in the bottom tile on all axes
    bottom = segs[(1, 1, 1)]
    assert bottom["n_customers"] == 2
    assert bottom["total_monetary_cents"] == 1000 + 100


def test_rfm_tile_sizes_follow_sql_standard(spark):
    import datetime as dt

    from peskas_timor_data_pipeline_spark.operators.funnel import rfm_segments

    # 7 customers into 3 tiles -> sizes 3/2/2 (first n mod k larger)
    rows = [
        (c, dt.datetime(2024, 1, c), float(c)) for c in range(1, 8)
    ]
    df = spark.createDataFrame(rows, "cust int, ts timestamp, amt double")
    out = rfm_segments(
        df, "cust", "ts", "amt", as_of="2024-01-31", n_tiles=3
    ).collect()
    per_m = {}
    for r in out:
        per_m[r["m_score"]] = per_m.get(r["m_score"], 0) + r["n_customers"]
    assert per_m == {1: 3, 2: 2, 3: 2}
