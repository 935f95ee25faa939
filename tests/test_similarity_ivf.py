"""IVF ANN: structure + recall against the exact brute-force baseline."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _split(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    candidates = emb.filter(F.col("vec_id") >= 10)
    return queries, candidates


def test_ivf_structure_and_recall_vs_bruteforce(spark):
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    queries, candidates = _split(spark)
    exact = cosine_topk_bruteforce(
        queries, candidates, "vec_id", "embedding", k=1, dim=64
    )
    approx = cosine_topk_ivf(
        queries, candidates, "vec_id", "embedding",
        k=1, dim=64, n_cells=8, n_probe=4,
    )
    ex = {r.query_id: r.cand_id for r in exact.collect()}
    ap = {r.query_id: r.cand_id for r in approx.collect()}
    assert set(ap) == set(ex)  # every query answered
    recall = sum(ap[q] == ex[q] for q in ex) / len(ex)
    # probing half the cells of a seeded quantizer must find most true
    # top-1s; the floor is loose because the synthetic vectors are near-
    # uniform (hardest case for any ANN partitioner)
    assert recall >= 0.5, f"recall@1 {recall}"


def test_ivf_cells_partition_candidates(spark):
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        ivf_centroids,
        cosine_topk_ivf,  # noqa: F401  (import exercises registration)
    )

    _, candidates = _split(spark)
    cents = ivf_centroids(candidates, "vec_id", "embedding", n_cells=8, dim=64)
    rows = cents.collect()
    assert len(rows) == 8
    # centroids are drawn from the candidate set, deterministically
    cand_ids = {r.vec_id for r in candidates.select("vec_id").collect()}
    assert {r.cell_id for r in rows} <= cand_ids
    again = {r.cell_id for r in ivf_centroids(candidates, "vec_id", "embedding", 8, 64).collect()}
    assert again == {r.cell_id for r in rows}


def test_pq_encode_codes_and_reconstruction(spark):
    """PQ: codebook vectors encode to themselves with zero reconstruction
    error; every code is a valid 1..k id; recon_err grows with distance
    from the codebook."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.similarity import pq_encode

    rng = np.random.RandomState(3)
    base = [rng.uniform(-1, 1, 16).round(3).tolist() for _ in range(20)]
    rows = [(i, v) for i, v in enumerate(base)]
    # one far-away outlier vector
    rows.append((99, (np.ones(16) * 9.0).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in pq_encode(df, "vec_id", "embedding", dim=16, m_sub=4, k=8).collect()}
    assert len(out) == 21
    for r in out.values():
        assert len(r.codes) == 4
        assert all(1 <= c <= 8 for c in r.codes)
        assert r.recon_err >= 0
    # the 8 seeded codebook members reconstruct exactly (their own entry)
    zero_err = [v for v in out.values() if abs(v.recon_err) < 1e-12]
    assert len(zero_err) >= 8
    # the outlier is far from every codebook entry
    assert out[99].recon_err > max(v.recon_err for k, v in out.items() if k != 99)


def test_pq_adc_self_distance_equals_recon_err(spark):
    """ADC(q, x) with q == x equals x's reconstruction error (the lookup
    tables are exact w.r.t. the quantized representation), and the top-1
    neighbor of a codebook member is itself at distance 0."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    rng = np.random.RandomState(5)
    rows = [(i, rng.uniform(-1, 1, 16).round(3).tolist()) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_codebook(df, "vec_id", "embedding", k=8)
    enc = pq_encode(df, "vec_id", "embedding", dim=16, m_sub=4, k=8)
    recon = {r.vec_id: r.recon_err for r in enc.collect()}
    out = pq_adc_topk(df, enc, cb, "vec_id", "embedding", dim=16, m_sub=4, k_top=24)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r.query_id, {})[r.cand_id] = r
    for qid in recon:
        assert abs(by_q[qid][qid].adc_dist - round(recon[qid], 6)) < 1e-6
    # a zero-recon (codebook) member finds itself at rank 1, distance 0
    member = min(k for k, v in recon.items() if abs(v) < 1e-12)
    top1 = [r for r in by_q[member].values() if r.rank == 1][0]
    assert top1.adc_dist == 0.0


def test_pq_adc_prefilter_exact_vs_plain_window(spark):
    """The threshold prefilter is a guaranteed superset of the true top-k:
    forcing it on must reproduce the plain-window result row for row
    (ranks, ids, distances) on a frame well below the auto threshold."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    rng = np.random.RandomState(11)
    rows = [(i, rng.uniform(-1, 1, 16).round(3).tolist()) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_codebook(df, "vec_id", "embedding", k=8)
    enc = pq_encode(df, "vec_id", "embedding", dim=16, m_sub=4, k=8).cache()
    qs = df.filter("vec_id % 37 = 0")
    kwargs = dict(id_col="vec_id", vec_col="embedding", dim=16, m_sub=4, k_top=5)
    plain = pq_adc_topk(qs, enc, cb, **kwargs, prefilter=False).collect()
    pre = pq_adc_topk(qs, enc, cb, **kwargs, prefilter=True).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(map(tuple, plain)) == sorted(map(tuple, pre))
    assert len({key(r) for r in pre}) == len(pre)


def test_topk_recall_counts_hits_per_query(spark):
    """Perfect agreement -> recall 1; disjoint lists -> 0; partial overlap
    counts hits against the EXACT list size, so a truncated approximate
    list can only lose recall."""
    from peskas_timor_data_pipeline_spark.llm.similarity import topk_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30)],
        "query_id long, cand_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 99), (2, 20), (3, 98)],
        "query_id long, cand_id long",
    )
    got = {r.query_id: r for r in topk_recall(exact, approx).collect()}
    assert (got[1].n_exact, got[1].n_hits, got[1].recall) == (2, 2, 1.0)
    assert (got[2].n_exact, got[2].n_hits, got[2].recall) == (2, 1, 0.5)
    assert (got[3].n_exact, got[3].n_hits, got[3].recall) == (1, 0, 0.0)


def test_centroid_blocked_near_dup_marks_copies(spark):
    """With n_cells = N every vector is a centroid; exact copies tie at
    cosine 1.0 with both their own and their twin's centroid, and the
    ascending cell-id tie-break lands them in the SAME cell — so each
    copy pair is compared and the larger id is marked duplicate, while
    distinct vectors survive."""
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        centroid_blocked_near_dup,
    )

    dim = 4
    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.0, 1.0, 0.0, 0.0]
    c = [0.0, 0.0, 1.0, 1.0]
    rows = [(1, a), (2, a), (3, b), (4, b), (5, c)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in centroid_blocked_near_dup(
        df, "vec_id", "embedding", threshold=0.95, dim=dim, n_cells=5
    ).collect()}
    assert [got[i].is_dup for i in (1, 2, 3, 4, 5)] == [
        False, True, False, True, False]
    assert got[1].cell_id == got[2].cell_id
    assert got[3].cell_id == got[4].cell_id


def test_mmr_topk_matches_numpy_greedy(spark):
    """The unrolled-plan MMR must equal an independent numpy greedy
    implementation (pool by unrounded cosine, rel rounded to 6, diversity
    penalty = max sim to the selected set, id tie-breaks) on random
    vectors — and pick 1 must always be the pure-relevance winner."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.similarity import mmr_topk

    rng = np.random.RandomState(7)
    dim, lam, k, pool = 6, 0.7, 3, 5
    vecs = {i: rng.randn(dim) for i in range(12)}
    rows = [(i, [float(x) for x in v]) for i, v in vecs.items()]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # float32 storage: the reference must read back the same precision
    stored = {r.vec_id: np.array(r.embedding, dtype=np.float64)
              for r in df.collect()}

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    expected = {}
    for q in (0, 1):
        cands = [i for i in stored if i >= 2]
        scored = sorted(
            ((cos(stored[q], stored[c]), c) for c in cands),
            key=lambda t: (-t[0], t[1]))[:pool]
        rel = {c: round(s, 6) for s, c in scored}
        selected = []
        remaining = [c for _, c in scored]
        for _ in range(k):
            best = None
            for c in remaining:
                ms = max((cos(stored[c], stored[s]) for s in selected),
                         default=None)
                mmr = lam * rel[c] if ms is None else lam * rel[c] - (1 - lam) * ms
                if best is None or mmr > best[0] or (mmr == best[0] and c < best[1]):
                    best = (mmr, c)
            selected.append(best[1])
            remaining.remove(best[1])
        expected[q] = selected

    queries = df.filter(df.vec_id < 2)
    candidates = df.filter(df.vec_id >= 2)
    got = mmr_topk(queries, candidates, "vec_id", "embedding",
                   k=k, pool=pool, lam=lam, dim=dim).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, {})[r.pick_order] = r.cand_id
    for q in (0, 1):
        assert [by_q[q][p] for p in (1, 2, 3)] == expected[q]


def test_int8_topk_matches_numpy_replica(spark):
    """The quantized search must equal an exact numpy replica of the
    calibration, quantization, and integer-dot ranking — integer scores
    mean the comparison is exact, no tolerance."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.similarity import int8_topk

    rng = np.random.RandomState(11)
    dim = 5
    rows = [(i, [float(x) for x in rng.randn(dim)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    stored = {r.vec_id: np.array(r.embedding, dtype=np.float64)
              for r in df.collect()}
    cands = {i: v for i, v in stored.items() if i >= 2}
    lo = np.min(np.array(list(cands.values())), axis=0)
    hi = np.max(np.array(list(cands.values())), axis=0)

    def quant(v):
        out = np.zeros(dim, dtype=np.int64)
        for j in range(dim):
            if hi[j] - lo[j] > 0:
                # round-half-away like Spark/DuckDB round()
                x = (v[j] - lo[j]) / (hi[j] - lo[j]) * 255
                out[j] = int(np.floor(x + 0.5)) - 128
        return out

    expect = {}
    for q in (0, 1):
        qq = quant(stored[q])
        scored = sorted(
            ((int(np.dot(qq, quant(c))), i) for i, c in cands.items()),
            key=lambda t: (-t[0], t[1]))
        expect[q] = [(i, s) for s, i in scored[:3]]

    got = int8_topk(df.filter(df.vec_id < 2), df.filter(df.vec_id >= 2),
                    "vec_id", "embedding", k=3, dim=dim).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cand_id, r.score))
    for q in (0, 1):
        ordered = [(c, s) for _, c, s in sorted(by_q[q])]
        assert ordered == expect[q]


def test_rrf_fuse_hand_computed(spark):
    """Two systems in perfect disagreement tie (broken by cand id); a
    third system's vote breaks the symmetry; candidates missing from a
    list contribute nothing."""
    from peskas_timor_data_pipeline_spark.llm.similarity import rrf_fuse

    ddl = "query_id long, cand_id long, rank int"
    sys_a = spark.createDataFrame([(1, 101, 1), (1, 102, 2)], ddl)
    sys_b = spark.createDataFrame([(1, 102, 1), (1, 101, 2)], ddl)
    # symmetric: both get 1/61 + 1/62 -> tie -> cand 101 first
    got = sorted((r.fused_rank, r.cand_id) for r in
                 rrf_fuse([sys_a, sys_b], topk=2).collect())
    assert got == [(1, 101), (2, 102)]

    sys_c = spark.createDataFrame([(1, 102, 1)], ddl)
    got3 = {r.cand_id: (r.fused_rank, r.rrf_score) for r in
            rrf_fuse([sys_a, sys_b, sys_c], topk=2).collect()}
    assert got3[102][0] == 1 and got3[101][0] == 2
    expect_102 = round(1 / 61 + 1 / 62 + 1 / 61, 9)
    assert abs(got3[102][1] - expect_102) < 1e-12


def test_hard_negatives_excludes_same_label_and_self(spark):
    """The nearest SAME-label vector (even an exact duplicate) must never
    appear; the top negative is the most similar different-label one."""
    from peskas_timor_data_pipeline_spark.llm.similarity import hard_negatives

    rows = [
        (1, [1.0, 0.0, 0.0], 0),   # anchor
        (2, [1.0, 0.0, 0.0], 0),   # same label, identical -> excluded
        (3, [0.9, 0.1, 0.0], 1),   # closest different-label -> rank 1
        (4, [0.0, 1.0, 0.0], 1),   # farther
        (5, [0.0, 0.0, 1.0], 2),   # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    anchors = df.filter(df.vec_id == 1)
    got_exact = sorted(
        (r.rank, r.neg_id)
        for r in hard_negatives(df, "vec_id", "embedding", "label",
                                k=3, dim=3, anchors=anchors,
                                method="exact").collect()
    )
    assert got_exact == [(1, 3), (2, 4), (3, 5)]
    # the default (shipped) IVF path agrees with exact when every cell is
    # probed — the ranking/label-exclusion logic is shared
    got_ivf = sorted(
        (r.rank, r.neg_id)
        for r in hard_negatives(df, "vec_id", "embedding", "label",
                                k=3, dim=3, anchors=anchors,
                                method="ivf", n_cells=8, n_probe=8).collect()
    )
    assert got_ivf == got_exact


def test_top_eigenvector_rank_one_structure(spark):
    """Vectors spread along a single direction [1, 2, 0, ...]: the
    covariance is rank-1, so power iteration must return that direction
    normalized to its pivot (component 2 = 1.0) with zero elsewhere."""
    from peskas_timor_data_pipeline_spark.llm.similarity import top_eigenvector

    rows = [(k, [float(k), 2.0 * k, 0.0, 0.0]) for k in (-2, -1, 0, 1, 2)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.i: r for r in top_eigenvector(df, "embedding", dim=4).collect()}
    assert got[2].component == 1.0
    assert got[1].component == 0.5
    assert got[3].component == 0.0 and got[4].component == 0.0
    # cov = 2*[1,2]^T[1,2]; dominant eigenvalue = 2*(1+4) = 10
    assert abs(got[1].eigenvalue - 10.0) < 1e-5


def test_jl_projection_preserves_pairwise_distance(spark):
    """JL guarantee, loosely pinned: squared distances between projected
    random vectors stay within a wide (1 +- 0.75) band of the originals
    (k=16 is noisy; the band catches sign/scale bugs, not statistics), and
    the zero vector projects to zero."""
    import random

    from pyspark.sql import functions as F

    from peskas_timor_data_pipeline_spark.llm.similarity import jl_project

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(20)]
    rows.append((99, [0.0] * 64))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: list(r.proj) for r in jl_project(df, "vec_id", "embedding", dim=64, k=16).collect()}
    assert got[99] == [0.0] * 16
    orig = {i: v for i, v in rows}
    import itertools
    ratios = []
    for a, b in itertools.combinations(range(20), 2):
        d_orig = sum((x - y) ** 2 for x, y in zip(orig[a], orig[b]))
        d_proj = sum((x - y) ** 2 for x, y in zip(got[a], got[b]))
        ratios.append(d_proj / d_orig)
    avg = sum(ratios) / len(ratios)
    assert 0.6 < avg < 1.4
    # per-pair ratio ~ chi2_16/16: wide tails are expected at k=16; the
    # band only catches sign/scale bugs (a wrong scale shifts EVERY ratio)
    assert all(0.05 < r < 6.0 for r in ratios)


def test_binary_quantize_and_rerank_agree_with_signs(spark):
    """Sign packing reproduces the known bit patterns; full-probe IVF and
    flat-scan rerank agree; the top hit for an axis vector is its exact
    duplicate at hamming 0, cosine 1."""
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        binary_quantize,
        binary_topk_rerank,
    )

    dim = 64
    base = [1.0 if i % 2 == 0 else -1.0 for i in range(dim)]
    rows = [
        (1, base),                       # query
        (2, base),                       # exact dup -> top-1, hamming 0
        (3, [-v for v in base]),         # bitwise complement
        (4, [1.0] * dim),                # all positive
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    words = {r.vec_id: list(r.words) for r in binary_quantize(df, "vec_id", "embedding", dim).collect()}
    evens = sum(1 << i for i in range(0, 32, 2))
    assert words[1] == [evens, evens]
    assert words[4] == [(1 << 32) - 1, (1 << 32) - 1]
    assert words[3] == [((1 << 32) - 1) ^ evens, ((1 << 32) - 1) ^ evens]

    q = df.filter("vec_id = 1")
    c = df.filter("vec_id > 1")
    for kwargs in (dict(method="scan"), dict(method="ivf", n_cells=4, n_probe=4)):
        got = sorted(
            (r.rank, r.cand_id, r.hamming)
            for r in binary_topk_rerank(q, c, "vec_id", "embedding",
                                        k=3, dim=dim, prefilter_m=3, **kwargs).collect()
        )
        assert got[0] == (1, 2, 0)
        assert {g[1] for g in got} == {2, 3, 4}


def test_ivf_builders_reject_unknown_routes(spark):
    """Both IVF builders accept only route 'exact' or 'gemm': any other
    string, a typo or the retired 'coarse' included, raises instead of
    silently running the exact path."""
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        ivf_build,
        ivfpq_build,
    )

    cands = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], "vec_id long, embedding array<double>"
    )
    for build in (ivf_build, ivfpq_build):
        for route in ("coarse", "gemmm", "EXACT"):
            with pytest.raises(ValueError, match="unknown route"):
                build(cands, "vec_id", "embedding", dim=2, n_cells=2, route=route)


def test_gemm_build_matches_exact_assignment(spark):
    """route='gemm' (r10): BLAS argbest over ALL cells is exact
    assignment — agreement with the JVM-chain exact path should be
    ~total (only float-reassociation ties can differ), for both the
    cosine (ivf) and L2-residual (ivfpq) builds."""
    import math

    from peskas_timor_data_pipeline_spark.llm.similarity import (
        ivf_build,
        ivfpq_build,
    )

    dim, n, n_cells = 16, 2000, 100
    rows = [
        (
            i,
            [
                math.sin((i % 40) * (7.0 + d) + 0.37 * d)
                + 0.1 * math.sin(i * 13.7 + d)
                for d in range(dim)
            ],
        )
        for i in range(n)
    ]
    cands = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    _, inv_exact = ivf_build(cands, "vec_id", "embedding", dim=dim, n_cells=n_cells)
    _, inv_gemm = ivf_build(
        cands, "vec_id", "embedding", dim=dim, n_cells=n_cells, route="gemm"
    )
    exact_map = {r.cand_id: r.cell_id for r in inv_exact.collect()}
    gemm_map = {r.cand_id: r.cell_id for r in inv_gemm.collect()}
    assert set(gemm_map) == set(exact_map)
    agree = sum(1 for k in exact_map if exact_map[k] == gemm_map[k])
    assert agree / n >= 0.995  # exact modulo float-tie reassociation

    _, _, enc_exact = ivfpq_build(
        cands, "vec_id", "embedding", dim=dim, m_sub=4, k_cb=16, n_cells=n_cells
    )
    _, _, enc_gemm = ivfpq_build(
        cands, "vec_id", "embedding", dim=dim, m_sub=4, k_cb=16,
        n_cells=n_cells, route="gemm",
    )
    exact_rows = {r.cand_id: r for r in enc_exact.collect()}
    gemm_rows = {r.cand_id: r for r in enc_gemm.collect()}
    agree2 = sum(
        1 for k in exact_rows
        if exact_rows[k].cell_id == gemm_rows[k].cell_id
    )
    assert agree2 / n >= 0.995
    # the PQ codes themselves: identical whenever the cell agrees
    # (residuals then match; only float-tie reassociation can differ)
    code_cols = [f"__c{m}__" for m in range(4)]
    same_codes = sum(
        1
        for k in exact_rows
        if exact_rows[k].cell_id == gemm_rows[k].cell_id
        and all(
            int(exact_rows[k][c]) == int(gemm_rows[k][c]) for c in code_cols
        )
    )
    assert same_codes / agree2 >= 0.99

    # the gemm-encoded index must SERVE: ADC search runs end to end
    from peskas_timor_data_pipeline_spark.llm.similarity import ivfpq_search

    pcents, rcb, _ = ivfpq_build(
        cands, "vec_id", "embedding", dim=dim, m_sub=4, k_cb=16,
        n_cells=n_cells, route="gemm",
    )
    queries = cands.filter("vec_id < 5").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    hits = ivfpq_search(
        queries, pcents, rcb, enc_gemm, "vec_id", "embedding",
        dim=dim, m_sub=4, n_probe=10, k_top=3, rerank_m=20,
    ).collect()
    assert len(hits) == 15


def test_gemm_bruteforce_matches_sql_engine(spark):
    """engine='gemm' reproduces the sql engine's exact top-k row for row
    (ranks, ids) — float reassociation can only flip sub-1e-15 near-ties,
    absent in the fixture — and rounds cosines to the same 6 places."""
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        cosine_topk_bruteforce,
    )

    queries, candidates = _split(spark)
    sql_rows = cosine_topk_bruteforce(
        queries, candidates, "vec_id", "embedding", k=3, dim=64
    ).collect()
    gemm_rows = cosine_topk_bruteforce(
        queries, candidates, "vec_id", "embedding", k=3, dim=64,
        engine="gemm",
    ).collect()
    key = lambda r: (r.query_id, r.rank)
    a = {key(r): (r.cand_id, r.cosine) for r in sql_rows}
    b = {key(r): (r.cand_id, r.cosine) for r in gemm_rows}
    assert set(a) == set(b)
    for kk in a:
        assert a[kk][0] == b[kk][0]
        assert abs(a[kk][1] - b[kk][1]) <= 2e-6


def test_gemm_bruteforce_degenerate_inputs_match_sql_engine(spark):
    """ADVICE r10: an empty query frame must return an empty result (the
    sql engine's crossJoin is empty) instead of crashing on a 1-D
    collect; zero-norm vectors must fail LOUDLY on both engines — the
    sql engine's ANSI division raises DIVIDE_BY_ZERO, so the gemm path
    raises a clear ValueError instead of numpy's silent NaN-drop."""
    import pytest

    from peskas_timor_data_pipeline_spark.llm.similarity import (
        cosine_topk_bruteforce,
    )

    cands = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    empty_q = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = cosine_topk_bruteforce(
        empty_q, cands, "vec_id", "embedding", k=2, dim=2, engine="gemm"
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "cand_id", "rank", "cosine",
    ]

    qs = spark.createDataFrame([(10, [1.0, 0.0])], "vec_id long, embedding array<double>")
    zq = spark.createDataFrame([(20, [0.0, 0.0])], "vec_id long, embedding array<double>")
    zc = spark.createDataFrame([(3, [0.0, 0.0])], "vec_id long, embedding array<double>")

    # zero-norm query: gemm raises driver-side with the ids named
    with pytest.raises(ValueError, match="zero-norm query"):
        cosine_topk_bruteforce(
            zq, cands, "vec_id", "embedding", k=2, dim=2, engine="gemm"
        )
    # zero-norm candidate: raises at execution (wrapped by Spark)
    with pytest.raises(Exception, match="zero-norm candidate"):
        cosine_topk_bruteforce(
            qs, cands.union(zc), "vec_id", "embedding", k=3, dim=2,
            engine="gemm",
        ).collect()
    # ...and the sql engine indeed rejects the same input (ANSI)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        cosine_topk_bruteforce(
            qs, cands.union(zc), "vec_id", "embedding", k=3, dim=2
        ).collect()


def test_gemm_build_string_ids_and_schema_parity(spark):
    """ADVICE r10: cell_id is the centroid's own id column — route='gemm'
    must carry its values and dtype through (string-id corpora used to
    crash at int(r.cell_id); int-id corpora got a LongType schema skew vs
    route='exact')."""
    import math

    from peskas_timor_data_pipeline_spark.llm.similarity import ivf_build

    dim, n, n_cells = 8, 300, 9
    rows = [
        (
            f"doc-{i:04d}",
            [math.sin((i % 25) * (3.0 + d) + 0.21 * d) for d in range(dim)],
        )
        for i in range(n)
    ]
    cands = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    cents_e, inv_e = ivf_build(cands, "vec_id", "embedding", dim=dim, n_cells=n_cells)
    cents_g, inv_g = ivf_build(
        cands, "vec_id", "embedding", dim=dim, n_cells=n_cells, route="gemm"
    )
    assert inv_g.schema["cell_id"].dataType == inv_e.schema["cell_id"].dataType
    em = {r.cand_id: r.cell_id for r in inv_e.collect()}
    gm = {r.cand_id: r.cell_id for r in inv_g.collect()}
    assert set(em) == set(gm)
    agree = sum(1 for k in em if em[k] == gm[k])
    assert agree / len(em) > 0.99

    # int-id schema parity (used to come back LongType regardless of input)
    irows = [(i, v) for i, (_, v) in enumerate(rows)]
    icands = spark.createDataFrame(irows, "vec_id int, embedding array<double>")
    _, iinv_e = ivf_build(icands, "vec_id", "embedding", dim=dim, n_cells=n_cells)
    _, iinv_g = ivf_build(
        icands, "vec_id", "embedding", dim=dim, n_cells=n_cells, route="gemm"
    )
    assert iinv_g.schema["cell_id"].dataType == iinv_e.schema["cell_id"].dataType


def test_l2_topk_bruteforce_matches_numpy_and_sql_fold(spark):
    """The L2 truth twin (r11): ranked rows must equal a full numpy
    replica (dist asc, cand_id asc ties) AND a JVM l2_expr crossJoin
    ranking on the fixture embeddings — the same exactness contract the
    cosine gemm engine carries."""
    import numpy as np

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        l2_expr,
        l2_topk_bruteforce,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.orderBy("vec_id").limit(7)
    got = l2_topk_bruteforce(
        queries, emb, "vec_id", "embedding", k=3, dim=dim
    ).collect()

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    m = np.array([list(map(float, r.embedding)) for r in rows])
    qrows = sorted(rows, key=lambda r: r.vec_id)[:7]
    expect = {}
    for qr in qrows:
        qv = np.array(list(map(float, qr.embedding)))
        d = ((m - qv) ** 2).sum(axis=1)
        order = sorted(range(len(ids)), key=lambda i: (d[i], ids[i]))[:3]
        expect[qr.vec_id] = [int(ids[i]) for i in order]
    by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.cand_id)
    assert by_q == expect

    # JVM replica: crossJoin + l2_expr + rank window
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cand_id"))
    sql_rows = (
        q.crossJoin(c)
        .withColumn("d2", l2_expr("qv", "cv", dim))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    )
    sql_by_q = {}
    for r in sorted(sql_rows, key=lambda r: (r.query_id, r.rank)):
        sql_by_q.setdefault(r.query_id, []).append(r.cand_id)
    assert sql_by_q == expect


def test_l2_topk_bruteforce_empty_queries(spark):
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        l2_topk_bruteforce,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    empty = emb.filter("vec_id < 0")
    out = l2_topk_bruteforce(empty, emb, "vec_id", "embedding", k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "cand_id", "rank", "dist"]
