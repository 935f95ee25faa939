"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline; crossJoin(queries x
  candidates) is acceptable only because the query side is small — the
  candidate side streams through in parallel and never materializes.
- hyperplane-LSH bucketing: the scale path; sign-bit bucket on leading
  dimensions prunes candidates before the distance computation (at 100 TB
  the bucket join replaces the crossJoin entirely).

The dot product is a generated fixed-length arithmetic expression (the
embedding dim is known from the schema), which keeps the whole computation
inside whole-stage codegen — faster than higher-order aggregate lambdas and
bit-identical across engines for the oracle.

Each decision the family shares is written once (the FAISS layout, Jégou
et al., TPAMI 2011): :func:`cosine_expr` is the cosine, :func:`_topk` the
exact per-query ranking, :func:`_nearest_cell` / :func:`_probe_cells` the
IVF assignment and probe, :func:`_blas_topk` the Arrow-batched exact
scan, and :func:`_seeded_pick`, :func:`_residual_l2_sql`,
:func:`_adc_tables` and :func:`_adc_sum` the PQ codebooks and tables.
"""

from __future__ import annotations

import functools
import math
import operator
from decimal import MAX_PREC, ROUND_HALF_UP, Context, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from peskas_timor_data_pipeline_spark.session import local_frame


def dot_expr(a: str, b: str, dim: int) -> Column:
    """sum_i a[i]*b[i] as one generated expression (deterministic order)."""
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(dim)
    )
    return F.expr(terms)


def l2_expr(a: str, b: str, dim: int) -> Column:
    """sum_i (a[i]-b[i])^2 as one generated (codegen) expression: where a
    HOF fold's interpreted evaluation dominates at large row counts, one
    ~2-4 s codegen compile per distinct stage buys ~10x per-row
    throughput."""
    terms = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        for i in range(dim)
    )
    return F.expr(terms)


def norm_expr(a: str, dim: int) -> Column:
    terms = " + ".join(f"CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE)" for i in range(dim))
    return F.sqrt(F.expr(terms))


def cosine_expr(
    a: str, a_norm: str | Column, b: str, b_norm: str | Column, dim: int
) -> Column:
    """Cosine of vector columns ``a`` and ``b`` given their norms (column
    names, or a norm expression), as ``dot / (a_norm * b_norm)``: the one
    spelling of the operand order every DuckDB twin replays (the dot
    first, then the product of the norms, then one division)."""
    na, nb = (F.col(n) if isinstance(n, str) else n for n in (a_norm, b_norm))
    return dot_expr(a, b, dim) / (na * nb)


def _topk(
    scored: DataFrame, key: str | list[str], item: str, score: str, k: int, desc: bool
) -> DataFrame:
    """Exact top-``k`` per ``key`` (a column name or a list of them):
    adds ``rank`` = ``row_number() OVER (PARTITION BY key ORDER BY score
    DESC|ASC, item ASC)`` and keeps ranks 1..k. Ties go to the lowest
    ``item``; Spark's sort order puts NaN above every number and NULL
    first ascending, last descending. Callers add their final select."""
    order = F.desc(score) if desc else F.asc(score)
    w = Window.partitionBy(key).orderBy(order, F.asc(item))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _blas_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    score: str,
    desc: bool,
    scorer,
) -> DataFrame:
    """The exact Arrow-batched BLAS scan behind ``engine="gemm"`` and
    :func:`l2_topk_bruteforce`. The query matrix is collected (the query
    batch is the small side by contract); an empty query frame returns
    an empty frame of the same typed columns, as the sql engine's
    crossJoin is empty. ``scorer(qids, qmat)`` validates the
    queries and returns the per-batch ``(vectors, ids) -> b x Q`` score
    matrix. Each candidate batch keeps, per query, its top ``k`` under
    the global total order (``score`` desc or asc, cand_id asc) — a
    batch-local top-k under a total order is a superset of the global
    winners — and one :func:`_topk` over partitions x Q x k rows
    finishes.

    Returns (query_id, cand_id, ``score``, rank), ``score`` unrounded."""
    import numpy as np
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    ids_schema = [
        StructField("query_id", queries.schema[id_col].dataType),
        StructField("cand_id", candidates.schema[id_col].dataType),
    ]
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return queries.sparkSession.createDataFrame(
            [],
            StructType(
                ids_schema
                + [StructField(score, DoubleType()), StructField("rank", IntegerType())]
            ),
        )
    qids = [r[0] for r in qrows]
    batch_scores = scorer(
        qids, np.array([[float(x) for x in r[1]] for r in qrows], dtype=np.float64)
    )
    sign = -1.0 if desc else 1.0

    def score_batches(batches):
        import pandas as pd

        for pdf in batches:
            v = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            ids = pdf[id_col].to_numpy()
            s = batch_scores(v, ids)  # b x Q
            b = s.shape[0]
            oq, oc, os_ = [], [], []
            for j, qid in enumerate(qids):
                col = s[:, j]
                if b > k:
                    # keep every score tied with the k-th
                    p = b - k if desc else k - 1
                    thr = np.partition(col, p)[p]
                    idx = np.nonzero(col >= thr if desc else col <= thr)[0]
                else:
                    idx = np.arange(b)
                best = sorted(idx, key=lambda i: (sign * col[i], ids[i]))[:k]
                oq.extend([qid] * len(best))
                oc.extend(ids[i] for i in best)
                os_.extend(float(col[i]) for i in best)
            yield pd.DataFrame({"query_id": oq, "cand_id": oc, score: os_})

    local = candidates.select(id_col, vec_col).mapInPandas(
        score_batches, StructType(ids_schema + [StructField(score, DoubleType())])
    )
    return _topk(local, "query_id", "cand_id", score, k, desc)


def cosine_topk_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    dim: int = 64,
    engine: str = "sql",
) -> DataFrame:
    """Exact top-k by cosine per query (tie-broken by candidate id).

    ``engine="sql"`` (default, the ORACLE path): generated JVM
    expression chains — float sums left-associated, replayed by the e1
    DuckDB twin. ``engine="gemm"`` (r10, non-oracle): the same exact
    scan as one Arrow-batched numpy GEMM per candidate batch against
    the collected query matrix (:func:`_blas_topk`, under the same
    (cosine desc, cand_id asc) total order). ~10x the sql engine's
    throughput (the r10 split-probe: JVM per-pair scoring is ~2 us);
    float sums reassociate, so only use where a DuckDB replay isn't
    required (recall evaluation, corpus-scale exact sweeps)."""
    if engine == "gemm":
        return _blas_topk(
            queries, candidates, id_col, vec_col, k, "cosine", True, _cosine_scorer
        ).select("query_id", "cand_id", "rank", F.round("cosine", 6).alias("cosine"))
    if engine != "sql":
        raise ValueError(f"unknown engine: {engine}")
    # norms are per-row: compute them BEFORE the join (once per vector, not
    # once per pair) — also keeps the join-stage codegen method under the
    # JVM's 64 KB limit (dot+2 norms inlined in the BHJ consume overflows it
    # and falls back to interpreted eval). Same float op order as computing
    # them inside: sqrt(sum a_i^2) then multiply — oracle-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_expr(vec_col, dim).alias("qn"),
    )
    c = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(vec_col, dim).alias("cn"),
    )
    scored = q.crossJoin(c).withColumn("cosine", cosine_expr("qv", "qn", "cv", "cn", dim))
    return _topk(scored, "query_id", "cand_id", "cosine", k, True).select(
        "query_id", "cand_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def l2_topk_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Exact top-k by EUCLIDEAN distance per query (ties by candidate
    id) — the truth twin for the L2-metric indexes, as
    :func:`cosine_topk_bruteforce` is for the cosine ones: the IVFPQ
    path (ADC tables and the rerank refine) is L2 by design, the FAISS
    IndexIVFPQ convention.

    Added r11 after the rerank_m frontier sweep came back FLAT: the ANN
    bench scored IVFPQ recall against the COSINE truth, and on a
    non-unit-norm corpus (bench norms spread 1.8-7.4) the exact-L2
    top-3 only overlaps the cosine top-3 ~82% — the 0.773 plateau read
    as "shortlist-bound" in r09/r10 was the METRIC GAP, unreachable by
    any rerank budget. Recall against this truth isolates the index's
    actual loss (quantization + probe misses).

    BLAS engine only (:func:`_blas_topk`, the scan behind the cosine
    ``engine="gemm"``): this is a recall-evaluation truth, not an oracle
    path — no DuckDB replay depends on it. Distances use the expansion
    |v|^2 - 2 v.q + |q|^2 computed batch-wise; the returned ``dist`` is
    the true (non-squared) L2, rounded to 6.

    Returns (query_id, cand_id, rank, dist).
    """
    def scorer(qids, qmat):
        qsq = (qmat * qmat).sum(axis=1)  # Q
        # b x Q squared distances via the expansion
        return lambda v, ids: (v * v).sum(axis=1)[:, None] - 2.0 * (v @ qmat.T) + qsq[None, :]

    return _blas_topk(
        queries, candidates, id_col, vec_col, k, "dist2", False, scorer
    ).select(
        "query_id",
        "cand_id",
        "rank",
        F.round(F.sqrt(F.greatest("dist2", F.lit(0.0))), 6).alias("dist"),
    )


def _cosine_scorer(qids, qmat):
    """The cosine score matrix of the gemm engine. Zero-norm vectors
    raise a clear ValueError, as the sql engine's ANSI division rejects
    them too (DIVIDE_BY_ZERO on qn*cn = 0): a silent NaN here would
    diverge from the engine the tests pin this path against."""
    import numpy as np

    qn = np.sqrt((qmat * qmat).sum(axis=1))
    if np.any(qn == 0):
        bad = [qids[i] for i in np.nonzero(qn == 0)[0][:5]]
        raise ValueError(
            f"zero-norm query vector(s) {bad}: cosine is undefined "
            "(the sql engine raises DIVIDE_BY_ZERO here under ANSI mode)"
        )
    qmat_t = (qmat / qn[:, None]).T  # dim x Q, column-normalized

    def batch_scores(v, ids):
        vn = np.sqrt((v * v).sum(axis=1))
        if np.any(vn == 0):
            bad = [ids[i] for i in np.nonzero(vn == 0)[0][:5]]
            raise ValueError(
                f"zero-norm candidate vector(s) {bad}: cosine is "
                "undefined (the sql engine raises DIVIDE_BY_ZERO "
                "here under ANSI mode)"
            )
        return (v @ qmat_t) / vn[:, None]

    return batch_scores


def hyperplane_bucket(vec_col: str, n_bits: int = 8) -> Column:
    """Sign-bit bucket over the leading ``n_bits`` dimensions — a
    deterministic hyperplane LSH (axis-aligned planes). Vectors in the same
    orthant share a bucket; cosine-similar vectors usually do."""
    bits = [f"CASE WHEN {vec_col}[{i}] >= 0 THEN '1' ELSE '0' END" for i in range(n_bits)]
    return F.expr("concat(" + ", ".join(bits) + ")")


def cosine_topk_lsh(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 1,
    dim: int = 64,
    n_bits: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates are pruned to the query's hyperplane
    bucket before scoring. Misses across orthant boundaries are the accepted
    approximation (IVF-style recall/cost trade)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_expr(vec_col, dim).alias("qn"),
        hyperplane_bucket(vec_col, n_bits).alias("bucket"),
    )
    c = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(vec_col, dim).alias("cn"),
        hyperplane_bucket(vec_col, n_bits).alias("bucket"),
    )
    scored = q.join(c, "bucket").withColumn("cosine", cosine_expr("qv", "qn", "cv", "cn", dim))
    return _topk(scored, "query_id", "cand_id", "cosine", k, True).select(
        "query_id", "cand_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def ivf_centroids(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Deterministic IVF coarse quantizer: the ``n_cells`` corpus vectors
    with the smallest md5('cent#'||id) act as cell centroids (a seeded
    uniform sample of the data — the standard k-means init, minus the
    iterations, so the oracle can replay it exactly).

    ``orderBy().limit()`` compiles to TakeOrderedAndProject: each partition
    keeps its local top-``n_cells`` and the driver merges — no global sort
    shuffle, so centroid selection is one cheap pass even at 100 TB."""
    seed_key = F.md5(F.concat(F.lit("cent#"), F.col(id_col).cast("string")))
    return (
        candidates.select(
            F.col(id_col).alias("cell_id"),
            F.col(vec_col).alias("cvec"),
            norm_expr(vec_col, dim).alias("cnorm"),
            seed_key.alias("__seed__"),
        )
        .orderBy("__seed__", "cell_id")
        .limit(n_cells)
        .drop("__seed__")
    )


def _cell_scores(frame, key, vec, norm, cents, dim) -> DataFrame:
    """The slim ×n_cells expansion both IVF kernels start from: one
    ``(key, cell_id, cos)`` row per (row, centroid), where ``cents`` is
    (cell_id, cvec, cnorm) and ``cos = dot(vec, cvec) / (norm * cnorm)``.
    Only ids and the score leave the codegen stage, never a vector."""
    cos = cosine_expr(vec, norm, "cvec", "cnorm", dim)
    return frame.crossJoin(F.broadcast(cents)).select(key, "cell_id", cos.alias("cos"))


def _nearest_cell(frame, key, vec, norm, cents, dim) -> DataFrame:
    """Every row's nearest centroid by cosine, as ``(key, cell_id, cos)``:
    the IVF assignment (FAISS's coarse quantizer ``add``) behind every
    inverted list in this module.

    The winner is the first cell in the order a
    ``row_number() OVER (PARTITION BY key ORDER BY cos DESC, cell_id)``
    would give: NaN first, NULL last, -0.0 equal to 0.0, ties to the
    lowest cell_id. One ``min`` over the ascending struct
    ``(cos IS NULL, NOT isnan(cos), -cos, cell_id)`` picks it; its
    partial aggregate (a SortAggregate, as a struct buffer is not
    fixed-width) combines the n×n_cells rows map-side, so the Exchange
    carries one row per key and partition. ``cos`` rides along last,
    for callers that need the winner's score."""
    s = F.col("cos")
    best = F.min(
        F.struct(
            s.isNull().alias("null"),
            (~F.isnan(s)).alias("num"),
            (-s).alias("neg"),
            F.col("cell_id"),
            s.alias("cos"),
        )
    )
    return (
        _cell_scores(frame, key, vec, norm, cents, dim)
        .groupBy(key)
        .agg(best.alias("__best__"))
        .select(key, "__best__.cell_id", "__best__.cos")
    )


def _probe_cells(queries, key, vec, norm, cents, dim, n_probe) -> DataFrame:
    """Every query's ``n_probe`` nearest centroids by cosine, as
    ``(key, cell_id, probe_rank)`` with ranks 1..n_probe in the
    ``(cos DESC, cell_id)`` order of :func:`_nearest_cell`. A top-n is a
    window, but a slim one: callers rejoin their own columns by key."""
    w = Window.partitionBy(key).orderBy(F.desc("cos"), F.asc("cell_id"))
    return (
        _cell_scores(queries, key, vec, norm, cents, dim)
        .withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= n_probe)
        .select(key, "cell_id", "probe_rank")
    )


def cosine_topk_ivf(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    dim: int = 64,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: candidates are assigned to
    their nearest centroid cell once (broadcast ×n_cells comparison,
    partial-aggregate argmax — the inverted lists); each query probes only
    its ``n_probe`` nearest cells and scores those lists. Per-query work
    drops from O(N) to O(n_probe·N/n_cells); at scale n_cells ~ √N keeps
    both the centroid broadcast (MBs) and the cell lists balanced. The
    recall/cost trade is the probe count, not a hash-design constant like
    hyperplane LSH."""
    cents = ivf_centroids(candidates, id_col, vec_col, n_cells, dim)
    c = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(vec_col, dim).alias("cn"),
    )
    inverted = _nearest_cell(c, "cand_id", "cv", "cn", cents, dim).join(c, "cand_id")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_expr(vec_col, dim).alias("qn"),
    )
    probes = _probe_cells(q, "query_id", "qv", "qn", cents, dim, n_probe).join(q, "query_id")
    scored = probes.join(inverted, "cell_id").withColumn(
        "cosine", cosine_expr("qv", "qn", "cv", "cn", dim)
    )
    return _topk(scored, "query_id", "cand_id", "cosine", k, True).select(
        "query_id", "cand_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int = 64,
    n_bits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked: only bucket-mates
    are compared; pairs with cosine >= threshold survive."""
    v = df.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        norm_expr(vec_col, dim).alias("n"),
        hyperplane_bucket(vec_col, n_bits).alias("bucket"),
    )
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"), "bucket"
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"), "bucket"
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.withColumn("cosine", cosine_expr("va", "na", "vb", "nb", dim))
    return scored.filter(F.col("cosine") >= threshold).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def group_centroids(
    df: DataFrame, group_col: str, vec_col: str, dim: int, round_to: int = 6
) -> DataFrame:
    """Per-group centroid (element-wise mean) of an embedding column — the
    aggregation behind IVF coarse quantizers, k-means steps, and per-class
    mean-vector features.

    Scale shape: ``dim`` scalar ``avg(vec[i])`` aggregates, NOT
    posexplode (which would push a dim-fold row expansion through the
    shuffle) and NOT collect_list+fold (whose partial state is the raw
    vectors themselves). Scalar avgs partial-aggregate map-side, so the
    shuffle carries dim running (sum,count) pairs per group per partition
    regardless of row count — the smallest possible state for this
    computation.

    Returns (group, centroid array<double>, n).
    """
    # one expr string per aggregate / one for the array re-assembly, not
    # dim x ~4 py4j operator calls (r11) — identical parsed trees
    means = [
        F.expr(f"round(avg(`{vec_col}`[{i}]), {round_to}) AS __c{i}__")
        for i in range(dim)
    ]
    agg = df.groupBy(group_col).agg(*means, F.count(F.lit(1)).alias("n"))
    return agg.select(
        group_col,
        F.expr(
            "array(" + ", ".join(f"__c{i}__" for i in range(dim)) + ")"
        ).alias("centroid"),
        "n",
    )


def kmeans_refine(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    round_to: int = 6,
) -> DataFrame:
    """One Lloyd (k-means) iteration: assign every vector to its nearest
    centroid by cosine (deterministic tie-break on smallest cell_id), then
    recompute each cell's centroid as the element-wise mean. Iterating =
    calling this in a loop on the returned frame; combined with
    :func:`ivf_centroids` seeds this upgrades the IVF coarse quantizer
    from a sampled to a trained one.

    Scale shape per iteration: centroids broadcast (k rows); the nearest
    cell comes from :func:`_nearest_cell`'s partial aggregate over the xk
    comparison rows, not a per-vector window (which would sort n*k rows
    in a shuffle), and the vectors rejoin by id. The recompute is
    dim-many scalar avgs (see :func:`group_centroids`). Total: one
    broadcast + ONE shuffle carrying (sum,count) x dim per cell.

    ``centroids`` needs (cell_id, cvec); returns (cell_id, centroid, n).
    """
    v = vectors.select(
        F.col(id_col),
        F.col(vec_col).alias("__v__"),
        norm_expr(vec_col, dim).alias("__vn__"),
    )
    c = centroids.select("cell_id", "cvec", norm_expr("cvec", dim).alias("cnorm"))
    best = _nearest_cell(v, id_col, "__v__", "__vn__", c, dim).join(
        v.select(F.col(id_col), "__v__"), id_col
    )
    return group_centroids(best, "cell_id", "__v__", dim, round_to=round_to)


def int8_calibration(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Per-dimension [min, max] calibration frame (one row, two arrays) —
    2*dim scalar aggregates, partial-aggregated map-side. Computed on the
    CORPUS and passed to ``quantize_int8`` for both corpus and queries, so
    query vectors quantize into the same grid they are searched in."""
    # expr-string construction (r11): identical parsed trees, ~1/4 the
    # py4j round-trips per dimension
    return df.agg(
        *[F.expr(f"min(`{vec_col}`[{i}]) AS __lo{i}__") for i in range(dim)],
        *[F.expr(f"max(`{vec_col}`[{i}]) AS __hi{i}__") for i in range(dim)],
    ).select(
        F.expr(
            "array(" + ", ".join(
                f"CAST(__lo{i}__ AS DOUBLE)" for i in range(dim)
            ) + ")"
        ).alias("__lo__"),
        F.expr(
            "array(" + ", ".join(
                f"CAST(__hi{i}__ AS DOUBLE)" for i in range(dim)
            ) + ")"
        ).alias("__hi__"),
    )


def quantize_int8(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    calibration: DataFrame | None = None,
) -> DataFrame:
    """Scalar int8 quantization of an embedding column: per-DIMENSION
    global [min, max] ranges (the calibration) map each value to
    round((v - lo) / (hi - lo) * 255) - 128 in [-128, 127]. A 100 TB
    float32 vector store becomes 25 TB with ~equal ANN recall — the
    standard first memory lever before product quantization.

    Scale shape: calibration is 2*dim scalar min/max aggregates
    (partial-aggregated map-side, one tiny row out) broadcast back; the
    quantization itself is a narrow per-row map. Nothing shuffles the
    vectors. Degenerate dims (hi == lo) quantize to 0.

    Returns (id, qvec array<int> in [-128,127], scale array<double> with
    the per-dim (hi-lo)/255 step for dequantization).
    """
    lohi = (
        calibration
        if calibration is not None
        else int8_calibration(df, vec_col, dim)
    )
    # the per-row map is a single higher-order transform over the
    # broadcast calibration arrays, not dim separate when/round trees —
    # the expression tree (and Catalyst compile time) is constant in dim
    q_expr = (
        f"transform(sequence(0, {dim - 1}), i -> "
        f"CASE WHEN __hi__[i] - __lo__[i] > 0 "
        f"THEN cast(round((cast({vec_col}[i] as double) - __lo__[i])"
        f" / (__hi__[i] - __lo__[i]) * 255) as int) - 128 "
        f"ELSE 0 END)"
    )
    s_expr = (
        f"transform(sequence(0, {dim - 1}), i -> "
        f"round(CASE WHEN __hi__[i] - __lo__[i] > 0 "
        f"THEN (__hi__[i] - __lo__[i]) / 255 ELSE cast(0.0 as double) END, 9))"
    )
    return df.crossJoin(F.broadcast(lohi)).select(
        id_col,
        F.expr(q_expr).alias("qvec"),
        F.expr(s_expr).alias("scale"),
    )


def _sub_l2_sql(a: str, b: str, m: int, sub: int) -> str:
    """Sub-vector squared-L2 chain for subvector ``m`` as ONE SQL string:
    ``0 + (a[i]-b[i])*(a[i]-b[i]) + ...`` left-associated ascending i —
    the tree Python ``sum()`` over per-term Columns built, except the
    int-0 seed sits left of the first term where ``__radd__`` had put it
    right (``0.0 + t0`` vs ``t0 + 0.0`` — IEEE-identical for every
    double, oracle hashes verified). One py4j call instead of ~8 per
    dimension."""
    return "0 + " + " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        for i in range(m * sub, (m + 1) * sub)
    )


def _residual_l2_sql(diff: str, m: int, sub: int) -> str:
    """Squared L2 between subvector ``m`` of the residual array ``diff``
    and the codebook's ``rvec``, as ONE SQL string (one py4j call instead
    of ~5 per element): first-term seed, left-associated ascending i, no
    casts (both arrays are double) — the sum the oracle chains replay.
    It runs on every row of a x k_cb expansion (the IVFPQ encode and the
    per-probe search tables), so it is an unrolled codegen chain, not an
    aggregate/zip_with fold: higher-order lambdas evaluate interpreted
    and allocate slice/zip arrays per row, which was most of the r07
    build cost."""
    return " + ".join(
        f"({diff}[{i}] - rvec[{i}]) * ({diff}[{i}] - rvec[{i}])"
        for i in range(m * sub, (m + 1) * sub)
    )


def _adc_tables(dtab: DataFrame, keys: list[str], dist: str, m_sub: int) -> DataFrame:
    """Per ``keys`` group, one cid-ordered array ``__a{m}__`` of the
    ``{dist}{m}__`` distances per subvector — the ADC lookup tables.
    Arrays, not maps (r10): element_at on an UnsafeMapData is a LINEAR
    key scan, m_sub x k comparisons per scanned candidate (ANNSCALE_r09:
    ivfpq_search 19.5 s vs ivf_search 3.7 s at 300k vectors). cids are
    dense 1..k (the codebooks' row_number), so a cid-sorted array makes
    each lookup one O(1) offset read; array_sort on the (cid, d) structs
    orders by the unique cid, sorting collect_list's order away."""

    def cid_array(m: int) -> Column:
        d = f"{dist}{m}__"
        return F.transform(
            F.array_sort(F.collect_list(F.struct("cid", d))), lambda s: s[d]
        ).alias(f"__a{m}__")

    return dtab.groupBy(*keys).agg(*[cid_array(m) for m in range(m_sub)])


def _adc_sum(code: str, m_sub: int) -> Column:
    """The ADC distance: ``m_sub`` O(1) reads of :func:`_adc_tables`'
    arrays at the row's codes (``code`` formats ``m`` into the code of
    subvector m), summed left to right."""
    return F.expr(
        " + ".join(f"element_at(__a{m}__, {code.format(m=m)})" for m in range(m_sub))
    )


def pq_codebook(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    seed_prefix: str = "pq",
) -> DataFrame:
    """Deterministic PQ codebook: the ``k`` corpus vectors with the smallest
    md5(seed_prefix#id) (same seeded-sample init as ``ivf_centroids``),
    numbered 1..k by that order so codes are compact ints. One
    TakeOrderedAndProject pass + a k-row window."""
    return _seeded_pick(
        candidates, id_col, [F.col(vec_col).alias("cvec")], k, seed_prefix, "cvec"
    )


def _seeded_pick(df, id_col, cols, k, seed_prefix, entry) -> DataFrame:
    """The ``k`` rows of ``df`` with the smallest md5(seed_prefix#id),
    numbered ``cid`` 1..k in that order (ties to the lower id), as
    ``(cid, entry)``: the codebook pick of :func:`pq_codebook` and
    :func:`residual_codebook`. ``cols`` are the columns ``entry`` reads."""
    picked = (
        df.select(F.col(id_col).alias("__sid__"), *cols)
        .withColumn("__seed__", F.md5(F.concat(F.lit(f"{seed_prefix}#"), F.col("__sid__").cast("string"))))
        .orderBy("__seed__", "__sid__")
        .limit(k)
    )
    w = Window.orderBy("__seed__", "__sid__")
    return picked.select(F.row_number().over(w).alias("cid"), entry)


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    m_sub: int = 8,
    k: int = 16,
) -> DataFrame:
    """Product quantization: split each vector into ``m_sub`` contiguous
    subvectors, encode each as the id of its nearest codebook subvector
    (L2), emit the ``m_sub`` codes plus the total squared reconstruction
    error. 64 float32 dims become 8 bytes — the memory lever AFTER scalar
    int8 (8x further), the standard layout for billion-vector ANN serving.

    Scale shape: ONE crossJoin against the broadcast k-row codebook (k
    rows per vector, k ~ 16-256) and ONE aggregation computing all
    ``m_sub`` argmins simultaneously (``min_by`` per subvector with
    (distance, cid) tie-break) — vectors never shuffle, no per-subvector
    passes. All subvector distances are generated flat expressions inside
    whole-stage codegen."""
    sub = dim // m_sub
    cb = F.broadcast(pq_codebook(df, id_col, vec_col, k))
    paired = df.select(id_col, F.col(vec_col).alias("__v__")).crossJoin(cb)
    # one F.expr per subvector, not per-term Column operator calls: the
    # parsed tree is value-identical (sum()'s int-0 seed commutes to the
    # left of the first term — see _sub_l2_sql), and one py4j round-trip
    # replaces ~8 per dim — measured 3.6 s -> 0.3 s driver-side for a
    # 64-term chain
    dists = [
        F.expr(_sub_l2_sql("__v__", "cvec", m, sub)).alias(f"__d{m}__")
        for m in range(m_sub)
    ]
    scored = paired.select(id_col, "cid", *dists)
    aggs = []
    for m in range(m_sub):
        aggs.append(
            F.min_by("cid", F.struct(F.col(f"__d{m}__"), F.col("cid"))).alias(f"__c{m}__")
        )
        aggs.append(F.min(f"__d{m}__").alias(f"__e{m}__"))
    coded = scored.groupBy(id_col).agg(*aggs)
    return coded.select(
        id_col,
        F.array(*[F.col(f"__c{m}__") for m in range(m_sub)]).alias("codes"),
        sum(F.col(f"__e{m}__") for m in range(m_sub)).alias("recon_err"),
    )


# Below this candidate count the ADC threshold-prefilter's sketch pass costs
# more than the window exchange it eliminates (measured on local[32]).
_PREFILTER_MIN_CANDS = 100_000


def pq_adc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebook: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    m_sub: int = 8,
    k_top: int = 3,
    prefilter: bool | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query
    precomputes its distance table to the codebook — per subvector, one
    cid-ordered array of partial squared distances — and every encoded
    vector's distance is then ``m_sub`` O(1) ARRAY READS summed, never a
    float-vector scan. This is the serving path PQ exists for: the code table is 8
    bytes/vector, the per-query tables are k x m_sub doubles (broadcast),
    and the scan is a narrow crossJoin in whole-stage codegen.

    ``encoded`` is ``pq_encode`` output (id, codes); ``codebook`` is
    ``pq_codebook`` output. Distances are exact w.r.t. the quantized
    representation (the PQ approximation is in the codes, not the scan).

    The final top-k does NOT rank the full candidates x queries frame
    through one global window (that exchanges every scored row). Instead a
    first map-side pass sketches each query's ~k-th smallest distance with
    ``percentile_approx`` (bounded QuantileSummaries buffers, so the partial
    aggregation reduces BEFORE the exchange — a window or collect_list
    cannot), the thresholds broadcast back, and only candidates at or below
    their query's threshold reach the exact rank window. percentile_approx's
    rank-error bound (n/accuracy) makes the prefilter a guaranteed superset
    of the true top-k: the fraction is chosen so the threshold's rank is at
    least ``k_top`` even in the worst case. The scored scan is recomputed in
    the second pass — two cheap in-codegen map passes in exchange for
    shuffling ~k + 3n/accuracy rows per query instead of n.

    ``encoded`` is read three times (count, sketch pass, final scan): pass
    a stored/cached codes table, not an expensive unpersisted lineage.

    ``prefilter=None`` (auto) engages the threshold pass only when the
    candidate count crosses ``_PREFILTER_MIN_CANDS`` — below that the
    sketch pass costs more than the exchange it saves (measured: +1s at
    2k candidates, where the whole scan is driver overhead). ``True`` /
    ``False`` force it for tests and known workloads.
    """
    sub = dim // m_sub
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    pairs = q.crossJoin(F.broadcast(codebook))
    # single-expr-string construction (see _sub_l2_sql): identical tree,
    # ~1/8th-per-dim the py4j round-trips
    dcols = [
        F.expr(_sub_l2_sql("qv", "cvec", m, sub)).alias(f"__d{m}__")
        for m in range(m_sub)
    ]
    dtab = pairs.select("query_id", "cid", *dcols)
    per_q = _adc_tables(dtab, ["query_id"], "__d", m_sub)
    joined = encoded.select(F.col(id_col).alias("cand_id"), "codes").crossJoin(
        F.broadcast(per_q)
    )
    adc = _adc_sum("codes[{m}]", m_sub)
    scored = joined.withColumn("__adc__", adc).select(
        "query_id", "cand_id", "__adc__"
    )
    n_cand = encoded.count() if prefilter is not False else 0
    accuracy = 10000
    if prefilter is None:
        prefilter = n_cand >= _PREFILTER_MIN_CANDS
    if prefilter and n_cand > k_top * 50:
        # fraction such that the sketch value's rank is >= k_top even at
        # the worst rank error (n/accuracy), i.e. a guaranteed superset
        frac = min(
            1.0, (k_top + 2.0 * n_cand / accuracy + 1.0) / float(n_cand)
        )
        thr = scored.groupBy("query_id").agg(
            F.percentile_approx("__adc__", F.lit(frac), F.lit(accuracy)).alias(
                "__thr__"
            )
        )
        scored = scored.join(F.broadcast(thr), "query_id").filter(
            F.col("__adc__") <= F.col("__thr__")
        )
    return _topk(scored, "query_id", "cand_id", "__adc__", k_top, False).select(
        "query_id", "cand_id", "rank", F.round("__adc__", 6).alias("adc_dist")
    )


def silhouette_by_centroid(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int = 64,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster — the clustering
    QA metric run after k-means / label assignment: for each vector,
    a = cosine distance (1 − cos) to its OWN label centroid, b = the
    smallest distance to any OTHER centroid, s = (b − a) / max(a, b);
    report each label's mean s and size. s near 1 = compact and far from
    neighbors, near 0 = boundary, negative = probably mislabeled. (The
    classic per-point-pairs silhouette is O(n²); against centroids it is
    one broadcast pass — the form that exists at corpus scale.)

    Scale shape: centroids come from dim scalar partial-agg means
    (group_centroids), broadcast back (labels are dimension-scale); each
    vector scores against all centroids in ONE whole-stage-codegen
    crossJoin pass, and a/b reduce per vector with conditional min —
    vectors never shuffle except the final per-label mean.
    """
    cents = group_centroids(df, label_col, vec_col, dim).select(
        F.col(label_col).alias("__clabel__"), "centroid"
    )
    v = df.select(
        id_col,
        F.col(label_col).alias("__vlabel__"),
        F.col(vec_col).alias("__v__"),
        norm_expr(vec_col, dim).alias("__vn__"),
    )
    paired = v.crossJoin(F.broadcast(cents)).withColumn(
        "__dist__",
        F.lit(1.0) - cosine_expr("__v__", "__vn__", "centroid", norm_expr("centroid", dim), dim),
    )
    per_vec = paired.groupBy(id_col, "__vlabel__").agg(
        F.min(
            F.when(F.col("__vlabel__") == F.col("__clabel__"), F.col("__dist__"))
        ).alias("__a__"),
        F.min(
            F.when(F.col("__vlabel__") != F.col("__clabel__"), F.col("__dist__"))
        ).alias("__b__"),
    )
    sil = per_vec.withColumn(
        "__s__",
        (F.col("__b__") - F.col("__a__"))
        / F.greatest(F.col("__a__"), F.col("__b__")),
    )
    return (
        sil.groupBy(F.col("__vlabel__").alias(label_col))
        .agg(
            F.round(F.avg("__s__"), 6).alias("mean_silhouette"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def topk_recall(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    cand_col: str = "cand_id",
) -> DataFrame:
    """Recall@k of an approximate top-k against the exact top-k — the
    standard ANN quality gauge (FAISS-style recall curves): per query, the
    fraction of true neighbors the approximate index returned. Run it on a
    held-out query sample whenever an index parameter changes (n_probe,
    LSH bits, PQ codebook size); the recall/latency pair is the tuning
    loop.

    Both inputs are (query, cand[, ...]) top-k frames — k rows per query,
    so corpus-scale never reaches this operator; the join is co-keyed on
    (query, cand) and the aggregation partial. Denominator = the EXACT
    list size, so truncated approximate lists lose recall rather than
    silently shrinking the target set.

    Returns (query, n_exact, n_hits, recall).
    """
    e = exact.select(query_col, cand_col)
    a = approx.select(query_col, cand_col).withColumn("__hit__", F.lit(1))
    joined = e.join(a, [query_col, cand_col], "left")
    return joined.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce("__hit__", F.lit(0))).alias("n_hits"),
        F.round(
            F.sum(F.coalesce("__hit__", F.lit(0)))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("recall"),
    )


def centroid_blocked_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int = 64,
    n_cells: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): block by cluster
    membership instead of an LSH code — assign every vector to its nearest
    of ``n_cells`` seeded centroids, compare cosine only WITHIN a cell,
    and mark every vector that has a cell-mate above ``threshold`` with a
    smaller id as a duplicate (the keeper is the smallest id of each
    near-dup neighborhood). The complementary scale path to
    ``embedding_near_dup_pairs``: hyperplane LSH buckets split true
    neighborhoods across codes, while cluster blocking follows the data's
    own density — recall for semantic (non-near-identical) duplicates is
    higher at the same compare budget.

    Scale shape: assignment is one broadcast ×n_cells comparison + argmax
    (:func:`_nearest_cell`'s partial aggregate); the pairwise compare is
    cell-keyed self-join fan-out bounded by the cell population, never the
    corpus; the keep decision is one bool_or aggregation per id. At 100 TB
    pick n_cells ~ sqrt(N) (k-means-refined centroids slot in directly —
    ``kmeans_refine`` shares the seeded init) so cells stay executor-sized;
    a pathological cell would show up as one hot shuffle key, the standard
    AQE skew-join case.

    Returns (id, cell_id, is_dup) — filter ``~is_dup`` to keep survivors.
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    cents = ivf_centroids(df, id_col, vec_col, n_cells, dim)
    v = df.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        norm_expr(vec_col, dim).alias("n"),
    )
    # MATERIALIZED once (r11): the assignment feeds three consumers (both
    # self-join sides + the final verdict join) — unmaterialized, the
    # whole ×n_cells assignment subtree was planned and executed three
    # times per run (see plans/r11/e11_semdedup_*).
    assigned = materialize(
        _nearest_cell(v, id_col, "v", "n", cents, dim)
        .join(v, id_col)
        .select(id_col, "v", "n", "cell_id")
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), "cell_id",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), "cell_id",
    )
    dup_ids = (
        a.join(b, "cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr("va", "na", "vb", "nb", dim))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dup__", F.lit(True))
    )
    return (
        assigned.join(dup_ids, id_col, "left")
        .select(
            id_col,
            "cell_id",
            F.coalesce("__dup__", F.lit(False)).alias("is_dup"),
        )
    )


def mmr_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    pool: int = 10,
    lam: float = 0.7,
    dim: int = 64,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998):
    from each query's relevance top-``pool``, greedily select ``k`` items
    maximizing ``lam * rel(c) - (1 - lam) * max_{s in S} sim(c, s)`` — the
    diversity-aware selection used to sample training data without taking
    five near-copies of the best match. Pick 1 is the pure-relevance
    winner; every later pick is penalized by its similarity to what's
    already selected.

    Scale shape: the greedy loop runs over the POOL (k, pool are
    constants), not the corpus — stage one is the standard top-``pool``
    retrieval (brute force here; swap in the IVF/PQ path at scale), after
    which each of the k-1 refinement steps is a pool-bounded join +
    argmax window per query. The loop unrolls into a linear plan of
    constant depth; nothing iterates driver-side over data.

    Returns (query_id, cand_id, pick_order, mmr_score). ``mmr_score`` is
    the RAW double — pick 1's score is ``lam * rel`` over a 6-dp-rounded
    rel, a finite-decimal product that lands exactly on rounding half-way
    boundaries, so callers hashing output across engines should pin the
    (query, cand, pick_order) selection, not a re-rounded score.
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    rel = cosine_topk_bruteforce(
        queries, candidates, id_col, vec_col, k=pool, dim=dim
    ).select("query_id", "cand_id", F.col("cosine").alias("rel"))
    cv = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(vec_col, dim).alias("cn"),
    )
    # The pool is referenced by every greedy step (and sim twice more):
    # without a lineage cut the corpus-scale RETRIEVAL re-executes once per
    # reference. Materialize the pool (k·|queries| rows — tiny) so the
    # expensive stage runs exactly once.
    pool_df = materialize(rel.join(cv, "cand_id"))
    # pairwise similarity among pool mates of the same query (pool^2 rows
    # per query, pool is a small constant)
    a = pool_df.select(
        "query_id", F.col("cand_id").alias("id_a"),
        F.col("cv").alias("va"), F.col("cn").alias("na"),
    )
    b = pool_df.select(
        "query_id", F.col("cand_id").alias("id_b"),
        F.col("cv").alias("vb"), F.col("cn").alias("nb"),
    )
    # Stays UNCONDITIONALLY materialized (measured r12): the k-1 greedy
    # steps consume sim SEQUENTIALLY (each depends on the previous pick),
    # so a lazy sim recomputes the pool self-join on the critical path —
    # +0.8 s at sf0.1, worse at any scale. No parallel-sibling overlap
    # exists here, unlike the gated multi-consumer cuts.
    sim = materialize(
        a.join(b, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "query_id", "id_a", "id_b",
            cosine_expr("va", "na", "vb", "nb", dim).alias("sim"),
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__mmr__"), F.asc("cand_id"))
    # pick 1: pure relevance
    first = (
        pool_df.select("query_id", "cand_id", "rel")
        .withColumn("__mmr__", F.col("rel") * F.lit(float(lam)))
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(
            "query_id", "cand_id", F.lit(1).alias("pick_order"),
            F.col("__mmr__").alias("mmr_score"),
        )
    )
    selected = first
    remaining = pool_df.select("query_id", "cand_id", "rel").join(
        first.select("query_id", F.col("cand_id").alias("__sel__")), "query_id"
    ).filter(F.col("cand_id") != F.col("__sel__")).drop("__sel__")
    for step in range(2, k + 1):
        sel_ids = selected.select("query_id", F.col("cand_id").alias("__sid__"))
        sim_r = sim.select(
            F.col("query_id").alias("__sq__"), F.col("id_a").alias("__sa__"),
            F.col("id_b").alias("__sb__"), "sim",
        )
        maxsim = (
            remaining.join(sel_ids, "query_id")
            .join(
                sim_r,
                (F.col("__sq__") == F.col("query_id"))
                & (F.col("__sa__") == F.col("cand_id"))
                & (F.col("__sb__") == F.col("__sid__")),
                "left",
            )
            .groupBy("query_id", "cand_id", "rel")
            .agg(F.max(F.coalesce("sim", F.lit(-1.0))).alias("__ms__"))
        )
        picked = (
            maxsim.withColumn(
                "__mmr__",
                F.col("rel") * F.lit(float(lam))
                - F.col("__ms__") * F.lit(float(1.0 - lam)),
            )
            .withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .select(
                "query_id", "cand_id", F.lit(step).alias("pick_order"),
                F.col("__mmr__").alias("mmr_score"),
            )
        )
        selected = selected.unionByName(picked)
        remaining = remaining.join(
            picked.select("query_id", F.col("cand_id").alias("__sel__")),
            "query_id",
        ).filter(F.col("cand_id") != F.col("__sel__")).drop("__sel__")
    return selected.select("query_id", "cand_id", "pick_order", "mmr_score")


def int8_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    dim: int = 64,
) -> DataFrame:
    """End-to-end int8 serving path: calibrate on the CORPUS, quantize both
    sides into the same grid, rank by the INTEGER dot product of the
    quantized vectors. This is what actually runs after ``quantize_int8``
    shrinks the store 4x — and because the score is exact integer
    arithmetic, ranking can never diverge between engines or hardware (the
    float cosine path needs identical summation order; this needs
    nothing).

    Note the quantization is affine (offset + scale per dimension), so the
    integer dot is a monotone proxy for similarity in the quantized grid,
    not a cosine estimate — pair it with ``topk_recall`` against the exact
    path to measure what the 4x compression costs in recall.

    Returns (query_id, cand_id, rank, score).
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize_gated

    # Size-gated lineage cut (r12): the one-row calibration frame is a
    # corpus-scale 2*dim-aggregate pass referenced by BOTH quantize sides.
    # At scale the cut keeps that pass at one execution (duplicated
    # subtrees don't share stages under AQE); at toy scale the duplicates
    # run as parallel stages in one job, so the cut engages on size only.
    cal = materialize_gated(int8_calibration(candidates, vec_col, dim))
    qq = quantize_int8(queries, id_col, vec_col, dim, calibration=cal).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("qq")
    )
    cq = quantize_int8(candidates, id_col, vec_col, dim, calibration=cal).select(
        F.col(id_col).alias("cand_id"), F.col("qvec").alias("cq")
    )
    idot = F.expr(
        " + ".join(
            f"CAST(qq[{i}] AS BIGINT) * CAST(cq[{i}] AS BIGINT)"
            for i in range(dim)
        )
    )
    scored = qq.crossJoin(cq).withColumn("score", idot)
    return _topk(scored, "query_id", "cand_id", "score", k, True).select(
        "query_id", "cand_id", "rank", "score"
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k_const: int = 60,
    topk: int = 3,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) over N ranked lists:
    fused(q, c) = sum over systems of 1 / (k + rank_i(q, c)), missing
    entries contribute nothing. The standard way to ensemble
    heterogeneous retrievers (keyword + dense, or exact + quantized +
    LSH index variants) without score calibration — only RANKS enter, so
    incomparable score scales never matter and the arithmetic is a short
    fixed-order sum of exact reciprocals (engine-identical).

    Each input frame carries (query_id, cand_id, rank). Scale shape: the
    inputs are k-rows-per-query lists, unioned then one partial-aggregated
    sum keyed on (query, cand) and one per-query top-k window — corpus
    size never reaches this operator.

    Returns (query_id, cand_id, fused_rank, rrf_score round 9).
    """
    parts = [
        r.select(
            "query_id", "cand_id",
            (F.lit(1.0) / (F.lit(float(k_const)) + F.col("rank"))).alias("__c__"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", "cand_id").agg(F.sum("__c__").alias("__s__"))
    w = Window.partitionBy("query_id").orderBy(F.desc("__s__"), F.asc("cand_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= topk)
        .select(
            "query_id", "cand_id", "fused_rank",
            F.round("__s__", 9).alias("rrf_score"),
        )
    )


def hard_negatives(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 4,
    dim: int = 64,
    anchors: DataFrame | None = None,
    *,
    method: str,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the k
    most-similar vectors carrying a DIFFERENT label — the negatives that
    actually move an embedding model, versus uniformly sampled ones that
    are trivially separable.

    ``method`` is a REQUIRED keyword: exact vs approximate retrieval is a
    semantic contract the caller must choose, not a default that can
    silently flip results (this function originally defaulted to the
    exhaustive path; a later default of 'ivf' would have silently made
    existing exact callers approximate). ``method='ivf'`` is the scale
    path: candidates come from the same seeded-centroid inverted file as
    :func:`cosine_topk_ivf` — anchors probe their ``n_probe`` nearest of
    ``n_cells`` cells and the label-excluding top-k ranks only those
    lists, so per-anchor work is O(n_probe·N/n_cells), never the full
    corpus. ``method='exact'`` keeps the exhaustive cross for truth/recall
    audits at fixture scale; it is O(anchors × corpus) and is NOT a
    100 TB path.

    Returns (anchor_id, neg_id, rank, cosine).
    """
    if method not in ("ivf", "exact"):
        raise ValueError(f"unknown method: {method}")
    anc = (anchors if anchors is not None else df).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("av"),
        norm_expr(vec_col, dim).alias("an"),
        F.col(label_col).alias("albl"),
    )
    cand = df.select(
        F.col(id_col).alias("neg_id"),
        F.col(vec_col).alias("nv"),
        norm_expr(vec_col, dim).alias("nn"),
        F.col(label_col).alias("nlbl"),
    )
    if method == "ivf":
        cents = ivf_centroids(df, id_col, vec_col, n_cells, dim)
        inverted = _nearest_cell(cand, "neg_id", "nv", "nn", cents, dim).join(cand, "neg_id")
        probes = _probe_cells(anc, "anchor_id", "av", "an", cents, dim, n_probe).join(
            anc, "anchor_id"
        )
        joined = probes.join(inverted, "cell_id")
    else:
        joined = anc.crossJoin(cand)
    scored = joined.filter(
        (F.col("albl") != F.col("nlbl")) & (F.col("anchor_id") != F.col("neg_id"))
    ).withColumn("cosine", cosine_expr("av", "an", "nv", "nn", dim))
    return _topk(scored, "anchor_id", "neg_id", "cosine", k, True).select(
        "anchor_id", "neg_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def top_eigenvector(
    df: DataFrame,
    vec_col: str,
    dim: int = 8,
    n_iter: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Top principal direction of the first ``dim`` embedding dimensions
    by power iteration — the PCA-lite step before whitening or
    low-rank compression of an embedding store.

    Scale shape: the ONLY distributed work is one partial-aggregated pass
    computing all raw moments (dim sums + dim*(dim+1)/2 cross sums in one
    agg row), collected to the driver — MLlib's
    ``RowMatrix.computePrincipalComponents`` shape. The dim x dim
    covariance and every iteration are a few hundred float operations,
    replayed in plain Python (``_pca_replay``) and returned as a dim-row
    ``LocalTableScan``: no lineage cut, join, window or broadcast.
    Determinism: covariance entries round to ``round_to`` BEFORE
    iterating, each iterate renormalizes by its largest-|.|-component (abs
    desc, index asc tie-break — the signed pivot fixes the sign
    convention) and rounds, so the driver and the SQL oracle iterate
    identical rationals.

    Returns (i, component, eigenvalue) — eigenvalue is the pivot magnitude
    of the LAST un-normalized iterate (the dominant-eigenvalue estimate).
    """
    _, [(v, eig)] = _pca_replay(df, vec_col, dim, n_iter, round_to, 1)
    return local_frame(
        df.sparkSession,
        "i bigint, component double, eigenvalue double",
        [(i, c, eig) for i, c in enumerate(v, 1)],
    )


def _moments(
    df: DataFrame,
    vec_col: str,
    dim: int,
) -> dict:
    """The ONE corpus-scale pass of the PCA family, collected: n, the dim
    sums s{i} and the dim*(dim+1)/2 cross sums p{i}_{j} of one agg row."""
    # expr-string aggregates (r11): identical parsed trees, one py4j
    # round-trip per aggregate instead of ~6
    el = lambda i: f"CAST(element_at(`{vec_col}`, {i}) AS DOUBLE)"  # noqa: E731
    aggs = [F.expr("CAST(count(1) AS BIGINT) AS n")]
    for i in range(1, dim + 1):
        aggs.append(F.expr(f"sum({el(i)}) AS s{i}"))
    for i in range(1, dim + 1):
        for j in range(i, dim + 1):
            aggs.append(F.expr(f"sum({el(i)} * {el(j)}) AS p{i}_{j}"))
    return df.agg(*aggs).collect()[0].asDict()


def _spark_round(jvm, x: float | None, r: int) -> float | None:
    """Spark's ``round(double, r)`` on the driver: HALF_UP on the JVM's
    ``Double.toString(x)`` (Spark rounds ``BigDecimal.valueOf(x)``, and
    JDK 17 does not always print the shortest string), NULL, NaN and
    ±inf unchanged. ``+ 0.0`` drops the negative zero BigDecimal lacks;
    the context's precision must hold the ~330 digits of a large double."""
    if x is None or not math.isfinite(x):
        return x
    d = Decimal(jvm.java.lang.Double.toString(x))
    q = d.quantize(Decimal(1).scaleb(-r), ROUND_HALF_UP, Context(prec=MAX_PREC))
    return float(q) + 0.0


def _sql_op(f, *args):
    """``f(*args)`` with SQL NULL propagation: None if any operand is."""
    return None if any(a is None for a in args) else f(*args)


def _sql_sum(terms) -> float | None:
    """SQL ``sum`` over doubles in order: from 0.0, NULL terms skipped,
    NULL when every term is."""
    total = None
    for t in terms:
        if t is not None:
            total = (0.0 if total is None else total) + t
    return total


def _power_chain(cov: list, n_iter: int, rnd) -> tuple[list, float | None]:
    """Pinned power iteration on a dim x dim matrix from the all-ones
    start: (C v)_i is a SQL sum over j ascending, rounded; the pivot is
    the first entry by |.| descending (NaN above every number, as Spark
    orders it), index ascending, NULLs last; each entry is divided by it
    and rounded. Returns (v, eig) with eig the final pivot magnitude. A
    zero pivot raises, where the SQL division raised DIVIDE_BY_ZERO."""
    v, eig = [1.0] * len(cov), None
    for _ in range(n_iter):
        cv = [
            rnd(_sql_sum(_sql_op(operator.mul, c, x) for c, x in zip(row, v)))
            for row in cov
        ]
        # min keeps the first of equal keys: the index-ascending tie-break
        pivot = min(
            (c for c in cv if c is not None),
            key=lambda c: (not math.isnan(c), -abs(c)),
            default=None,
        )
        if pivot == 0:
            raise ZeroDivisionError(
                "power iteration hit a zero pivot: every entry of C v is 0 "
                "(constant vectors, a single row, or a rank-1 input deflated)"
            )
        v = [None if c is None else rnd(c / pivot) for c in cv]
        eig = None if pivot is None else abs(pivot)
    return v, eig


def _pca_replay(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_iter: int,
    round_to: int,
    n_comp: int,
) -> tuple[list, list]:
    """The PCA family's driver-side solve off the collected moments row:
    the rounded covariance (p - s_i * s_j / n) / n, the first pinned power
    chain and, for ``n_comp`` 2, the Hotelling deflation
    round(c - eig1 * v_i * v_j / vv) with vv = round(sum v_j * v_j) and a
    second chain. Every expression keeps the SQL oracle's operand order
    and NULL semantics, so an empty frame gives NULL components. vv sums
    j ascending; the Spark chain this replaced summed in partition order,
    which can differ only when the exact sum sits within an ulp of a
    rounding tie. Returns (rounded means, [(v, eig) per component])."""
    jvm = df.sparkSession.sparkContext._jvm
    mom = _moments(df, vec_col, dim)
    n = mom["n"]
    s = [mom[f"s{i}"] for i in range(1, dim + 1)]

    def rnd(x):
        return _spark_round(jvm, x, round_to)

    cov = [
        [
            rnd(_sql_op(
                lambda p, a, b: (p - a * b / n) / n,
                mom[f"p{min(i, j)}_{max(i, j)}"], s[i - 1], s[j - 1],
            ))
            for j in range(1, dim + 1)
        ]
        for i in range(1, dim + 1)
    ]
    comps = [_power_chain(cov, n_iter, rnd)]
    if n_comp == 2:
        v, eig = comps[0]
        vv = rnd(_sql_sum(_sql_op(operator.mul, x, x) for x in v))
        cov2 = [
            [
                rnd(_sql_op(lambda c, e, a, b, w: c - e * a * b / w,
                            c, eig, v[i], v[j], vv))
                for j, c in enumerate(row)
            ]
            for i, row in enumerate(cov)
        ]
        comps.append(_power_chain(cov2, n_iter, rnd))
    means = [rnd(_sql_op(lambda a: a / n, x)) for x in s]
    return means, comps


def pca_top2(
    df: DataFrame,
    vec_col: str,
    dim: int = 8,
    n_iter: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Top TWO principal directions by power iteration + Hotelling
    deflation (E27) — the rank-2 PCA sketch behind embedding-store
    whitening previews, 2-D drift plots, and cheap anisotropy checks
    (is the store collapsing onto one axis?). Same pinned-arithmetic
    contract as ``top_eigenvector``: covariance entries round before
    iterating, every iterate pivot-normalizes and rounds, and the
    deflated matrix C2 = round(C - eig1 * v1 v1^T / (v1^T v1)) rounds
    entry-wise, so the driver and the SQL oracle replay identical
    rationals end to end (covariance is PSD, so the pivot magnitude IS the
    signed dominant eigenvalue estimate and deflation needs no sign fix).

    Scale shape: ONE corpus-scale moments pass, collected as one row (as
    for ``top_eigenvector``); the deflation and both iteration chains run
    on the driver over dim x dim lists (``_pca_replay``) — the corpus is
    never rescanned for the second component, and no job runs after the
    moments pass until the 2*dim-row ``LocalTableScan`` is read.

    Returns 2*dim rows: (comp 1|2, i, loading, eigenvalue).
    """
    _, comps = _pca_replay(df, vec_col, dim, n_iter, round_to, 2)
    return local_frame(
        df.sparkSession,
        "comp int not null, i bigint, loading double, eigenvalue double",
        [
            (k, i, c, eig)
            for k, (v, eig) in enumerate(comps, 1)
            for i, c in enumerate(v, 1)
        ],
    )


def pca_scores(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 8,
    n_iter: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Project every embedding onto the top-2 principal directions (E28)
    — the per-document companion of ``pca_top2``: mean-centered scores
    along the two dominant axes, i.e. the 2-D map used for corpus drift
    plots, cluster sanity views, and cheap outlier flags (a score far
    outside the bulk on either axis). Same pinned-arithmetic contract as
    e17/e27: loadings and the (rounded) per-dimension means come out of
    the shared moments pass, and each score is ONE fixed left-associated
    IEEE chain over the row's ``dim`` elements — fully codegen, no UDF.

    Scale shape: the corpus is scanned twice total — once for the
    collected moments pass (``_pca_replay``), once for the projection
    itself — and the projection carries the means and loadings as
    literals: no join, broadcast or shuffle.

    Returns (id, score1, score2) rounded ``round_to``dp.
    """
    means, [(w1, _), (w2, _)] = _pca_replay(df, vec_col, dim, n_iter, round_to, 2)
    x = [
        F.expr(f"CAST(element_at(`{vec_col}`, {i}) AS DOUBLE)")
        for i in range(1, dim + 1)
    ]

    def chain(w):
        # (t1 + t2) + t3 ...: the left association of a parsed "t1 + t2 + t3"
        return functools.reduce(
            operator.add,
            [(xi - F.lit(m)) * F.lit(c) for xi, m, c in zip(x, means, w)],
        )

    return df.select(
        F.col(id_col).alias("id"),
        F.round(chain(w1), round_to).alias("score1"),
        F.round(chain(w2), round_to).alias("score2"),
    )


def ivf_cell_stats(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """IVF index health report: assign the corpus to its cells (same
    broadcast-centroid argmax as the search path) and summarize the
    inverted-list size distribution — used cells, min/max/avg list length,
    and the imbalance factor max/avg that predicts probe-latency skew.
    Run it after building (or re-seeding) an index: a hot cell means a
    probe hitting it scans that whole list.

    Scale shape: the assignment is the standard x n_cells broadcast
    comparison; the report is one partial-aggregated groupBy over cell
    ids plus a one-row rollup — integers and two exact divisions.
    """
    cents = ivf_centroids(candidates, id_col, vec_col, n_cells, dim)
    c = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(vec_col, dim).alias("cn"),
    )
    assigned = _nearest_cell(c, "cand_id", "cv", "cn", cents, dim)
    sizes = assigned.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells_used"),
        F.sum("sz").cast("long").alias("n_vectors"),
        F.min("sz").alias("min_cell"),
        F.max("sz").alias("max_cell"),
        F.round(F.sum("sz") / F.count(F.lit(1)), round_to).alias("avg_cell"),
        F.round(
            F.max("sz") / (F.sum("sz") / F.count(F.lit(1))), round_to
        ).alias("imbalance"),
    )


def jl_sign_matrix(dim: int, k: int, seed: str = "jl") -> list[list[int]]:
    """Achlioptas sparse random-projection signs R[i][j] in {+1, 0, -1}
    with P = (1/6, 2/3, 1/6), derived from md5(seed#i#j) so any engine
    (or an oracle) regenerates the identical matrix."""
    import hashlib

    def sign(i: int, j: int) -> int:
        hv = int(
            hashlib.md5(f"{seed}#{i}#{j}".encode()).hexdigest()[:12], 16
        ) % 6
        return 1 if hv == 0 else (-1 if hv == 1 else 0)

    return [[sign(i, j) for j in range(k)] for i in range(dim)]


def jl_project_sql_terms(
    vec_sql: str, dim: int, k: int, seed: str = "jl"
) -> list[str]:
    """The k projection expressions as SQL strings (1-indexed element
    access, for DuckDB oracles): '(0.0 + v[3] - v[17] ...) * scale'."""
    R = jl_sign_matrix(dim, k, seed)
    scale = math.sqrt(3.0 / k)
    out = []
    for j in range(k):
        body = "0.0"
        for i in range(dim):
            if R[i][j] > 0:
                body += f" + CAST({vec_sql}[{i + 1}] AS DOUBLE)"
            elif R[i][j] < 0:
                body += f" - CAST({vec_sql}[{i + 1}] AS DOUBLE)"
        out.append(f"({body}) * {scale!r}")
    return out


def jl_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 16,
    seed: str = "jl",
    round_to: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection dim -> k: the standard
    cheap dimensionality reduction before ANN indexing or dedup over an
    embedding store (pairwise distances preserved within ~1/sqrt(k)).
    Sparse Achlioptas signs mean 2/3 of the matrix is zero — each output
    dim is a short +/- chain over ~dim/3 inputs.

    Scale shape: the sign matrix is generated AT PLAN TIME into literal
    +/- expression chains — a pure narrow per-row map in whole-stage
    codegen with zero runtime hashing, zero shuffle, nothing broadcast.
    Term order is ascending input index in both engines, so the float sum
    is bit-identical and the rounded output hashes cleanly.

    Returns (id, proj array<double> length k).
    """
    R = jl_sign_matrix(dim, k, seed)
    scale = math.sqrt(3.0 / k)
    cols = []
    for j in range(k):
        body = "cast(0.0 as double)"
        for i in range(dim):
            if R[i][j] > 0:
                body += f" + cast({vec_col}[{i}] as double)"
            elif R[i][j] < 0:
                body += f" - cast({vec_col}[{i}] as double)"
        cols.append(F.expr(f"round(({body}) * {scale!r}, {round_to})"))
    return df.select(F.col(id_col), F.array(*cols).alias("proj"))


def binary_quantize(
    df: DataFrame, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    """1-bit (sign) quantization: pack the embedding's sign pattern into
    32-dim long words — 64 floats become 8 bytes, the 32x memory lever
    past int8/PQ, searched with XOR+popcount. Packing is an exact integer
    sum of powers of two per word (32 bits per long keeps every word
    positive — no sign-bit edge cases in either engine).

    Returns (id, words array<long> of ceil(dim/32)).
    """
    n_words = -(-dim // 32)
    words = []
    for w in range(n_words):
        terms = " + ".join(
            f"CASE WHEN {vec_col}[{i}] >= 0 THEN {1 << (i - 32 * w)}L ELSE 0L END"
            for i in range(32 * w, min(32 * (w + 1), dim))
        )
        words.append(F.expr(terms))
    return df.select(F.col(id_col), F.array(*words).alias("words"))


def binary_topk_rerank(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    dim: int = 64,
    prefilter_m: int = 12,
    method: str = "ivf",
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Two-stage binary serving: hamming prefilter over the sign-packed
    words (XOR + bit_count — integer, engine-exact), then EXACT cosine
    rerank of only the ``prefilter_m`` nearest-by-hamming candidates per
    query. The standard recall/cost shape: the cheap scan touches 8-byte
    codes, the float vectors are read only for m rows per query.

    The DEFAULT (``method='ivf'``) scans packed codes only inside the
    query's ``n_probe`` probed IVF cells (same seeded quantizer as
    cosine_topk_ivf / e15b) — per-query hamming work is
    O(n_probe·N/n_cells) over 8-byte codes. ``method='scan'`` is the
    flat-scan truth variant (IndexBinaryFlat shape): 32x cheaper than a
    float brute force but still linear in the corpus — fixture-scale
    audits only.

    Returns (query_id, cand_id, rank, hamming, cosine).
    """
    if method not in ("ivf", "scan"):
        raise ValueError(f"unknown method: {method}")
    n_words = -(-dim // 32)
    qb = binary_quantize(queries, id_col, vec_col, dim).select(
        F.col(id_col).alias("query_id"), F.col("words").alias("qw")
    )
    cb = binary_quantize(candidates, id_col, vec_col, dim).select(
        F.col(id_col).alias("cand_id"), F.col("words").alias("cw")
    )
    ham = F.expr(
        " + ".join(
            f"bit_count(qw[{w}] ^ cw[{w}])" for w in range(n_words)
        )
    )
    if method == "ivf":
        cents = ivf_centroids(candidates, id_col, vec_col, n_cells, dim)
        c = candidates.select(
            F.col(id_col).alias("cand_id"),
            F.col(vec_col).alias("__cv__"),
            norm_expr(vec_col, dim).alias("__cn__"),
        )
        inverted = _nearest_cell(c, "cand_id", "__cv__", "__cn__", cents, dim).join(
            cb, "cand_id"
        )
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv__"),
            norm_expr(vec_col, dim).alias("__qn__"),
        )
        probes = _probe_cells(q, "query_id", "__qv__", "__qn__", cents, dim, n_probe).join(
            qb, "query_id"
        )
        paired = probes.join(inverted, "cell_id")
    else:
        paired = qb.crossJoin(cb)
    w_pre = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("cand_id")
    )
    pre = (
        paired
        .withColumn("hamming", ham)
        .withColumn("__rn__", F.row_number().over(w_pre))
        .filter(F.col("__rn__") <= prefilter_m)
        .select("query_id", "cand_id", "hamming")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_expr(vec_col, dim).alias("qn"),
    )
    cv = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(vec_col, dim).alias("cn"),
    )
    scored = (
        pre.join(qv, "query_id")
        .join(cv, "cand_id")
        .withColumn("cosine", cosine_expr("qv", "qn", "cv", "cn", dim))
    )
    return _topk(scored, "query_id", "cand_id", "cosine", k, True).select(
        "query_id", "cand_id", "rank", "hamming", F.round("cosine", 6).alias("cosine")
    )


def cell_exemplars(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    n_cells: int = 16,
) -> DataFrame:
    """Exemplar per IVF cell: the member MOST cosine-similar to its cell
    centroid — the representative you label/inspect when browsing a
    clustered corpus (and the natural prompt for an LLM cluster-labeling
    pass). One broadcast assignment + one max_by aggregate per cell; no
    window over members, no pairwise anything.

    Returns (cell_id, exemplar_id, cosine, n_members).
    """
    cents = ivf_centroids(df, id_col, vec_col, n_cells, dim)
    v = df.select(
        F.col(id_col).alias("__vid__"),
        F.col(vec_col).alias("__v__"),
        norm_expr(vec_col, dim).alias("__vn__"),
    )
    assigned = _nearest_cell(v, "__vid__", "__v__", "__vn__", cents, dim)
    return assigned.groupBy("cell_id").agg(
        F.min_by(
            "__vid__",
            F.struct((-F.col("cos")).alias("ns"), F.col("__vid__")),
        ).alias("exemplar_id"),
        F.round(F.max("cos"), 6).alias("cosine"),
        F.count(F.lit(1)).alias("n_members"),
    )


def residual_codebook(
    assigned: DataFrame,
    id_col: str,
    k: int = 16,
    dim: int = 64,
    seed_prefix: str = "pqr",
) -> DataFrame:
    """Deterministic PQ codebook over IVF RESIDUALS: the ``k`` assigned
    candidates with the smallest md5(seed_prefix#id) contribute their
    residual (vector minus assigned-cell centroid) as codebook entries,
    numbered 1..k by seed order. ``assigned`` needs (id, __v__, __cv__)
    — a vector and its assigned centroid. Same seeded-sample init as
    :func:`pq_codebook`, computed on the residual field PQ will encode.
    """
    # one expr string, not dim x ~4 py4j operator calls (r11) — identical
    # parsed tree
    rvec = F.expr(
        "array(" + ", ".join(
            f"CAST(__v__[{i}] AS DOUBLE) - CAST(__cv__[{i}] AS DOUBLE)"
            for i in range(dim)
        ) + ")"
    )
    return _seeded_pick(
        assigned, id_col, [F.col("__v__"), F.col("__cv__")], k, seed_prefix,
        rvec.alias("rvec"),
    )


def _pq_folds(dim: int, m_sub: int):
    """Shared fold builders for the IVFPQ build/search paths. Higher-order
    folds, NOT unrolled 64-term chains: at dim 64 the generated chains
    dominate wall time through whole-stage-codegen COMPILATION (~2-4s per
    distinct stage), while aggregate(zip_with(...)) compiles in
    milliseconds and evaluates the identical left-associated sum
    ((0+t0)+t1)+... — same doubles, same oracle hash."""
    sub = dim // m_sub

    def l2_fold(a: str | Column, b: str | Column) -> Column:
        sq = F.zip_with(
            a if not isinstance(a, str) else F.col(a),
            b if not isinstance(b, str) else F.col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
        return F.aggregate(sq, F.lit(0.0), lambda acc, t: acc + t)

    def diff_arr(vec: str, cvec: str) -> Column:
        return F.zip_with(
            F.col(vec), F.col(cvec),
            lambda x, y: x.cast("double") - y.cast("double"),
        )

    return l2_fold, diff_arr


def _gemm_pq_encode(
    df: DataFrame,
    cents: DataFrame,
    rcb: DataFrame,
    dim: int,
    m_sub: int,
) -> DataFrame:
    """Arrow-batched PQ encode (r10): per batch, subtract the assigned
    centroid (one fancy-indexed numpy gather) and compute every
    subvector's argmin against the residual codebook as matrix ops —
    |r-c|^2 = |r|^2 - 2 r.c + |c|^2 per 8-dim sub-block. Replaces the
    x k_cb broadcast expansion (n x k_cb rows x m_sub unrolled chains,
    the measured wall of the JVM encode at 300k x 256). Exact up to
    float reassociation on distance ties; numpy argmin takes the first
    (lowest cid) index, matching the exact path's (dist, cid) min_by
    tie-break. ``df`` needs (cand_id, cell_id, __v__); both lookup
    tables are dimension-sized bounded collects."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    crows = cents.select("cell_id", "cvec").orderBy("cell_id").collect()
    # cell_id is the centroid's own id column — carry its values and
    # dtype through untouched (ADVICE r10: int() coercion crashed
    # string-id corpora and LongType() skewed the schema for int ids)
    cell_idx = {r.cell_id: i for i, r in enumerate(crows)}
    cmat = np.array([[float(x) for x in r.cvec] for r in crows], dtype=np.float64)
    rrows = rcb.select("cid", "rvec").orderBy("cid").collect()
    # int32: the ADC lookup is element_at(array, code) and array ordinals
    # must be INT
    cids = np.array([int(r.cid) for r in rrows], dtype=np.int32)
    rmat = np.array([[float(x) for x in r.rvec] for r in rrows], dtype=np.float64)
    sub = dim // m_sub

    out_schema = StructType(
        [
            df.schema["cand_id"],
            df.schema["cell_id"],
            df.schema["__v__"],
            *[StructField(f"__c{m}__", IntegerType(), False) for m in range(m_sub)],
        ]
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            v = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf["__v__"]]
            )
            idx = pdf["cell_id"].map(cell_idx).to_numpy(dtype=np.int64)
            r = v - cmat[idx]
            out = {
                "cand_id": pdf["cand_id"],
                "cell_id": pdf["cell_id"],
                "__v__": pdf["__v__"],
            }
            for m in range(m_sub):
                rm = r[:, m * sub : (m + 1) * sub]
                cm = rmat[:, m * sub : (m + 1) * sub]
                d = (
                    (rm * rm).sum(axis=1)[:, None]
                    - 2.0 * (rm @ cm.T)
                    + (cm * cm).sum(axis=1)[None, :]
                )
                out[f"__c{m}__"] = cids[d.argmin(axis=1)]
            yield pd.DataFrame(out)

    return df.select("cand_id", "cell_id", "__v__").mapInPandas(
        encode, out_schema
    )


def ivfpq_build(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    m_sub: int = 8,
    k_cb: int = 16,
    n_cells: int = 16,
    route: str = "exact",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the IVF-PQ index once (FAISS train+add): seeded coarse
    centroids, the residual codebook, and the encoded inverted lists —
    (cand_id, cell_id, m_sub codes, flat vector for optional refine).
    All three materialize so repeated searches never re-pay assignment
    or encoding. Returns (cents, rcb, encoded).

    Build-cost note (r08): codebook TRAINING was never the expensive
    part — both ivf_centroids and residual_codebook select their entries
    by seeded md5 rank via TakeOrderedAndProject (one cheap pass; the
    FAISS train-on-a-sample advice is satisfied by construction). The
    r07 53.9s build cost was (a) dim-double vector arrays memcpy'd
    through the x n_cells / x k_cb row expansions into the aggregates
    and (b) interpreted higher-order folds per expanded row; fixed by
    slim-carry + id-rejoin and unrolled per-subvector element chains
    (8.1s at 30k x k_cb=256, values bit-identical).

    ``route``: "exact" (default) or "gemm" (Arrow-batched BLAS assignment
    and encode, :func:`_gemm_assign` / :func:`_gemm_pq_encode`); any
    other value raises ``ValueError``."""
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    if route not in ("exact", "gemm"):
        raise ValueError(f"unknown route: {route!r}")

    l2_fold, diff_arr = _pq_folds(dim, m_sub)
    cents = F.broadcast(
        materialize(
            ivf_centroids(candidates, id_col, vec_col, n_cells, dim).select(
                "cell_id", "cvec"
            ),
        )
    )
    # --- assignment: nearest cell by L2, min_by aggregate (no window) ---
    # The xN_cells expansion carries ONLY (cand_id, cell_id, l2): routing
    # the dim-double vector array through the expanded rows and the agg
    # buffers is pure memcpy (n x n_cells x 8*dim bytes — the dominant
    # build cost at the r07 profile); vectors rejoin by id afterwards,
    # one slim shuffle of n rows.
    c = candidates.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("__v__"))
    argmin = F.min_by(
        "cell_id", F.struct(F.col("__l2__"), F.col("cell_id"))
    ).alias("cell_id")
    if route == "gemm":
        # Full-BLAS build (r10): assignment is the L2 argmin over all
        # cells (|v-c|^2 = -2*(v.c - |c|^2/2) + |v|^2, the |v|^2 term
        # constant per row) in one GEMM per batch, and the ENCODE skips
        # the x k_cb broadcast expansion entirely — per batch, residuals
        # and all m_sub subvector argmins run as numpy matrix ops
        # (_gemm_pq_encode). The residual codebook still trains via the
        # JVM path (one cheap ranked pass), but its rvec entries depend
        # on the ASSIGNED centroid — so rcb matches the exact route's
        # only modulo float-tie assignment flips (GEMM reassociation can
        # flip exact-tie cells; same caveat as the assignment itself).
        assign_m = materialize(_gemm_assign(c, cents, "cand_id", "__v__", dim, "l2"))
        assigned_lazy = (
            assign_m.join(c, "cand_id")
            .join(cents.withColumnRenamed("cvec", "__cv__"), "cell_id")
        )
        rcb = F.broadcast(
            materialize(residual_codebook(assigned_lazy, "cand_id", k=k_cb, dim=dim))
        )
        encoded = materialize(
            _gemm_pq_encode(
                assign_m.join(c, "cand_id"), cents, rcb, dim, m_sub
            ),
        )
        return cents, rcb, encoded
    assign_codes = (
        c.crossJoin(cents)
        .select("cand_id", "cell_id", l2_fold("__v__", "cvec").alias("__l2__"))
        .groupBy("cand_id")
        .agg(argmin)
    )
    assigned = (
        assign_codes.join(c, "cand_id")
        .join(cents.withColumnRenamed("cvec", "__cv__"), "cell_id")
    )
    assigned = materialize(assigned.withColumn("__rd__", diff_arr("__v__", "__cv__")))
    # --- residual codebook (k_cb-row broadcast) ---
    rcb = F.broadcast(
        materialize(residual_codebook(assigned, "cand_id", k=k_cb, dim=dim))
    )
    # --- encode: all m_sub residual-subvector argmins in one aggregation ---
    # same slimming as assignment: the x k_cb codebook expansion carries
    # only the code ids and fold distances (n x k_cb rows of a few dozen
    # bytes instead of two dim-double arrays each); the flat vector for
    # the optional refine path rejoins by id at the end. The per-subvector
    # distances are _residual_l2_sql's unrolled chains.
    sub = dim // m_sub
    enc_dists = [
        F.expr(_residual_l2_sql("__rd__", m, sub)).alias(f"__d{m}__")
        for m in range(m_sub)
    ]
    enc_scored = assigned.crossJoin(rcb).select("cand_id", "cid", *enc_dists)
    codes = enc_scored.groupBy("cand_id").agg(
        *[
            F.min_by("cid", F.struct(F.col(f"__d{m}__"), F.col("cid"))).alias(
                f"__c{m}__"
            )
            for m in range(m_sub)
        ],
    )
    encoded = materialize(
        codes.join(assigned.select("cand_id", "cell_id", "__v__"), "cand_id")
        .select(
            "cand_id", "cell_id", "__v__",
            *[f"__c{m}__" for m in range(m_sub)],
        ),
    )
    return cents, rcb, encoded


def ivfpq_search(
    queries: DataFrame,
    cents: DataFrame,
    rcb: DataFrame,
    encoded: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    m_sub: int = 8,
    n_probe: int = 4,
    k_top: int = 3,
    rerank_m: int | None = None,
) -> DataFrame:
    """Search a prebuilt IVF-PQ index (:func:`ivfpq_build`) — the
    recurring serving cost: probe n_probe cells, compute one k_cb-row
    distance table per (query, probed cell), rank the probed lists by
    m_sub array reads each; optionally refine (FAISS IndexRefineFlat)
    the ADC top-``rerank_m`` with exact L2 against the index's flat
    vectors. Per-query work is O(n_probe/n_cells) of the corpus."""
    l2_fold, diff_arr = _pq_folds(dim, m_sub)
    # --- query probes: n_probe nearest cells by L2 ---
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    w_probe = Window.partitionBy("query_id").orderBy(F.asc("__l2__"), F.asc("cell_id"))
    probes = (
        q.crossJoin(cents)
        .select("query_id", "qv", "cell_id", "cvec", l2_fold("qv", "cvec").alias("__l2__"))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= n_probe)
        .select(
            "query_id", "qv", "cell_id",
            diff_arr("qv", "cvec").alias("__qd__"),
        )
    )
    # --- per-(query, probed cell) distance tables to the residual codebook
    # (q x n_probe x k_cb rows x m_sub unrolled _residual_l2_sql chains) ---
    sub = dim // m_sub
    tab_dists = [
        F.expr(_residual_l2_sql("__qd__", m, sub)).alias(f"__t{m}__")
        for m in range(m_sub)
    ]
    dtab = probes.crossJoin(rcb).select(
        "query_id", "cell_id", "cid", *tab_dists
    )
    tables = _adc_tables(dtab, ["query_id", "cell_id"], "__t", m_sub)
    # --- scan only probed cells' inverted lists; ADC = m_sub O(1) reads ---
    # tables has exactly ONE consumer (this broadcast): no materialize —
    # the broadcast build computes it directly, saving one eager
    # checkpoint barrier per search (r11). Determinism is unaffected
    # (array_sort fixes the collect_list order).
    joined = encoded.join(F.broadcast(tables), "cell_id")
    adc = _adc_sum("__c{m}__", m_sub)
    scored = joined.select("query_id", "cand_id", adc.alias("__adc__"))
    if rerank_m is None:
        return _topk(scored, "query_id", "cand_id", "__adc__", k_top, False).select(
            "query_id", "cand_id", "rank", F.round("__adc__", 6).alias("adc_dist")
        )
    # --- refine (FAISS IndexRefineFlat): exact L2 rerank of the ADC top-m.
    # The (q x m)-row shortlist broadcasts; the index's flat vectors are
    # read once via the cand_id equi-join, never shuffled — ADC
    # quantization error then only costs recall a neighbor pushed BELOW
    # rank m, not ranking noise inside the shortlist.
    shortlist = _topk(scored, "query_id", "cand_id", "__adc__", int(rerank_m), False).select(
        "query_id", "cand_id", "__adc__"
    )
    sl = F.broadcast(shortlist.join(q, "query_id"))
    flat = encoded.select("cand_id", "__v__")
    exact = flat.join(sl, flat["cand_id"] == sl["cand_id"]).select(
        sl["query_id"],
        flat["cand_id"],
        sl["__adc__"],
        l2_fold("qv", "__v__").alias("__l2__"),
    )
    return _topk(exact, "query_id", "cand_id", "__l2__", k_top, False).select(
        "query_id",
        "cand_id",
        "rank",
        F.round("__adc__", 6).alias("adc_dist"),
        F.round("__l2__", 6).alias("l2_dist"),
    )


def ivfpq_adc_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    m_sub: int = 8,
    k_cb: int = 16,
    n_cells: int = 16,
    n_probe: int = 4,
    k_top: int = 3,
    rerank_m: int | None = None,
) -> DataFrame:
    """IVF-PQ with residual encoding + asymmetric-distance search — the
    composition behind billion-vector ANN serving (FAISS ``IVFADC``,
    Jégou et al. 2011): a coarse quantizer routes each vector to a cell,
    PQ encodes the RESIDUAL to the cell centroid (residuals are
    near-zero-centered, so the same code budget quantizes them far more
    finely than raw vectors), and a query scans only its ``n_probe``
    nearest cells, computing one distance table per probed cell and
    ranking candidates by ``m_sub`` table lookups each. One-call
    build+search convenience over :func:`ivfpq_build` /
    :func:`ivfpq_search` (serving deployments call those directly so the
    index build amortizes across query batches — see
    tools/ann_scale_bench.py for the measured split).

    Scale shape — every stage is the 100 TB-safe pattern already proven
    by the standalone pieces (e3 IVF / e7 PQ / e8 ADC):
    - coarse centroids: one TakeOrderedAndProject pass, broadcast;
    - assignment: broadcast crossJoin x n_cells + ONE min_by aggregation
      (map-side partial, no window) — vectors never shuffle;
    - residual codebook: k-row broadcast;
    - encoding: broadcast crossJoin x k_cb + ONE aggregation computing
      all m_sub argmins simultaneously; emitted state is m_sub bytes of
      codes + the cell id per vector;
    - search: the per-(query, probed-cell) distance tables are
      (n_queries x n_probe x k_cb) rows -> broadcast cid-ordered arrays;
      candidate distance is m_sub O(1) array reads inside codegen; only the inverted
      lists of probed cells are scanned (cell_id equi-join, never the
      corpus), then one per-query top-k window over ~n_probe/n_cells of
      the corpus.

    L2 metric throughout (the PQ distance decomposition is additive in
    L2; FAISS's default for IVFADC). Deterministic: seeded-sample
    centroids/codebook, fixed-order generated arithmetic, id tie-breaks.

    Returns (query_id, cand_id, rank, adc_dist) — plus l2_dist when
    ``rerank_m`` engages the refine pass.
    """
    cents, rcb, encoded = ivfpq_build(
        candidates, id_col, vec_col, dim=dim, m_sub=m_sub, k_cb=k_cb,
        n_cells=n_cells,
    )
    return ivfpq_search(
        queries, cents, rcb, encoded, id_col, vec_col, dim=dim,
        m_sub=m_sub, n_probe=n_probe, k_top=k_top, rerank_m=rerank_m,
    )


def mrl_funnel_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k_top: int = 3,
    m_shortlist: int = 20,
    dim_coarse: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Matryoshka funnel retrieval (adaptive retrieval over MRL
    embeddings, Kusupati et al. 2022): rank ALL candidates by the first
    ``dim_coarse`` dimensions only — the index that is dim/dim_coarse
    times smaller and cheaper to scan — keep an ``m_shortlist`` per
    query, then rerank just the shortlist at full dimension. e16
    measures what truncation costs; THIS is the serving path that buys
    the loss back: full-precision distances are paid on m rows per
    query, not the corpus.

    Scale shape: the coarse pass is the brute-force scorer at
    ``dim_coarse`` (one streaming scan against broadcast queries — at
    scale, swap in the IVF cell scan; the funnel composes with any
    candidate generator). The rerank joins the (q x m)-row shortlist
    back to the candidate vectors as a BROADCAST build side, so the
    full-dim vectors are only read, never shuffled, and the final
    window ranks m rows per query.

    Returns (query_id, cand_id, rank, cosine) — rank by FULL-dim cosine.
    """
    shortlist = cosine_topk_bruteforce(
        queries, candidates, id_col, vec_col, k=m_shortlist, dim=dim_coarse
    ).select("query_id", "cand_id")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_expr(vec_col, dim).alias("qn"),
    )
    sl = F.broadcast(shortlist.join(q, "query_id"))
    c = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(vec_col, dim).alias("cn"),
    )
    rer = c.join(sl, "cand_id").withColumn("cosine", cosine_expr("qv", "qn", "cv", "cn", dim))
    return _topk(rer, "query_id", "cand_id", "cosine", k_top, True).select(
        "query_id", "cand_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def _gemm_assign(
    c: DataFrame,
    cents: DataFrame,
    id_field_name: str,
    vec_field: str,
    dim: int,
    metric: str,
) -> DataFrame:
    """Arrow-batched BLAS assignment: argbest cell per vector against the
    full centroid matrix in one GEMM per batch (``V @ C.T``), via
    mapInPandas. This is the scale path for index BUILDS (the one place
    the engine is compute-bound on per-row array arithmetic): the r10
    split-probe measured the JVM codegen element chains at ~2 us per
    (vector, centroid) pair — the 28.5M-pair coarse-routed assignment at
    300k vectors was pure scoring cost — while a batch GEMM does the
    SAME flops at BLAS speed and, because it is cheap enough to score
    ALL cells, is also EXACT (no two-level routing approximation).

    Centroids are a dimension-sized frame: one bounded driver collect
    (C rows) builds the matrix each executor task reuses per batch.

    ``metric``: "cosine" — argmax of v.c/(|v||c|); |v| scales every
    column equally so the GEMM uses column-normalized centroids and
    skips the per-row norm. "l2" — argmin of |v-c|^2 = argmax of
    (v.c - |c|^2/2). numpy ties resolve to the FIRST (lowest) index and
    the matrix is ordered by cell_id, matching the exact path's
    (score, cell_id) tie-break; float reassociation can flip only
    exact-tie scores, which n_probe-cell search absorbs (tested against
    exact assignment).

    NOT used by any registry query (their oracles replay the exact
    JVM-chain sums; ``route='exact'`` stays the default), so the
    grouped-Python plan audit surface is unchanged.
    """
    import numpy as np
    from pyspark.sql.types import StructField, StructType

    rows = cents.select("cell_id", "cvec").orderBy("cell_id").collect()
    # cell_id is the centroid's own id column — keep its values and dtype
    # (ADVICE r10: int() crashed string-id corpora that the exact route
    # supports, and a hardcoded LongType diverged the inverted-list
    # schema from route='exact' for int-typed ids)
    cell_ids = np.asarray([r.cell_id for r in rows])
    mat = np.array([[float(x) for x in r.cvec] for r in rows], dtype=np.float64)
    if metric == "cosine":
        norms = np.sqrt((mat * mat).sum(axis=1))
        mat_t = (mat / norms[:, None]).T  # dim x C, column-normalized
        offset = None
    elif metric == "l2":
        mat_t = mat.T
        offset = 0.5 * (mat * mat).sum(axis=1)  # C
    else:
        raise ValueError(f"unknown metric: {metric}")

    out_schema = StructType(
        [
            c.schema[id_field_name],
            StructField("cell_id", cents.schema["cell_id"].dataType, False),
        ]
    )

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            v = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_field]]
            )
            scores = v @ mat_t
            if offset is not None:
                scores = scores - offset
            best = scores.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_field_name: pdf[id_field_name],
                    "cell_id": cell_ids[best],
                }
            )

    return c.select(id_field_name, vec_field).mapInPandas(assign, out_schema)


def ivf_build(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    n_cells: int = 16,
    route: str = "exact",
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index once (FAISS train+add): seeded centroids and
    the inverted lists (cell_id, cand_id, cv, cn), both materialized so
    repeated searches never re-pay assignment. Returns (cents, inverted).

    Assignment is :func:`_nearest_cell`: the x n_cells rows carry only
    (cand_id, cell_id, cos) — one codegen dot per pair, one partial
    aggregate (map-side combine, no window shuffle) — and the vectors
    rejoin by id. The previous window-over-wide-rows shape memcpy'd the
    dim-double array n x n_cells times and shuffled it (the r07 ivfpq
    lesson, ported here after ANNSCALE showed 382 s at 300k vectors).

    ``route="gemm"`` (r10) is the build path at scale: one Arrow-batched
    BLAS GEMM per vector batch against the full centroid matrix — the
    same exact assignment as the default ``route="exact"`` (the
    split-probe measured the JVM element chains at ~2 us per
    (vector, cell) pair; the GEMM does the same flops in BLAS). Not
    used by registry queries, so oracle sums are untouched. Any other
    route raises ``ValueError``.
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    if route not in ("exact", "gemm"):
        raise ValueError(f"unknown route: {route!r}")

    cents = materialize(ivf_centroids(candidates, id_col, vec_col, n_cells, dim))
    c = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(vec_col, dim).alias("cn"),
    )
    if route == "gemm":
        # Arrow-batched BLAS argmax over ALL cells — exact assignment at
        # a fraction of the JVM scoring cost (see _gemm_assign; r10
        # split-probe: scoring was the entire build wall, the argmax
        # aggregate was free)
        assign = _gemm_assign(c, cents, "cand_id", "cv", dim, "cosine")
    else:
        assign = _nearest_cell(c, "cand_id", "cv", "cn", cents, dim)
    inverted = materialize(
        assign.join(c, "cand_id").select("cell_id", "cand_id", "cv", "cn"),
    )
    return cents, inverted


def ivf_search(
    queries: DataFrame,
    cents: DataFrame,
    inverted: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    dim: int = 64,
    n_probe: int = 4,
) -> DataFrame:
    """Search a prebuilt IVF index (:func:`ivf_build`): per query, probe
    the n_probe nearest cells and rank only those cells' lists — the
    recurring cost a serving deployment actually pays, O(n_probe/n_cells)
    of the corpus per query. The probe is :func:`_probe_cells`, the
    score :func:`cosine_expr` and the ranking :func:`_topk`, as in
    :func:`cosine_topk_ivf` (which builds and searches in one call)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_expr(vec_col, dim).alias("qn"),
    )
    probes = _probe_cells(q, "query_id", "qv", "qn", cents, dim, n_probe).join(q, "query_id")
    scored = inverted.join(F.broadcast(probes), "cell_id").withColumn(
        "cosine", cosine_expr("qv", "qn", "cv", "cn", dim)
    )
    return _topk(scored, "query_id", "cand_id", "cosine", k, True).select(
        "query_id", "cand_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def mutual_knn(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int = 64,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Mutual k-nearest-neighbor pairs over one embedding collection —
    the reciprocal-NN graph that seeds density-aware clustering and
    conservative near-dup verdicts (a pair counts only if EACH side
    retrieves the other, which suppresses hub vectors that appear in
    everyone's neighbor list but reciprocate almost nobody).

    kNN edges come from the IVF probed-cell path (never a cross join);
    each vector queries the collection with k+1 slots so its own
    guaranteed self-hit doesn't consume a neighbor slot, the self edge is
    dropped, and mutuality is one equi-join of the forward (a<b) edge set
    against the reversed (a>b) edge set. The kNN frame is materialized
    once — both directions read the same computed edges, not two replays
    of the IVF chain (the d18 lesson).

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine rounded 6dp
    (both directions compute the identical IEEE expression).
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    knn = materialize(
        cosine_topk_ivf(
            df, df, id_col, vec_col,
            k=k + 1, dim=dim, n_cells=n_cells, n_probe=n_probe,
        ).filter(F.col("query_id") != F.col("cand_id"))
    )
    fwd = knn.filter(F.col("query_id") < F.col("cand_id")).select(
        F.col("query_id").alias("id_a"),
        F.col("cand_id").alias("id_b"),
        "cosine",
    )
    rev = knn.filter(F.col("query_id") > F.col("cand_id")).select(
        F.col("cand_id").alias("id_a"), F.col("query_id").alias("id_b")
    )
    return fwd.join(rev, ["id_a", "id_b"], "left_semi")


def ivf_cell_split(
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """IVF index maintenance: split the HOTTEST inverted list (E29) —
    the mitigation for the exact failure mode e18 measures. A cell that
    accumulated a disproportionate list makes every probe that touches
    it scan that whole list; the standard fix (FAISS re-train aside) is
    a median/mean split of the hot cell along its highest-variance
    dimension, turning one hot list into two balanced ones without
    touching the other cells' assignments.

    Deterministic recipe, oracle-replayable end to end: assignment is
    the e3/e18 broadcast argmax; the hot cell is (max size, min cell id);
    the split dimension is the argmax of the hot list's per-dimension
    population variance ROUNDED to ``round_to`` before the argmax
    (the e17 rule — a last-ulp variance tie must not flip the discrete
    choice between engines), tie-break min dim; the threshold is the
    rounded mean of that dimension; rows go low (< thr) / high (>= thr).

    Scale shape: centroid seeding is one TakeOrderedAndProject pass; the
    x n_cells assignment expansion carries only (id, cell) — vectors
    REJOIN by id for the hot list (the r08 IVFPQ memcpy lesson); the
    per-dim moments are ONE 2*dim-aggregate pass over the hot list; all
    decisions live on broadcast 1-row frames.

    Returns one row: (hot_cell, n_hot, split_dim, threshold, n_low,
    n_high, n_cells_used, imbalance_before, imbalance_after).
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    cents = ivf_centroids(candidates, id_col, vec_col, n_cells, dim)
    c = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        norm_expr(vec_col, dim).alias("cn"),
    )
    # the split decision never needs the vectors downstream of the
    # assignment, so there is no rejoin
    assign = materialize(
        _nearest_cell(c, "cand_id", "cv", "cn", cents, dim).select("cell_id", "cand_id")
    )
    sizes = materialize(
        assign.groupBy("cell_id").agg(F.count(F.lit(1)).alias("sz"))
    )
    hot = (
        sizes.orderBy(F.desc("sz"), F.asc("cell_id"))
        .limit(1)
        .select(F.col("cell_id").alias("hot_cell"), F.col("sz").alias("n_hot"))
    )
    hot_rows = candidates.join(
        assign.join(
            hot.hint("broadcast"), assign.cell_id == hot.hot_cell, "left_semi"
        ).withColumnRenamed("cand_id", id_col).select(id_col),
        id_col,
        "left_semi",
    ).select(F.col(vec_col).alias("cv"))
    # expr-string aggregates (r11): identical parsed trees, one py4j
    # round-trip per aggregate instead of ~6
    aggs = [F.expr("CAST(count(1) AS BIGINT) AS n")]
    for i in range(1, dim + 1):
        el = f"CAST(element_at(cv, {i}) AS DOUBLE)"
        aggs.append(F.expr(f"sum({el}) AS s{i}"))
        aggs.append(F.expr(f"sum({el} * {el}) AS q{i}"))
    mom = hot_rows.agg(*aggs)
    arms = ", ".join(
        f"{i}L, round((q{i} - s{i} * s{i} / n) / n, {round_to}), "
        f"round(s{i} / n, {round_to})"
        for i in range(1, dim + 1)
    )
    pick = (
        mom.selectExpr(f"stack({dim}, {arms}) AS (d, var, thr)")
        .orderBy(F.desc("var"), F.asc("d"))
        .limit(1)
    )
    halves = (
        hot_rows.crossJoin(F.broadcast(pick))
        .agg(
            F.sum(
                F.when(
                    F.element_at(F.col("cv"), F.col("d").cast("int"))
                    .cast("double") < F.col("thr"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_low"),
            F.max("d").cast("long").alias("split_dim"),
            F.max("thr").alias("threshold"),
        )
    )
    before = sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells_used"),
        F.sum("sz").cast("long").alias("n_total"),
        F.max("sz").cast("long").alias("max_sz"),
    )
    others_max = (
        sizes.join(hot.hint("broadcast"), sizes.cell_id == hot.hot_cell,
                   "left_anti")
        .agg(F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias("others_max"))
    )
    return (
        hot.crossJoin(F.broadcast(halves))
        .crossJoin(F.broadcast(before))
        .crossJoin(F.broadcast(others_max))
        .select(
            "hot_cell",
            F.col("n_hot").cast("long").alias("n_hot"),
            "split_dim",
            "threshold",
            "n_low",
            (F.col("n_hot") - F.col("n_low")).cast("long").alias("n_high"),
            "n_cells_used",
            F.round(
                F.col("max_sz")
                / (F.col("n_total") / F.col("n_cells_used").cast("double")),
                round_to,
            ).alias("imbalance_before"),
            F.round(
                F.greatest(
                    F.col("others_max"),
                    F.col("n_low"),
                    F.col("n_hot") - F.col("n_low"),
                ).cast("double")
                / (
                    F.col("n_total")
                    / (F.col("n_cells_used") + 1).cast("double")
                ),
                round_to,
            ).alias("imbalance_after"),
        )
    )
