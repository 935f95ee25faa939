"""Morphometric length-weight estimation, set-based (SURVEY.md M2).

The reference computes per-catch-row weights ROWWISE: filter the
length-weight parameter table to the row's species code, convert length
types via length-length regressions, compute candidate weights a*length^b
per matching species, and take a per-taxon quantile x n_individuals
(`estimate_weight`, R/calculate-weights.R:511-569; rowwise call :356-366).

Here the rowwise loop becomes one declarative plan: explode catch rows
against the (broadcast) parameter table on the species-code key, compute
candidate weights as a column, and reduce with an exact percentile per
catch-row key. The parameter table is KB-scale (FishBase snapshot) so the
join is a broadcast hash join; the only shuffle is the per-row-key
aggregation, which reuses the catch table's natural partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def estimate_weights(
    catch: DataFrame,
    params: DataFrame,
    code_col: str,
    length_col: str,
    n_col: str,
    row_keys: Sequence[str],
    a_col: str = "a",
    b_col: str = "b",
    quantile: float | Column = 0.75,
) -> DataFrame:
    """Per catch row: candidate weights ``a * length^b`` over every parameter
    row sharing the species code; weight = percentile(candidates, q) * n.

    Returns one row per ``row_keys`` with columns ``weight`` (grams, like the
    reference) and ``n_candidates``.
    """
    q = F.lit(quantile) if isinstance(quantile, float) else quantile
    # The candidate percentile depends only on (code, length) — lengths are
    # binned (5-cm classes in the reference), so the computation domain is
    # tiny regardless of catch-table size. Deduplicate it, evaluate the
    # percentile once per combo, broadcast the result back. This turns an
    # O(rows x candidates) explode into O(combos x candidates) + one
    # broadcast join — the difference between 48M and 100k intermediate
    # rows at sf0.1, and between a shuffle and none at 100 TB.
    domain = catch.select(code_col, length_col).distinct()
    cand_w = domain.join(F.broadcast(params), on=code_col, how="inner").withColumn(
        "__w__", F.col(a_col) * F.pow(F.col(length_col), F.col(b_col))
    )
    per_combo = cand_w.groupBy(code_col, length_col).agg(
        F.percentile("__w__", q).alias("__pw__"),
        F.count(F.lit(1)).alias("n_candidates"),
    )
    joined = catch.join(F.broadcast(per_combo), on=[code_col, length_col], how="inner")
    return joined.select(
        *row_keys,
        (F.col("__pw__") * F.col(n_col)).alias("weight"),
        "n_candidates",
    )


# The reference's per-taxon quantile coefficients
# (R/calculate-weights.R:559-564): flying fish / carangids 0.75,
# emperors / clupeids 0.7, everything else 0.9.
REFERENCE_COEFF_MAP = {"FLY": 0.75, "CGX": 0.75, "EMP": 0.7, "CLP": 0.7}


def morphometric_tables(rfish: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Build the (length_weight, length_length) parameter tables from a raw
    FishBase snapshot frame (S17/M8 loader,
    R/calculate-weights.R:452-508 ``get_morphometric_tables``):

    - length_weight: the base rows PLUS a ``Type='TL', a=aTL`` variant for
      rows carrying the extra total-length coefficient; rows with null ``a``
      or low-quality flag ``EsQ='yes'`` dropped; distinct.
    - length_length: the base regressions PLUS their algebraic inverses —
      swap Length1/Length2 with ``aL' = -aL/bL``, ``bL' = 1/bL`` — so a
      conversion is usable in either direction; null-``aL`` rows dropped;
      distinct.

    Input columns: interagency_code, Species, LengthMin, LengthMax, Type,
    a, b, aTL, EsQ, Length1, Length2, aL, bL. Both outputs are KB-scale
    dimension tables meant to be broadcast.
    """
    tl_variant = rfish.withColumn("Type", F.lit("TL")).withColumn("a", F.col("aTL"))
    lw = (
        tl_variant.unionByName(rfish)
        .filter(
            F.col("a").isNotNull()
            & ~F.coalesce(F.lower(F.col("EsQ")) == "yes", F.lit(False))
        )
        .select(
            "interagency_code", "Species", "LengthMin", "LengthMax", "Type", "a", "b"
        )
        .distinct()
    )
    inverted = rfish.select(
        "interagency_code",
        "Species",
        F.col("Length2").alias("Length1"),
        F.col("Length1").alias("Length2"),
        (-F.col("aL") / F.col("bL")).alias("aL"),
        (F.lit(1.0) / F.col("bL")).alias("bL"),
    )
    ll = (
        inverted.unionByName(
            rfish.select(
                "interagency_code", "Species", "Length1", "Length2", "aL", "bL"
            )
        )
        .filter(F.col("aL").isNotNull())
        .distinct()
    )
    return lw, ll


def estimate_weights_ll(
    catch: DataFrame,
    lw: DataFrame,
    ll: DataFrame,
    code_col: str,
    length_col: str,
    type_col: str,
    n_col: str,
    row_keys: Sequence[str],
    coeff_map: dict[str, float] | None = None,
    default_coeff: float = 0.9,
    max_params_rows: int = 200_000,
) -> DataFrame:
    """Full reference weight estimation (``estimate_weight``,
    R/calculate-weights.R:511-569) as one declarative plan, INCLUDING the
    length-length conversion routing the round-1 implementation lacked:

    candidate weights = a * length^b over
      (a) every length_weight row of the species code whose ``Type`` equals
          the observed length type (the direct path), UNION ALL
      (b) every length_weight row reachable by FIRST converting the
          observed length through a length_length regression
          (``Length2 == observed type`` → converted ``aL + len*bL`` in type
          ``Length1``) and matching on (Species, Length1);
    weight = percentile(candidates, coeff(code)) * n_individuals, with the
    reference's per-taxon quantile coefficients (:559-564).

    Scale shape: both parameter tables broadcast; the candidate domain is
    deduplicated to distinct (code, type, length) combos before the
    percentile — O(combos x candidates), never O(rows x candidates) — and
    rejoined to catch rows by broadcast. The percentile itself is computed
    as rank arithmetic over a sorted window (type-7 interpolation between
    the two bracketing order statistics), NOT with Spark's ``percentile``
    aggregate: the aggregate needs a foldable fraction (can't vary by
    code) and its ObjectHashAggregate buffers fall out of whole-stage
    codegen — measured 6x slower than the window form on dense candidate
    sets. The window partitions by combo, so its width is bounded by the
    parameter table, never the corpus.

    CONTRACT — parameter tables are dimension-scale. Both ``lw`` and
    ``ll`` are broadcast, and the per-combo rank window's width is at most
    |lw rows per code| + |ll rows per code| x |lw rows per (code,
    species)|: it scales with the PARAMETER tables (the real FishBase
    snapshot is KB-scale and fixed), never with catch volume. A params
    table beyond ``max_params_rows`` would blow both the broadcast and the
    window width, so the operator counts both tables up front (two cheap
    aggregations on dimension-scale frames) and raises rather than
    silently building a plan that dies on the executors at scale."""
    # ONE job checks both tables (the union's two count branches run as
    # concurrent stages) instead of two sequential driver count() barriers
    counts = {
        r["t"]: r["n"]
        for r in lw.groupBy(F.lit("lw").alias("t"))
        .agg(F.count(F.lit(1)).alias("n"))
        .unionByName(
            ll.groupBy(F.lit("ll").alias("t")).agg(F.count(F.lit(1)).alias("n"))
        )
        .collect()
    }
    for tbl_name in ("lw", "ll"):
        n = counts.get(tbl_name, 0)
        if n > max_params_rows:
            raise ValueError(
                f"{tbl_name} parameter table has {n} rows, over the "
                f"max_params_rows={max_params_rows} broadcast/window bound; "
                "estimate_weights_ll is contractually a dimension-table "
                "operator (see docstring)"
            )
    coeff_map = REFERENCE_COEFF_MAP if coeff_map is None else coeff_map
    lw2 = F.broadcast(
        lw.select(
            F.col("interagency_code").alias(code_col),
            "Species",
            F.col("Type").alias("__lwt__"),
            "a",
            "b",
        )
    )
    ll2 = F.broadcast(
        ll.select(
            F.col("interagency_code").alias(code_col),
            "Species",
            F.col("Length1").alias("__to__"),
            F.col("Length2").alias("__from__"),
            "aL",
            "bL",
        )
    )
    domain = (
        catch.select(code_col, type_col, length_col)
        .filter(
            F.col(code_col).isNotNull()
            & (F.col(code_col) != "0")
            & F.col(type_col).isNotNull()
            & F.col(length_col).isNotNull()
        )
        .distinct()
    )
    direct = (
        domain.join(lw2, code_col)
        .filter(F.col("__lwt__") == F.col(type_col))
        .select(
            code_col,
            type_col,
            length_col,
            (F.col("a") * F.pow(F.col(length_col), F.col("b"))).alias("__w__"),
        )
    )
    converted = (
        domain.join(ll2, code_col)
        .filter(F.col("__from__") == F.col(type_col))
        .withColumn("__clen__", F.col("aL") + F.col(length_col) * F.col("bL"))
        .join(lw2, [code_col, "Species"])
        .filter(F.col("__lwt__") == F.col("__to__"))
        .select(
            code_col,
            type_col,
            length_col,
            (F.col("a") * F.pow(F.col("__clen__"), F.col("b"))).alias("__w__"),
        )
    )
    # The reference drops NA candidate weights before quantile()
    # (R/calculate-weights.R:556 `weight[!is.na(weight)]`): lw rows only
    # require non-null `a`, so a null `b` yields a null candidate that would
    # otherwise sort first under the ascending rank window, inflate __n__,
    # and shift every percentile position.
    cands = direct.unionByName(converted).filter(F.col("__w__").isNotNull())
    picked = None
    for code_val, q in sorted(coeff_map.items()):
        cond = F.col(code_col) == code_val
        branch = F.lit(float(q))
        picked = F.when(cond, branch) if picked is None else picked.when(cond, branch)
    coeff = (
        picked.otherwise(F.lit(float(default_coeff)))
        if picked is not None
        else F.lit(float(default_coeff))
    )
    from pyspark.sql.window import Window

    combo = Window.partitionBy(code_col, type_col, length_col)
    ranked = (
        cands.withColumn("__coeff__", coeff)
        .withColumn("__rn__", F.row_number().over(combo.orderBy("__w__")) - 1)
        .withColumn("__n__", F.count(F.lit(1)).over(combo))
    )
    # type-7 quantile: 0-based position p = (n-1)*q; interpolate between
    # the order statistics bracketing p. Only those <=2 rows per combo
    # survive the filter, so the groupBy is over a tiny frame.
    pos = (F.col("__n__") - 1) * F.col("__coeff__")
    bracketing = ranked.filter(
        (F.col("__rn__") == F.floor(pos)) | (F.col("__rn__") == F.ceiling(pos))
    )
    per_combo = (
        bracketing.groupBy(code_col, type_col, length_col)
        .agg(
            F.max(F.when(F.col("__rn__") == F.floor(pos), F.col("__w__"))).alias("__vlo__"),
            F.max(F.when(F.col("__rn__") == F.ceiling(pos), F.col("__w__"))).alias("__vhi__"),
            F.max("__n__").alias("n_candidates"),
            F.max("__coeff__").alias("__coeff__"),
        )
        .withColumn(
            "__pos__", (F.col("n_candidates") - 1) * F.col("__coeff__")
        )
        .withColumn(
            "__pw__",
            F.col("__vlo__")
            + (F.col("__pos__") - F.floor(F.col("__pos__")))
            * (F.col("__vhi__") - F.col("__vlo__")),
        )
    )
    joined = catch.join(
        F.broadcast(per_combo),
        on=[code_col, type_col, length_col],
        how="inner",
    )
    return joined.select(
        *row_keys,
        F.when(F.col(n_col) == 0, F.lit(0.0))
        .otherwise(F.col("__pw__") * F.col(n_col))
        .alias("weight"),
        "n_candidates",
    )


def convert_length(
    df: DataFrame,
    length_col: str,
    ll_params: DataFrame,
    on: str | Sequence[str],
    aL: str = "aL",
    bL: str = "bL",
    out_col: str | None = None,
) -> DataFrame:
    """Length-length regression conversion ``aL + length * bL``
    (R/calculate-weights.R:480-502, incl. the inverted reciprocal params the
    reference pre-builds). Broadcast join + column arithmetic."""
    out_col = out_col or length_col
    joined = df.join(F.broadcast(ll_params), on=on, how="left")
    converted = F.when(
        F.col(aL).isNotNull() & F.col(bL).isNotNull(),
        F.col(aL) + F.col(length_col) * F.col(bL),
    ).otherwise(F.col(length_col))
    return joined.withColumn(out_col, converted).drop(
        *[c for c in (aL, bL) if c != out_col]
    )
