"""Time-series interpolation imputation (SURVEY.md M7).

The reference fills gaps in monthly series with zoo::na.approx(rule=2) plus
noise replicates that collapse under the mean (R/estimate-catch.R:364-431).
Here: pure window-function linear interpolation — last/next non-null via
ignoreNulls window frames, rule=2 end extension. No UDF, one shuffle on the
series key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def interpolate_linear(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str | Sequence[str],
    out_col: str | None = None,
) -> DataFrame:
    """Linear interpolation of nulls in ``value_col`` within each series
    (partitioned by ``keys``, ordered by ``order_col``); boundary nulls take
    the nearest non-null (na.approx rule=2). Adds ``is_imputed``.

    ``value_col`` may be a sequence: every column is filled in place from
    one window projection, and ``is_imputed`` flags the LAST one, exactly
    as chained single-column calls would leave it. ``out_col`` renames a
    single column's output."""
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    if out_col is not None and len(value_cols) != 1:
        raise ValueError("out_col needs exactly one value column")
    w = Window.partitionBy(*keys).orderBy(order_col)
    df = df.withColumn("__rn__", F.row_number().over(w))

    w_back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    rn = F.col("__rn__")
    # per value column: previous/next non-null value and its row number
    names = [[f"__{h}{i}__" for h in ("pv", "prn", "nv", "nrn")]
             for i in range(len(value_cols))]
    bounds = []
    for c, (pv, prn, nv, nrn) in zip(value_cols, names):
        v = F.col(c)
        non_null_rn = F.when(v.isNotNull(), rn)
        bounds += [
            F.last(v, ignorenulls=True).over(w_back).alias(pv),
            F.last(non_null_rn, ignorenulls=True).over(w_back).alias(prn),
            F.first(v, ignorenulls=True).over(w_fwd).alias(nv),
            F.first(non_null_rn, ignorenulls=True).over(w_fwd).alias(nrn),
        ]
    helpers = {"__rn__", *(n for ns in names for n in ns)}
    df = df.select("*", *bounds)

    # withColumn placement, so the result equals chained single-column
    # calls: a name already present is replaced in place, a new one goes last
    out = {c: F.col(c) for c in df.columns if c not in helpers}
    for c, ns in zip(value_cols, names):
        v = F.col(c)
        pv, prn, nv, nrn = map(F.col, ns)
        interp = (
            F.when(v.isNotNull(), v)
            .when(pv.isNull(), nv)  # rule=2 head
            .when(nv.isNull(), pv)  # rule=2 tail
            .otherwise(pv + (nv - pv) * (rn - prn) / (nrn - prn))
        )
        out["is_imputed"] = v.isNull() & interp.isNotNull()
        out[out_col or c] = interp
    return df.select(*(e.alias(name) for name, e in out.items()))
