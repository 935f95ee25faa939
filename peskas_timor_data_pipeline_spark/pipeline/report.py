"""Report-feeding summaries (SURVEY §3.4 tail; VERDICT r08 "missing" #3).

The reference renders three ad-hoc reports from validated data
(`inst/report/enumerators_summary.Rmd`, `unanswered_summary.Rmd` via
`generate_form_summary.R`, `data_report.Rmd`); the render itself is out
of engine scope, but the aggregates that FEED them are plain grouped
summaries this module names:

- :func:`enumerator_activity` — submissions / active-days per landing
  site per month over a completed day spine
  (enumerators_summary.Rmd:195-218, the submissions_month table);
- :func:`completeness_by_group` — per-(site, column) answered/missing
  accounting (unanswered_summary.Rmd:74-84, the miss_plots frame, as
  counts rather than a ggplot);
- :func:`catch_composition` — per-(region, taxa) catch totals completed
  over the full region x taxa grid with per-region percentage shares
  (data_report.Rmd:1067-1078, the municipal catch-composition stacked
  bars; the year x taxa variant at :813-820 is the same shape);
- :func:`period_dispersion` — per-period median / sd / se / t-CI of a
  landing-level value (data_report.Rmd:357-368, the revenue and CPUE
  time-series frames with their qt()-based confidence ribbon);
- :func:`category_share` — per-(dim, category) landing counts with
  per-category percentage shares (data_report.Rmd:1281-1299, the
  habitat/gear/catch-use treemap frames);
- :func:`habitat_nutrient_density` — per-(habitat, nutrient) median
  individuals-per-kg density (data_report.Rmd:1440-1449);
- :func:`catch_use_share` — per-(key, catch-use) observation shares at
  (landing, taxon) granularity (data_report.Rmd:650-670 per-taxon,
  :706-726 per-municipality — same frame, different key);
- :func:`regional_mix` — per-(region, dim) counts with the region
  total, completed over the full grid (data_report.Rmd:235-252 gear
  proportion, :269-278 propulsion — the stacked-100% bar frames);
- :func:`survey_activity` — per-(region, month) observation counts over
  the completed region x month grid (data_report.Rmd:145-152, the
  survey-activity heatmap);
- :func:`fisher_mix` — landing-level deterministic firsts unpivoted to
  per-(habitat, gear, fisher-type) totals (data_report.Rmd:1110-1160,
  the fisher-composition parallel-categories frame).

The COVERAGE.md "data_report.Rmd frame audit" table maps every
group_by/summarise site in the Rmd to its twin here or to the green
registry query covering its shape.

Scale shape: all are single partial-aggregated groupBys over the fact
scan; spine/grid completion and the unpivot run on group-cardinality
dimension frames.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enumerator_activity(
    df: DataFrame,
    site_col: str,
    date_col: str,
    id_col: str,
) -> DataFrame:
    """Monthly survey-activity summary per landing site
    (enumerators_summary.Rmd:195-218): submissions per month, days with
    at least one submission ("working days"), and the site's mean
    active days per month — computed over a COMPLETED day spine (the
    Rmd right-joins a calendar frame, :166-171) so silent days count as
    zeros, not gaps.

    The spine is the distinct observed dates across ALL sites (pinned
    by the data, not the wall clock — the Rmd's ``Sys.Date()`` endpoint
    is not reproducible). Per (site, date) counts are one
    partial-aggregated groupBy over the fact scan; the spine cross and
    everything after run on site x day dimension frames.

    Returns one row per (site, month): (site, month, submissions,
    active_days, mean_active_days) — mean_active_days is the site's
    average over its months, an exact-integer ratio divided once.
    """
    per_day = (
        df.select(
            F.col(site_col).alias("site"),
            F.to_date(F.col(date_col)).alias("d"),
            F.col(id_col).alias("__id__"),
        )
        .groupBy("site", "d")
        .agg(F.count("__id__").alias("n_sub"))
    )
    dates = per_day.select("d").distinct()
    sites = per_day.select("site").distinct()
    spine = sites.crossJoin(dates)
    completed = spine.join(per_day, ["site", "d"], "left").select(
        "site",
        F.trunc(F.col("d"), "month").alias("month"),
        F.coalesce("n_sub", F.lit(0)).alias("n_sub"),
    )
    monthly = completed.groupBy("site", "month").agg(
        F.sum("n_sub").cast("long").alias("submissions"),
        F.sum((F.col("n_sub") > 0).cast("int")).cast("long").alias(
            "active_days"
        ),
    )
    site_tot = monthly.groupBy("site").agg(
        F.sum("active_days").alias("__ad__"),
        F.count(F.lit(1)).alias("__nm__"),
    )
    return monthly.join(F.broadcast(site_tot), "site").select(
        "site",
        "month",
        "submissions",
        "active_days",
        F.round(F.col("__ad__") / F.col("__nm__"), 6).alias(
            "mean_active_days"
        ),
    )


def completeness_by_group(
    df: DataFrame,
    group_col: str,
    cols: Sequence[str],
) -> DataFrame:
    """Per-(group, column) form-completeness accounting
    (unanswered_summary.Rmd:74-84): for each surveyed column, how many
    rows in the group answered it and what fraction is missing — the
    numbers behind the reference's per-site missing-values plot.

    One groupBy over the fact scan computes (rows, n_missing) for every
    column at once; the long (group, column) layout is a stack over the
    group-cardinality wide result, never over data rows.

    Returns (group, column_name, n_rows, n_missing, missing_ppm) —
    missing_ppm an exact integer (n_missing * 1e6 div n_rows).
    """
    cols = list(cols)
    aggs = [F.count(F.lit(1)).cast("long").alias("__n__")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("int")).cast("long").alias(f"__m_{c}__")
        )
    wide = df.groupBy(F.col(group_col).alias("group")).agg(*aggs)
    stack = ", ".join(f"'{c}', `__m_{c}__`" for c in cols)
    return wide.select(
        "group",
        F.col("__n__").alias("n_rows"),
        F.expr(
            f"stack({len(cols)}, {stack}) AS (column_name, n_missing)"
        ),
    ).select(
        "group",
        "column_name",
        "n_rows",
        "n_missing",
        F.expr("n_missing * 1000000L div n_rows").alias("missing_ppm"),
    )


def catch_composition(
    df: DataFrame,
    region_col: str,
    taxa_col: str,
    catch_col: str,
) -> DataFrame:
    """Per-region catch composition with percentage shares
    (data_report.Rmd:1067-1078): sum catch per (region, taxa), complete
    the region x taxa grid with zeros (tidyr::complete with
    fill = list(catch = 0)), compute each region's total and every
    taxa's percent share of it — the frame behind the reference's
    municipal catch-composition stacked-bar chart. The annual variant
    at :813-820 (year x grouped_taxa + complete) is the same shape with
    year as the region axis.

    One partial-aggregated groupBy over the fact scan; the grid
    completion, per-region totals, and the percent division all run on
    group-cardinality frames (regions x taxa), broadcast-joined.

    Returns (region, taxa, catch, total_catch, percent_catch) — catch
    summed as-is, percent rounded to 6 so float division cannot flip a
    digit between engines when catch values are integer-scaled.
    """
    agg = (
        df.select(
            F.col(region_col).alias("region"),
            F.col(taxa_col).alias("taxa"),
            F.col(catch_col).alias("__c__"),
        )
        .groupBy("region", "taxa")
        .agg(F.sum("__c__").alias("catch"))
    )
    grid = agg.select("region").distinct().crossJoin(
        F.broadcast(agg.select("taxa").distinct())
    )
    # agg is grid-sized too: hinted, the join is planned statically. Left
    # to AQE it is a sort-merge join that becomes a broadcast join only
    # when the agg stage happens to finish first, so the job count of the
    # same query varied between runs.
    completed = grid.join(F.broadcast(agg), ["region", "taxa"], "left").select(
        "region", "taxa", F.coalesce("catch", F.lit(0)).alias("catch")
    )
    totals = completed.groupBy("region").agg(
        F.sum("catch").alias("total_catch")
    )
    return completed.join(F.broadcast(totals), "region").select(
        "region",
        "taxa",
        "catch",
        "total_catch",
        F.round(F.col("catch") / F.col("total_catch") * 100.0, 6).alias(
            "percent_catch"
        ),
    )


# qt(0.975, dof) for dof 1..7, where the Cornish-Fisher expansion is poor
# (dof=1: ~9.7 vs the true 12.706). Closed forms for dof 1 (tan(0.475*pi))
# and 2 (0.95*sqrt(2/(4*0.975*0.025))), cross-checked to 1e-13 against an
# exact-tail Simpson quadrature of the t pdf; dof 3..7 from the quadrature
# (abs error <= 1e-9). Oracles import THIS table so literals never diverge.
QT975_SMALL_DOF = {
    1: 12.706204736174696,
    2: 4.302652729749464,
    3: 3.1824463052837135,
    4: 2.7764451051977783,
    5: 2.57058183563632,
    6: 2.4469118511449777,
    7: 2.364624251592777,
}


def period_dispersion(df: DataFrame, period_col: str, value_col: str) -> DataFrame:
    """Per-period dispersion frame behind the reference's revenue/CPUE
    time series (data_report.Rmd:357-368): median, sample sd, n,
    se = sd/sqrt(n) and the qt(0.975, n-1)-scaled confidence interval
    (`ic = se * qt((1 - 0.05) / 2 + .5, n - 1)`).

    Determinism (SURVEY §7.4): the sd uses the exact sum-of-squares
    identity sqrt((sum(x^2) - sum(x)^2/n)/(n-1)) — exact when callers
    feed integer-scaled values (both engines sum identical integers),
    unlike builtin stddev_samp whose central-moment accumulation is
    partition-order dependent. The t quantile matches R's qt: exact
    precomputed values for dof = n-1 in 1..7 (where the series expansion
    is poor — Cornish-Fisher at dof=1 gives ~9.7 vs the true 12.706,
    ADVICE r10; the lookup values are verified to <=1e-9 by closed
    forms for dof 1-2 and exact-tail quadrature for 3-7), and the
    Cornish-Fisher expansion around z = 1.959963984540054 for dof >= 8
    (<1e-4 absolute error there). Byte-identical between engines
    because both evaluate the same literals/polynomial.

    One partial-aggregated groupBy over the landing-level input.
    Returns (period, med, sd, n, se, ic); sd/se/ic null when n < 2.
    """
    z = 1.959963984540054
    g1 = (z**3 + z) / 4.0
    g2 = (5 * z**5 + 16 * z**3 + 3 * z) / 96.0
    g3 = (3 * z**7 + 19 * z**5 + 17 * z**3 - 15 * z) / 384.0
    g = (
        df.select(
            F.col(period_col).alias("period"),
            F.col(value_col).alias("__v__"),
        )
        .filter(F.col("__v__").isNotNull())
        .groupBy("period")
        .agg(
            F.median("__v__").alias("__med__"),
            F.sum("__v__").alias("__s__"),
            F.sum(F.col("__v__") * F.col("__v__")).alias("__ss__"),
            F.count("__v__").cast("long").alias("n"),
        )
    )
    nn = F.col("n").cast("double")
    var = (F.col("__ss__") - F.col("__s__") * F.col("__s__") / nn) / (nn - 1)
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    dof = nn - 1
    tq_cf = (
        F.lit(z)
        + F.lit(g1) / dof
        + F.lit(g2) / (dof * dof)
        + F.lit(g3) / (dof * dof * dof)
    )
    tq = None
    for d, val in QT975_SMALL_DOF.items():
        cond = F.col("n") == F.lit(d + 1)
        tq = F.when(cond, F.lit(val)) if tq is None else tq.when(cond, F.lit(val))
    tq = tq.otherwise(tq_cf)
    se = sd / F.sqrt(nn)
    guard = F.col("n") >= 2
    return g.select(
        "period",
        F.round("__med__", 6).alias("med"),
        F.when(guard, F.round(sd, 6)).alias("sd"),
        "n",
        F.when(guard, F.round(se, 6)).alias("se"),
        F.when(guard, F.round(se * tq, 6)).alias("ic"),
    )


def category_share(
    df: DataFrame,
    dim_col: str,
    category_col: str,
) -> DataFrame:
    """Per-(dim, category) landing counts with the share of each
    category's total (data_report.Rmd:1281-1299, the "Gear used" treemap
    frame; :1244-1247 "Habitat exploited" and :1318-1321 "Catch use" are
    the same shape with a different dim): count landings per (dim,
    category), total per category, share = round(n / n_tot * 100, 2) —
    the Rmd's exact mutate. Null dim/category rows are dropped
    (na.omit), like the reference.

    One partial-aggregated groupBy over the landing-level input; the
    category totals and the share division run on group-cardinality
    frames, broadcast-joined. Integer count ratios divided once, so the
    rounding is engine-stable.

    Returns (dim, category, n, n_tot, pct).
    """
    counts = (
        df.filter(
            F.col(dim_col).isNotNull() & F.col(category_col).isNotNull()
        )
        .select(
            F.col(dim_col).alias("dim"), F.col(category_col).alias("category")
        )
        .groupBy("dim", "category")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = counts.groupBy("category").agg(
        F.sum("n").cast("long").alias("n_tot")
    )
    return counts.join(F.broadcast(totals), "category").select(
        "dim",
        "category",
        "n",
        "n_tot",
        F.round(F.col("n") / F.col("n_tot") * 100.0, 2).alias("pct"),
    )


def habitat_nutrient_density(
    df: DataFrame,
    habitat_col: str,
    catch_col: str,
    nutrient_cols: Sequence[str],
    conv_factors: dict[str, float],
) -> DataFrame:
    """Median per-kg nutrient density per habitat
    (data_report.Rmd:1440-1449): unpivot the per-landing nutrient mass
    columns to long, normalize by catch (value / catch), convert to
    individuals-per-kg via the RDI conversion factor
    (value * 1000 / conv_factor), then per (habitat, nutrient) the
    median, divided by 10 and rescaled x100 exactly as the Rmd does.

    The per-row arithmetic chain is identical IEEE ops in both engines;
    only the median (interpolated, same rule in Spark and DuckDB) runs
    per group — one partial shuffle of landing-level rows, the unpivot
    is a stack over the row, never a join.

    Returns (habitat, nutrient, inds_kg) with inds_kg rounded to 6.
    """
    cols = list(nutrient_cols)
    stack = ", ".join(f"'{c}', `{c}`" for c in cols)
    long = df.select(
        F.col(habitat_col).alias("habitat"),
        F.col(catch_col).alias("__catch__"),
        F.expr(f"stack({len(cols)}, {stack}) AS (nutrient, __value__)"),
    ).filter(F.col("__catch__").isNotNull() & (F.col("__catch__") != 0))
    conv = F.create_map(
        *[x for c in cols for x in (F.lit(c), F.lit(float(conv_factors[c])))]
    )
    inds = long.select(
        "habitat",
        "nutrient",
        (
            (F.col("__value__") / F.col("__catch__")) * 1000.0
            / conv[F.col("nutrient")]
        ).alias("__inds__"),
    )
    return inds.groupBy("habitat", "nutrient").agg(
        F.round(F.median("__inds__") / 10.0 * 100.0, 6).alias("inds_kg")
    )


def catch_use_share(
    df: DataFrame,
    landing_col: str,
    taxon_col: str,
    key_col: str,
    use_col: str,
    catch_col: str,
    drop_taxa: Sequence[str] = ("0",),
) -> DataFrame:
    """Catch-usage proportion frame (data_report.Rmd:650-670; the
    per-municipality variant at :706-726 is the same frame with
    ``key_col`` = municipality): the observation unit is a (landing,
    taxon) pair with a non-null catch — per unit take the deterministic
    first catch-use (modeled as min, the explicit ordering SURVEY §7.4
    requires of dplyr::first), drop the reference's placeholder taxa
    (``catch_taxon %in% ("0")``), count units per (key, use), and share
    each key's total.

    Two chained partial-aggregated groupBys over the fact scan (unit
    rollup on (landing, key, taxon) — key rides the GROUP KEY exactly
    like the Rmd's ``group_by(landing_id, municipality, catch_taxon)``,
    so it must be unit-functional like municipality is — then the
    count) plus group-cardinality totals broadcast back. The
    deterministic-first use aggregates as ``min`` over a
    :func:`string_rank_dict` id, NOT the string itself, so the
    fact-sized rollup HASH-aggregates (a string min buffer would
    SortAggregate the whole fact — the VERDICT r10 #1 class); the id
    decodes back on the group-cardinality counts frame.

    Returns (key, catch_use, obs, tot_obs, prop_obs) with obs/tot_obs
    BIGINT counts and prop_obs the single integer-ratio division both
    engines evaluate identically, rounded to 6.
    """
    use_dict = string_rank_dict(df, use_col)
    units = (
        df.filter(F.col(catch_col).isNotNull())
        .join(F.broadcast(use_dict), use_col, "left")
        .groupBy(
            F.col(landing_col).alias("__landing__"),
            F.col(key_col).alias("key"),
            F.col(taxon_col).alias("__taxon__"),
        )
        .agg(F.min("__rank_id__").alias("__uid__"))
        .filter(~F.col("__taxon__").isin(list(drop_taxa)))
    )
    counts = units.groupBy("key", "__uid__").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    totals = counts.groupBy("key").agg(
        F.sum("obs").cast("long").alias("tot_obs")
    )
    decode = use_dict.select(
        F.col("__rank_id__").alias("__uid__"),
        F.col(use_col).alias("catch_use"),
    )
    return (
        counts.join(F.broadcast(decode), "__uid__", "left")
        .join(F.broadcast(totals), "key")
        .select(
            "key",
            "catch_use",
            "obs",
            "tot_obs",
            F.round(F.col("obs") / F.col("tot_obs"), 6).alias("prop_obs"),
        )
    )


def regional_mix(df: DataFrame, key_col: str, dim_col: str) -> DataFrame:
    """Stacked-100% mix frame (data_report.Rmd:235-252, the "Gear type
    proportion by region" bars; :269-278 propulsion is the same shape):
    drop rows with a null key or dim (the Rmd's opening filter), count
    per (key, dim) with each key's total attached (`group_by(key)
    mutate(tot_obs = n())`), then complete the key x dim grid — created
    combinations get n = 0 and, exactly like tidyr::complete followed by
    `replace_na(list(n = 0))`, a NULL tot_obs (only n is na-filled).

    One partial-aggregated groupBy over the fact scan; totals and the
    grid completion run on group-cardinality frames, broadcast-joined.

    Returns (key, dim, tot_obs, n) — BIGINT counts, tot_obs nullable on
    grid-completed rows.
    """
    counts = (
        df.filter(F.col(key_col).isNotNull() & F.col(dim_col).isNotNull())
        .select(F.col(key_col).alias("key"), F.col(dim_col).alias("dim"))
        .groupBy("key", "dim")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = counts.groupBy("key").agg(F.sum("n").cast("long").alias("tot_obs"))
    withtot = counts.join(F.broadcast(totals), "key")
    grid = counts.select("key").distinct().crossJoin(
        F.broadcast(counts.select("dim").distinct())
    )
    return grid.join(withtot, ["key", "dim"], "left").select(
        "key", "dim", "tot_obs", F.coalesce("n", F.lit(0)).alias("n")
    )


def survey_activity(df: DataFrame, region_col: str, date_col: str) -> DataFrame:
    """Survey-activity heatmap frame (data_report.Rmd:145-152): the Rmd
    completes the (municipality, landing_date) grid, marks observed rows
    record = 1 and completed ones 0, floors dates to month and sums —
    equivalently: count observations per (region, month) over the grid
    of every non-null region x every month present anywhere in the data,
    0-filled. Regions that never observed a month still get a row (that
    is what the heatmap shows as a gap).

    One partial-aggregated count over the fact scan; the month spine and
    region list are group-cardinality frames, cross-joined broadcast.

    Returns (region, month, obs) with obs a BIGINT count.
    """
    month = F.trunc(F.col(date_col), "month")
    base = df.filter(F.col(region_col).isNotNull()).select(
        F.col(region_col).alias("region"), month.alias("month")
    )
    counts = base.groupBy("region", "month").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    months = (
        df.filter(F.col(date_col).isNotNull())
        .select(month.alias("month"))
        .distinct()
    )
    grid = counts.select("region").distinct().crossJoin(F.broadcast(months))
    return grid.join(counts, ["region", "month"], "left").select(
        "region", "month", F.coalesce("obs", F.lit(0)).alias("obs")
    )


def fisher_mix(
    df: DataFrame,
    landing_col: str,
    habitat_col: str,
    gear_col: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Fisher-composition parallel-categories frame
    (data_report.Rmd:1110-1160): roll the landing-catch rows up to one
    row per landing taking deterministic firsts (min, SURVEY §7.4) of
    habitat, gear and the per-type fisher counts — dropping landings
    with any null fisher count and null habitat/gear like the Rmd's
    `dat` filters — then unpivot the count columns and total each
    (habitat, gear, fisher-type) cell.

    One partial-aggregated rollup on the landing key, then the stack
    (a per-row expression, never a join) and a group-cardinality sum.
    The habitat/gear deterministic firsts aggregate as ``min`` over
    :func:`string_rank_dict` ids so the fact-sized rollup
    HASH-aggregates (string min buffers SortAggregate the whole fact —
    the VERDICT r10 #1 class); ids decode back on the landing-
    cardinality frame before the unpivot.

    Returns (habitat, gear, name, value) with value a BIGINT total.
    """
    cols = list(value_cols)
    pred = F.col(habitat_col).isNotNull() & F.col(gear_col).isNotNull()
    for c in cols:
        pred = pred & F.col(c).isNotNull()
    h_dict = string_rank_dict(df, habitat_col)
    g_dict = string_rank_dict(df, gear_col)
    landing = (
        df.filter(pred)
        .join(
            F.broadcast(h_dict.withColumnRenamed("__rank_id__", "__hid__")),
            habitat_col,
        )
        .join(
            F.broadcast(g_dict.withColumnRenamed("__rank_id__", "__gid__")),
            gear_col,
        )
        .groupBy(F.col(landing_col).alias("__landing__"))
        .agg(
            F.min("__hid__").alias("__hid__"),
            F.min("__gid__").alias("__gid__"),
            *[F.min(F.col(c)).alias(c) for c in cols],
        )
        .join(
            F.broadcast(
                h_dict.select(
                    F.col("__rank_id__").alias("__hid__"),
                    F.col(habitat_col).alias("habitat"),
                )
            ),
            "__hid__",
        )
        .join(
            F.broadcast(
                g_dict.select(
                    F.col("__rank_id__").alias("__gid__"),
                    F.col(gear_col).alias("gear"),
                )
            ),
            "__gid__",
        )
    )
    stack = ", ".join(f"'{c}', `{c}`" for c in cols)
    long = landing.select(
        "habitat",
        "gear",
        F.expr(f"stack({len(cols)}, {stack}) AS (name, __v__)"),
    )
    return long.groupBy("habitat", "gear", "name").agg(
        F.sum("__v__").cast("long").alias("value")
    )


def string_rank_dict(df: DataFrame, col: str) -> DataFrame:
    """Order-preserving dense long ids for a LOW-CARDINALITY string
    column (bounded by contract: survey categoricals — gear types, catch
    uses, habitats), so that ``min(id) == min(string)`` and the min can
    ride a HASH aggregate: min/max over a string column never
    hash-aggregates (non-mutable aggregation buffer -> SortAggregate
    sorts the whole fact input — the class that spilled 35 GB on the
    minhash signature agg at 500k docs, VERDICT r10 #1). Every stage
    here is itself hash-friendly: distinct (string GROUP KEY is fine —
    only string BUFFERS are not), then rank = count of values <= self
    via a tiny broadcast self-join (no window, no driver collect); the
    O(u^2) pair frame is dictionary-cardinality squared, nothing
    data-sized.

    Returns (``col``, __rank_id__) for non-null values, to broadcast
    against the fact."""
    u = df.select(F.col(col).alias("__v__")).filter(
        F.col("__v__").isNotNull()
    ).distinct()
    pairs = u.select(F.col("__v__")).join(
        F.broadcast(u.select(F.col("__v__").alias("__w__"))),
        F.col("__v__") >= F.col("__w__"),
    )
    return pairs.groupBy("__v__").agg(
        F.count(F.lit(1)).cast("long").alias("__rank_id__")
    ).select(F.col("__v__").alias(col), "__rank_id__")
