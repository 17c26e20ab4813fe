"""Per-entity summary aggregation (the reference's `_datasets_summaries`).

The reference builds one summary row per dataset inside a sequential HTTP
loop — min/max time, bbox extent, first-fix position, profile count, day
span (``/root/reference/gdutils/__init__.py:544-616,489-501``). Spark-first:
the loop IS a groupBy — one scan over all entities, partial aggregation
map-side, a single shuffle on the entity key.

First-row semantics (`iloc[0]` after a time sort,
``/root/reference/gdutils/__init__.py:606-607``) map to ``min_by(col,
time)`` — no window, no sort (SURVEY.md §7 trap 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def entity_summaries(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    lat_col: str = "latitude",
    lon_col: str = "longitude",
) -> DataFrame:
    """Summary row per entity: schema mirrors the reference's
    ``summary_columns`` (``/root/reference/gdutils/__init__.py:489-501``).

    days = ceil((max-min)/86400) per
    ``/root/reference/gdutils/__init__.py:595-599``.
    """
    t = F.col(time_col)
    return df.groupBy(entity_col).agg(
        F.min(t).alias("start_date"),
        F.max(t).alias("end_date"),
        F.min_by(F.col(lat_col), t).alias("deployment_lat"),
        F.min_by(F.col(lon_col), t).alias("deployment_lon"),
        F.min(lat_col).alias("lat_min"),
        F.max(lat_col).alias("lat_max"),
        F.min(lon_col).alias("lon_min"),
        F.max(lon_col).alias("lon_max"),
        F.count(F.lit(1)).alias("num_profiles"),
        F.ceil(
            (F.unix_timestamp(F.max(t)) - F.unix_timestamp(F.min(t))) / F.lit(86400)
        ).alias("days"),
    )


def daily_stats(
    df: DataFrame,
    time_col: str,
    entity_col: str | None = None,
    value_cols: tuple[str, ...] = ("latitude", "longitude"),
    count_alias: str = "num_profiles",
) -> DataFrame:
    """Daily mean-position + count stats (A1), mirroring
    ``groupby(date).agg({'latitude':'mean','longitude':'mean',
    'profile_id':'size'})`` at ``/root/reference/gdutils/__init__.py:574-576``.

    Keys stay long (date[, entity]) — never a wide matrix — so the result
    scales with distinct dates × entities, not input rows.
    """
    keys = [F.to_date(time_col).alias("date")]
    if entity_col:
        keys.insert(0, F.col(entity_col))
    aggs = [F.avg(c).alias(f"avg_{c}") for c in value_cols]
    aggs.append(F.count(F.lit(1)).alias(count_alias))
    return df.groupBy(*keys).agg(*aggs)


def deployment_days(
    df: DataFrame, entity_col: str, time_col: str
) -> DataFrame:
    """One row per (entity, date) for every calendar day between the
    entity's first and last observation — the dense "glider was deployed
    this day" series (``/root/reference/gdutils/__init__.py:587-589``).

    ``sequence`` + ``explode`` on the per-entity bounds: the explode happens
    AFTER the aggregation, so the shuffle moves one row per entity, not one
    per observation.
    """
    bounds = df.groupBy(entity_col).agg(
        F.to_date(F.min(time_col)).alias("d0"), F.to_date(F.max(time_col)).alias("d1")
    )
    return bounds.select(
        entity_col, F.explode(F.sequence("d0", "d1")).alias("date")
    ).withColumn("deployed", F.lit(1))


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column data profile — ``(col_name, dtype, n_rows, n_null,
    n_distinct, min_num, max_num)``, one row per profiled column — the
    "describe this table" surface a pipeline runs before trusting a new
    feed: null rates, cardinalities, numeric ranges.

    ONE pass: every statistic folds in a single global aggregate and the
    wide 1-row result melts to rows with a codegen'd ``stack`` — no
    per-column jobs. Numeric min/max are order-insensitive (safe
    doubles); means are deliberately absent (a double sum is
    fold-order-sensitive — use the histogram/bottom-k sketches for
    distribution shape). Multiple exact ``count_distinct`` aggregates
    plan one Expand of the scan (rows × columns) — fine for profiling;
    at 100 TB run on a sample or swap in the HLL sketch per column.
    """
    from pyspark.sql.types import NumericType

    cols = columns if columns is not None else list(df.columns)
    # positional aliases + df[...] resolution: column names with dots,
    # quotes or backticks neither break resolution nor the generated
    # stack expression (only the display literal carries the raw name,
    # quote-escaped)
    numeric = [isinstance(df.schema[c].dataType, NumericType) for c in cols]

    def ref(c):
        # backtick-quoted reference: plain df[c]/F.col(c) would parse a
        # dotted name as nested-field access
        return F.col("`" + c.replace("`", "``") + "`")

    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(cols):
        aggs.append(F.count(ref(c)).alias(f"_nn_{i}"))
        aggs.append(F.count_distinct(ref(c)).alias(f"_nd_{i}"))
        if numeric[i]:
            aggs.append(F.min(ref(c)).cast("double").alias(f"_mn_{i}"))
            aggs.append(F.max(ref(c)).cast("double").alias(f"_mx_{i}"))
    wide = df.agg(*aggs)
    parts = []
    for i, c in enumerate(cols):
        dt = df.schema[c].dataType.simpleString()
        mn = f"_mn_{i}" if numeric[i] else "CAST(NULL AS DOUBLE)"
        mx = f"_mx_{i}" if numeric[i] else "CAST(NULL AS DOUBLE)"
        lit_name = c.replace("'", "''")
        parts.append(
            f"'{lit_name}', '{dt}', _n, _n - _nn_{i}, _nd_{i}, {mn}, {mx}"
        )
    stack = (
        f"stack({len(cols)}, {', '.join(parts)}) AS "
        "(col_name, dtype, n_rows, n_null, n_distinct, min_num, max_num)"
    )
    return wide.select(F.expr(stack))


def mad_outlier_summary(
    df: DataFrame,
    value_col: str,
    group_col: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Per-group ROBUST outlier summary via the modified z-score
    (Iglewicz & Hoaglin 1993, "How to Detect and Handle Outliers"):
    ``(grp, n, med, mad, n_outliers, outlier_frac)`` where a row is an
    outlier iff ``0.6745 · |v − median| > threshold · MAD`` — the
    median/MAD pair is the breakdown-resistant replacement for the
    mean/stddev z-score (``event_type_daily_zscore``), immune to the
    very outliers it hunts. Formulated multiplicatively so a MAD of 0
    (constant-majority groups) needs no division guard: nothing
    exceeds ``threshold · 0`` except genuinely deviant values.

    Determinism: ``percentile`` == DuckDB ``quantile_cont`` (proven
    parity), the 0.6745/threshold constants are inlined literals, and
    the flag arithmetic is two IEEE multiplies on identical doubles —
    counts hash-verify cross-engine. Plan shape: two grouped percentile
    aggregates (median, then MAD of the residuals) joined back between
    them, then one counting pass. The median/MAD tables are
    GROUP-cardinality-sized, so the join strategy is left to
    Catalyst/AQE runtime stats (broadcast means a driver collect: fine
    for per-type groups, fatal for per-user groups at 1e9 entities)."""
    # NaN dropped alongside NULL (r13 null-fixture hunt): the engines
    # ORDER NaN differently inside exact percentile (Spark sorts it
    # largest, DuckDB quantile_cont ignores it), so one NaN measure
    # would silently skew med/MAD on one engine only
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("v"),
    ).where(F.col("v").isNotNull() & ~F.isnan(F.col("v")))
    med = base.groupBy("grp").agg(
        F.percentile(F.col("v"), F.lit(0.5)).alias("med")
    )
    resid = base.join(med, "grp").select(
        "grp", "v", "med", F.abs(F.col("v") - F.col("med")).alias("r")
    )
    mad = resid.groupBy("grp").agg(
        F.percentile(F.col("r"), F.lit(0.5)).alias("mad")
    )
    flagged = resid.join(mad, "grp").select(
        "grp",
        "med",
        "mad",
        (
            F.col("r") * F.lit(0.6745)
            > F.lit(float(threshold)) * F.col("mad")
        ).alias("is_out"),
    )
    return flagged.groupBy("grp", "med", "mad").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_out").cast("long")).alias("n_outliers"),
        (
            F.sum(F.col("is_out").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("outlier_frac"),
    )


def fk_audit(
    edges: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit over a list of FK edges — one row per
    edge: ``(fk_name, n_rows, n_null_keys, n_orphans, orphan_rate)``
    where an orphan is a child row whose non-NULL key has no parent.
    The "can I trust the joins" gate a pipeline runs after every load:
    :func:`profile_table` covers one table's columns, this covers the
    RELATIONSHIPS between tables (a 0.1% orphan rate in lineitem →
    orders silently drops revenue from every inner-join report).

    ``edges``: ``(fk_name, child_df, child_key, parent_df, parent_key)``
    tuples. Plan shape per edge: the child projects to its key column
    only, the parent to a distinct key set (dimension-key-sized), one
    left join + a counting aggregate — the joins run under AQE (a
    nation-sized parent broadcasts, an orders-sized parent shuffles),
    and the per-edge single-row aggregates cross-engine-hash exactly
    (orphan_rate is ONE double division of exact longs). Edges evaluate
    as independent plan branches unioned at the end, so a 7-edge audit
    over 100 TB is 7 parallel key-projected scans — column pruning means
    none of them reads payload columns."""
    if not edges:
        raise ValueError("fk_audit: need at least one (name, child, key, parent, key) edge")
    outs = []
    for name, child, ckey, parent, pkey in edges:
        probe = (
            parent.select(F.col(pkey).alias("__pk"))
            .distinct()
            .withColumn("__hit", F.lit(True))
        )
        joined = child.select(F.col(ckey).alias("__ck")).join(
            probe, F.col("__ck") == F.col("__pk"), "left"
        )
        outs.append(
            joined.agg(
                F.lit(name).alias("fk_name"),
                F.count(F.lit(1)).alias("n_rows"),
                # coalesce: SUM over zero rows is NULL — an EMPTY child
                # table must audit as clean (0/0/0, rate 0.0), not as
                # indeterminate NULLs that slip through a `rate > x` gate
                F.coalesce(
                    F.sum(F.col("__ck").isNull().cast("long")), F.lit(0)
                ).alias("n_null_keys"),
                F.coalesce(
                    F.sum(
                        (F.col("__ck").isNotNull() & F.col("__hit").isNull()).cast("long")
                    ),
                    F.lit(0),
                ).alias("n_orphans"),
            ).select(
                "fk_name",
                "n_rows",
                "n_null_keys",
                "n_orphans",
                F.when(F.col("n_rows") == 0, F.lit(0.0))
                .otherwise(
                    F.col("n_orphans").cast("double")
                    / F.col("n_rows").cast("double")
                )
                .alias("orphan_rate"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def winsorized_summary(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lower: float = 0.05,
    upper: float = 0.95,
    decimal_scale: int = 2,
) -> DataFrame:
    """Per-group winsorized-mean report — ``(group, n, p_lo, p_hi,
    n_below, n_above, winsorized_mean)`` where values below the
    ``lower`` quantile are clamped UP to it and values above ``upper``
    are clamped DOWN before averaging (Tukey/Dixon winsorization): the
    robust mean a metrics pipeline wants when a handful of fat-finger
    values would otherwise drag a plain average, while (unlike
    trimming) every observation still counts.

    Cross-engine determinism: the quantiles come from ``percentile``
    (== DuckDB ``quantile_cont`` — the parity precedent from
    mad_outlier_summary); in-range values sum through
    ``decimal(18, decimal_scale)`` (order-insensitive exact — assumes
    the feed carries at most that many decimals, the queries.py
    convention), and the clamped tails contribute ``n_below·p_lo`` and
    ``n_above·p_hi`` — so the mean assembles from THREE exact terms in
    one pinned order: ``((sum_mid + below) + above) / n``. No
    fold-order-sensitive double sum anywhere.

    Plan shape: one group-keyed percentile aggregate (group-cardinality
    rows, broadcast back onto the scan), then one map-side-combinable
    conditional aggregate — two pruned passes over the fact table, the
    minimal movement for an exact (non-sketch) winsorization. NULL/NaN
    values and NULL groups are dropped."""
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(
            f"winsorized_summary: need 0 <= lower < upper <= 1, got {lower}, {upper}"
        )
    base = df.select(
        F.col(group_col).alias("__g"), F.col(value_col).cast("double").alias("__v")
    ).where(
        F.col("__g").isNotNull() & F.col("__v").isNotNull() & ~F.isnan(F.col("__v"))
    )
    pct = base.groupBy("__g").agg(
        F.percentile("__v", F.lit(float(lower))).alias("p_lo"),
        F.percentile("__v", F.lit(float(upper))).alias("p_hi"),
    )
    dec = f"decimal(18,{int(decimal_scale)})"
    # Non-ANSI Spark turns a decimal-overflow cast into NULL, which
    # would silently DROP a mid-range value >= 10^(18-scale) from
    # __sum_mid while n still counts it (the DuckDB oracle errors on
    # the same cast). Guard the cast: raise_error in codegen instead of
    # a silent NULL, matching the oracle's behavior. The clamped tails
    # never go through decimal (they contribute n·p_lo / n·p_hi as
    # doubles), so only the mid-range cast needs the bound.
    bound = float(10 ** (18 - int(decimal_scale)))
    guarded_cast = F.when(
        F.abs(F.col("__v")) < F.lit(bound), F.col("__v").cast(dec)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"winsorized_summary: |value| >= {bound:g} overflows {dec}; "
                    "widen decimal_scale precision headroom, got "
                ),
                F.col("__v").cast("string"),
            )
        ).cast(dec)
    )
    joined = base.join(F.broadcast(pct), "__g")
    agg = joined.groupBy("__g", "p_lo", "p_hi").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("__v") < F.col("p_lo")).cast("long")).alias("n_below"),
        F.sum((F.col("__v") > F.col("p_hi")).cast("long")).alias("n_above"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("__v") >= F.col("p_lo")) & (F.col("__v") <= F.col("p_hi")),
                    guarded_cast,
                )
            ).cast("double"),
            F.lit(0.0),
        ).alias("__sum_mid"),
    )
    mean = (
        (
            F.col("__sum_mid")
            + F.col("n_below").cast("double") * F.col("p_lo")
        )
        + F.col("n_above").cast("double") * F.col("p_hi")
    ) / F.col("n").cast("double")
    return agg.select(
        F.col("__g").alias(group_col),
        "n",
        "p_lo",
        "p_hi",
        "n_below",
        "n_above",
        mean.alias("winsorized_mean"),
    )


def group_trend(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    decimal_scale: int = 2,
) -> DataFrame:
    """Per-group ordinary-least-squares line — ``(group, n, slope,
    intercept)`` for ``y ~ slope*x + intercept`` — the trend detector a
    metrics pipeline runs over (entity, day-index, daily-total) rows:
    which event types are growing, which feeds are decaying, is a
    quality score drifting. The closed form needs only five sums, so
    the whole fit is ONE map-side-combinable aggregate — no window, no
    iteration, no second pass; at 100 TB it moves group-cardinality
    rows once.

    Cross-engine determinism (the winsorized_summary discipline,
    pushed further): x must be integral (day index, epoch day — cast
    to long) and y is scaled to INTEGER units of ``10^-decimal_scale``
    (cents for the default 2) through an exact decimal cast, so ALL
    five sums (n, Sx, Syc, Sxyc, Sxx) are plain longs — no decimal
    widening rules to reconcile between engines — and the only float
    ops are the final assembly in ONE pinned IEEE order::

        den       = n*Sxx - Sx*Sx                       (exact long)
        slope     = (dbl(n*Sxyc - Sx*Syc) / dbl(den)) / 10^scale
        intercept = (dbl(Syc)/10^scale - slope*dbl(Sx)) / dbl(n)

    Magnitude bound (winsorized-style GUARDED, both ends): per-row,
    ``|y|·10^scale`` must fit ``decimal(18,0)`` after scaling (raises
    via the decimal cast guard). Per-GROUP, every long sum and the
    determinant are proved exact or the query raises: the aggregate
    also carries ``max|x|`` and ``max|yc|`` (count and max never wrap,
    so they are trustworthy even when a sum would not be), and by
    Cauchy–Schwarz ``0 <= den = n*Sxx - Sx^2 <= n^2*max|x|^2`` while
    ``|num| <= 2*n^2*max|x|*max|yc|`` — so the guard requires
    ``n^2*max|x|^2`` and ``2*n^2*max|x|*max|yc|`` under 4·10^18
    (margin below 2^63 for the double-side check) and raises
    otherwise, instead of letting non-ANSI int64 wraparound emit a
    confidently wrong slope. With day-index x (~2·10^4) and scale 2
    that allows ~10^5-row groups of million-unit y values; for bigger
    magnitudes lower ``decimal_scale`` or pre-shift x (slope is
    shift-invariant in x up to the intercept).

    Groups where every x is identical have ``den = 0`` (a vertical
    line): slope and intercept are NULL, n still reported. NULL/NaN x
    or y rows and NULL groups are dropped."""
    scale_f = float(10 ** int(decimal_scale))
    dec = f"decimal(18,{int(decimal_scale)})"
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("double").alias("__yd"),
    ).where(
        F.col("__g").isNotNull()
        & F.col("__x").isNotNull()
        & F.col("__yd").isNotNull()
        & ~F.isnan(F.col("__yd"))
    )
    # exact integer y-units: double -> decimal(18,scale) (HALF_UP, the
    # engine-wide quantize convention) -> shift scale -> long. A value
    # overflowing the decimal nulls under non-ANSI Spark -> guard like
    # winsorized_summary: raise loudly instead of silently dropping.
    bound = float(10 ** (18 - int(decimal_scale)))
    yc = F.when(
        F.abs(F.col("__yd")) < F.lit(bound),
        (F.col("__yd").cast(dec) * F.lit(int(scale_f))).cast("long"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"group_trend: |y| >= {bound:g} overflows {dec}; lower "
                    "decimal_scale, got "
                ),
                F.col("__yd").cast("string"),
            )
        ).cast("long")
    )
    xl = F.col("__x")
    agg = base.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xl).alias("__sx"),
        F.sum(yc).alias("__syc"),
        F.sum(xl * yc).alias("__sxyc"),
        F.sum(xl * xl).alias("__sxx"),
        F.max(F.abs(xl)).alias("__mx"),
        F.max(F.abs(yc)).alias("__my"),
    )
    den = F.col("n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    num = F.col("n") * F.col("__sxyc") - F.col("__sx") * F.col("__syc")
    # per-group exactness proof (see docstring): n and max never wrap,
    # so n^2*max|x|^2 / 2*n^2*max|x|*max|yc| bound every long sum, den
    # and num; past 4e18 the wraparound risk is real -> raise, never
    # emit a silently wrong slope. References only aggregate outputs,
    # so Catalyst cannot sink it below the HashAggregate.
    nd = F.col("n").cast("double")
    mxd = F.col("__mx").cast("double")
    myd = F.col("__my").cast("double")
    exact_ok = (nd * nd * mxd * mxd <= F.lit(4.0e18)) & (
        F.lit(2.0) * nd * nd * mxd * myd <= F.lit(4.0e18)
    )
    slope = F.when(
        ~exact_ok,
        F.raise_error(
            F.concat(
                F.lit(
                    "group_trend: per-group magnitude bound exceeded "
                    "(n^2*max|x|^2 or 2*n^2*max|x|*max|y*scale| > 4e18); "
                    "int64 sums could wrap — lower decimal_scale or "
                    "pre-shift x. group="
                ),
                F.col("__g").cast("string"),
                F.lit(" n="),
                F.col("n").cast("string"),
                F.lit(" max|x|="),
                F.col("__mx").cast("string"),
                F.lit(" max|y_scaled|="),
                F.col("__my").cast("string"),
            )
        ).cast("double"),
    ).when(
        den != 0,
        (num.cast("double") / den.cast("double")) / F.lit(scale_f),
    )
    intercept = (
        F.col("__syc").cast("double") / F.lit(scale_f)
        - F.col("slope") * F.col("__sx").cast("double")
    ) / F.col("n").cast("double")
    return (
        agg.withColumn("slope", slope)
        .select(
            F.col("__g").alias(group_col),
            "n",
            "slope",
            F.when(F.col("slope").isNotNull(), intercept).alias("intercept"),
        )
    )
