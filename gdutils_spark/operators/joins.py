"""Join operators: catalog joins, interval (deployment-window) join, orphan
detection.

The reference's joins are all pandas index joins or Python loops:

* catalog ⋈ summaries (``/root/reference/gdutils/__init__.py:107-114``)
* API catalog left/right merge (``/root/reference/gdutils/__init__.py:921-941``)
* per-deployment GTS fetch loop — an interval join done as N HTTP requests
  (``/root/reference/gdutils/osmc/__init__.py:215-239``)

Spark-first: the interval join is ONE equi-join on the platform key with the
time range as a residual predicate — the equi part hash-partitions both
sides, so it scales; the range filter evaluates inside the join. When the
dimension side is small (deployment catalogs always are), AQE broadcasts it
from runtime stats and there is no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    facts: DataFrame,
    dims: DataFrame,
    fact_key: str,
    dim_key: str,
    fact_time: str,
    dim_start: str,
    dim_end: str,
    how: str = "inner",
) -> DataFrame:
    """Key + time-range join (J5): fact rows matched to the dimension row
    whose [start, end] window contains the fact timestamp.

    Mirrors the reference's per-deployment fetch predicates
    (``platform_code=`` + ``time>=/<=``,
    ``/root/reference/gdutils/osmc/__init__.py:182-184``) as one relational
    join. Equi part drives the physical strategy; the range is a residual
    filter inside the join operator. The join strategy is Catalyst/AQE's,
    from runtime stats: a windows table *derived from the fact side* (one
    row per user/device) is entity-sized, and force-broadcasting it would
    melt the driver at 1e9 entities.
    """
    cond = (
        (facts[fact_key] == dims[dim_key])
        & (facts[fact_time] >= dims[dim_start])
        & (facts[fact_time] <= dims[dim_end])
    )
    return facts.join(dims, cond, how)


def orphans(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """Rows of ``left`` with no match in ``right`` (J8 orphan detection,
    ``/root/reference/gdutils/__init__.py:940-941``) — a left-anti join."""
    return left.join(right, key, "left_anti")


def with_orphan_flag(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """Left join + boolean ``orphaned`` flag (probe-side null ⇒ orphan).
    Catalyst/AQE picks the join from the probe's runtime size (the
    :func:`interval_join` rationale: a distinct-key probe over an
    entity-keyed right side is entity-sized)."""
    probe = right.select(key).distinct().withColumn("__hit", F.lit(True))
    return (
        left.join(probe, key, "left")
        .withColumn("orphaned", F.col("__hit").isNull())
        .drop("__hit")
    )


def semi_by_ids(df: DataFrame, key: str, ids: list) -> DataFrame:
    """Membership filter (P7). For literal lists Catalyst folds ``isin`` into
    the scan; for a DataFrame of ids use a left-semi join instead."""
    return df.where(F.col(key).isin(ids))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on: str,
    right_on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list,
    prefix: str = "asof_",
) -> DataFrame:
    """Backward (inclusive) as-of join: each ``left`` row picks up the
    ``right`` row with the greatest ``right_ts <= left_ts`` for the same key,
    or NULLs if none exists (left-outer semantics).

    The reference's nearest analogue is the per-deployment GTS window fetch
    (``/root/reference/gdutils/osmc/__init__.py:215-239``); as-of is the
    standard time-series generalization (latest reading at-or-before an
    event).

    Scale design: a naive range join explodes to |left| x |right-per-key|
    pairs and then aggregates them away. Instead both sides are UNIONed,
    shuffled ONCE on the key, sorted within each partition by
    ``(ts, side)`` (right rows sort first on ties, giving inclusive
    semantics), and the right payload is carried forward with an
    ignore-nulls ``last()`` running window — O(n log n) per key group, no
    pair blow-up, one shuffle total. Right rows must be unique per
    ``(key, ts)`` (pre-aggregate otherwise) or the carried match is
    tie-ambiguous.
    """
    from pyspark.sql import Window

    payload = [right_ts, *right_cols]
    # a NULL-ts right row would sort FIRST in the window and its payload
    # carry forward to every left row that precedes any real right row —
    # a phantom "earliest" match; a NULL-key right row would pair with
    # NULL-key left rows through the partition. Neither can be
    # "at-or-before" anything: drop them (left rows always survive).
    r = right.where(
        F.col(right_on).isNotNull() & F.col(right_ts).isNotNull()
    ).select(
        F.col(right_on).alias("__asof_key"),
        F.col(right_ts).cast("timestamp").alias("__asof_ts"),
        F.lit(0).alias("__asof_side"),
        F.struct(*[F.col(c) for c in payload]).alias("__asof_payload"),
    )
    l = left.select(
        F.col(left_on).alias("__asof_key"),
        F.col(left_ts).cast("timestamp").alias("__asof_ts"),
        F.lit(1).alias("__asof_side"),
        F.lit(None).cast(r.schema["__asof_payload"].dataType).alias("__asof_payload"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__asof_left"),
    )
    r = r.withColumn(
        "__asof_left", F.lit(None).cast(l.schema["__asof_left"].dataType)
    )
    u = r.unionByName(l.select(*r.columns))
    w = (
        Window.partitionBy("__asof_key")
        .orderBy("__asof_ts", "__asof_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn(
        "__asof_match", F.last("__asof_payload", ignorenulls=True).over(w)
    )
    return carried.where(F.col("__asof_side") == 1).select(
        "__asof_left.*",
        *[F.col(f"__asof_match.{c}").alias(prefix + c) for c in payload],
    )
