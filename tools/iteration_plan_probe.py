"""Full-lineage before/after plans for the iterative graph operators.

The graph loops pin each iteration behind ``localCheckpoint``, so a
normal ``explain`` of the returned DataFrame shows only the final
``Scan ExistingRDD`` tail — the per-iteration join strategy (the thing
the r14 broadcast gate changes) is invisible. This probe makes
``localCheckpoint`` an IDENTITY while building the plan (plan shape
only — never used for timing, and the gate's bounded ``count()`` /
``first()`` probes still execute real jobs), then dumps
``explain("formatted")`` of the full unrolled lineage twice per
operator:

* ``*_before``: broadcast gate OFF (the module's bound set to -1, so
  no graph fits) — the pre-r14 shuffle path (per-iteration Exchange +
  Sort under SortMergeJoin).
* ``*_after``: gate at its shipped bound — per-iteration
  BroadcastHashJoin, edge list never re-exchanged.

Inputs are the SAME copurchase edge builder and constants the registry
queries use, so the dumped shapes are the queries' shapes.

k_core has no broadcast gate (a bounded edge count picks a one-task
peel or the shuffle loop), so it is not probed here; the committed
``plans/r14/*kcore*`` dumps are the old gated shapes.

Usage: ``python tools/iteration_plan_probe.py`` (writes
``plans/r14/<name>_iterbody_{before,after}.txt``).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.dataframe as _D  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from gdutils_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"),
)


class _no_checkpoint:
    """Context manager: DataFrame.localCheckpoint -> identity.

    Spark 4 resolves the method on the CONCRETE class
    (``pyspark.sql.classic.dataframe.DataFrame``), which overrides the
    abstract ``pyspark.sql.dataframe.DataFrame`` — patch both."""

    def __enter__(self):
        import pyspark.sql.classic.dataframe as _CD

        self._targets = [
            (cls, cls.__dict__.get("localCheckpoint"))
            for cls in (_D.DataFrame, _CD.DataFrame)
            if "localCheckpoint" in cls.__dict__
        ]
        for cls, _ in self._targets:
            cls.localCheckpoint = lambda df, eager=True: df
        return self

    def __exit__(self, *exc):
        for cls, orig in self._targets:
            cls.localCheckpoint = orig
        return False


def _dump(df, name: str, tag: str) -> None:
    from gdutils_spark.plans import formatted_plan

    plan = formatted_plan(df)
    path = os.path.join(OUT, f"{name}_iterbody_{tag}.txt")
    with open(path, "w") as f:
        f.write(plan)
    n_ex = plan.count("Exchange") - plan.count("BroadcastExchange")
    n_bhj = plan.count("BroadcastHashJoin")
    n_smj = plan.count("SortMergeJoin")
    print(
        f"{name:34s} {tag:6s} shuffle-Exchange={n_ex:3d} "
        f"BroadcastHashJoin={n_bhj:3d} SortMergeJoin={n_smj:3d} -> {path}"
    )


def main() -> None:
    spark = get_spark("gdutils-iterplan-probe")
    from gdutils_spark.operators import graph
    from gdutils_spark.queries_ext import (
        _copurchase_edges,
        LPA_ITERS,
        PR_DAMPING,
        PR_ITERS,
        PR_TOP,
    )

    both = _copurchase_edges(spark, SF_DIR, both_directions=True)
    half = _copurchase_edges(spark, SF_DIR, both_directions=False)
    wedges = both.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))

    def topk(pr):
        return (
            pr.orderBy(F.col("pr").desc(), F.col("node"))
            .limit(PR_TOP)
            .select(F.col("node").alias("part"), "pr")
        )

    cases = [
        (
            "part_copurchase_pagerank",
            lambda: topk(
                graph.pagerank(both, damping=PR_DAMPING, n_iters=PR_ITERS)
            ),
            "_BROADCAST_MAX_NODES",
        ),
        (
            "part_copurchase_pagerank_weighted",
            lambda: topk(
                graph.pagerank(
                    wedges,
                    damping=PR_DAMPING,
                    n_iters=PR_ITERS,
                    weight="w",
                    validate=False,
                )
            ),
            "_BROADCAST_MAX_NODES",
        ),
        (
            "part_copurchase_communities",
            lambda: graph.label_propagation(both, n_iters=LPA_ITERS),
            "_BROADCAST_MAX_NODES",
        ),
        (
            "part_copurchase_triangles",
            lambda: graph.triangle_count(half),
            "_BROADCAST_MAX_EDGES",
        ),
    ]
    for name, build, bound in cases:
        shipped = getattr(graph, bound)
        setattr(graph, bound, -1)
        try:
            with _no_checkpoint():
                _dump(build(), name, "before")
        finally:
            setattr(graph, bound, shipped)
        with _no_checkpoint():
            _dump(build(), name, "after")


if __name__ == "__main__":
    main()
