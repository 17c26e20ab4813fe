"""Size ``k_core``'s one-task bound (``graph._ONE_TASK_MAX_EDGES``).

For each size, a random graph of the co-purchase graph's density (about
117 neighbours per node, as at sf0.01 and sf0.1) is generated from
``spark.range`` and pinned; ``k_core(k=80, n_iters=6)`` (the registry
constants) then runs to a collect on both paths, alternating which goes
first, and the one-task peel runs once more inside a wrapper that
reports the Python worker's peak resident set (``VmHWM``; workers are
not reused in this session, so each task starts a fresh one).

    python3 perf/kcore_bound_sizing.py [size ...] > perf/kcore_one_task_sizing.jsonl

One JSON line per measurement; the summary table is in perf/README.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gdutils_spark.operators import graph  # noqa: E402
from gdutils_spark.session import get_spark  # noqa: E402

SIZES = (125_000, 250_000, 500_000, 1_000_000, 2_000_000, 4_000_000)
K, ITERS, REPS = 80, 6, 3


def _peak_rss(k: int, n_iters: int):
    peel = graph._kcore_peel(k, n_iters)

    def probe(batches):
        import pandas as pd

        rows = sum(len(out) for out in peel(batches))
        with open("/proc/self/status") as f:
            hwm = next(int(x.split()[1]) for x in f if x.startswith("VmHWM"))
        yield pd.DataFrame({"rows": [rows], "hwm_mb": [hwm / 1024]})

    return probe


def _timed(edges, one_task: bool) -> float:
    bound = graph._ONE_TASK_MAX_EDGES
    graph._ONE_TASK_MAX_EDGES = bound if one_task else -1
    try:
        t0 = time.perf_counter()
        graph.k_core(edges, k=K, n_iters=ITERS).toPandas()
        return time.perf_counter() - t0
    finally:
        graph._ONE_TASK_MAX_EDGES = bound


def main(sizes) -> None:
    spark = get_spark(
        "kcore-bound-sizing", extra_conf={"spark.python.worker.reuse": "false"}
    )
    for m in sizes:
        n = max(m // 58, 2)
        edges = spark.range(m).select(
            (F.rand(1) * n).cast("long").alias("src"),
            (F.rand(2) * n).cast("long").alias("dst"),
        ).localCheckpoint(eager=True)
        canon = graph._canonical_edges(edges, "src", "dst").count()
        times = {"one_task": [], "shuffle": []}
        for rep in range(REPS):
            order = (True, False) if rep % 2 == 0 else (False, True)
            for one_task in order:
                side = "one_task" if one_task else "shuffle"
                times[side].append(_timed(edges, one_task))
        rss = (
            graph._canonical_edges(edges, "src", "dst")
            .coalesce(1)
            .mapInPandas(_peak_rss(K, ITERS), "rows long, hwm_mb double")
            .first()
        )
        print(json.dumps({
            "edges_generated": m,
            "canonical_edges": canon,
            "nodes": n,
            "one_task_s": times["one_task"],
            "shuffle_s": times["shuffle"],
            "one_task_median_s": statistics.median(times["one_task"]),
            "shuffle_median_s": statistics.median(times["shuffle"]),
            "worker_peak_rss_mb": round(rss.hwm_mb, 1),
            "survivors": rss.rows,
            "cpus": spark.sparkContext.defaultParallelism,
        }), flush=True)
        edges.unpersist()
    spark.stop()


if __name__ == "__main__":
    main([int(a) for a in sys.argv[1:]] or SIZES)
