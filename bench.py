"""Benchmark harness: runs every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall seconds. ``python bench.py NAME ...`` times
only the named queries.

Each query materializes via collect() (all results are small aggregates);
the first run includes JVM/session warmup, so a throwaway warmup query runs
first.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gdutils_spark.queries import QUERIES
from gdutils_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_from_dir(d: str) -> float:
    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1)) if m else -1.0


def main() -> None:
    spark = get_spark("gdutils-spark-bench")
    # Warmup of shared infrastructure: parquet footers for every table,
    # whole-stage-codegen pipeline, and the Python worker pool used by
    # Arrow-batched stages. No registry query runs before the main loop,
    # so every query's first sample is a true cold one.
    from gdutils_spark.sources.tables import load_table

    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        load_table(spark, SF_DIR, t).count()
    from pyspark.sql import functions as F

    warm = spark.range(1000).select(
        F.sum((F.col("id").cast("decimal(18,2)") * 2).cast("double")).alias("s")
    )
    warm.collect()
    spark.range(1000).mapInPandas(
        lambda it: it, "id long"
    ).count()  # spin up python workers

    # Each query runs RUNS times; we report the per-query minimum
    # (steady-state wall time, JMH-style). The first run of a plan pays
    # one-time whole-stage-codegen compilation — several seconds on the
    # widest plans — which measures the JIT, not the operator. Cold times
    # are reported alongside for transparency.
    #
    # Queries are timed in ALPHABETICAL order, not registry order: the
    # registry is ordered for the driver's 50-entry correctness window and
    # is reshuffled between rounds, and queries that run early in the
    # process pay extra C2-JIT warmup that min-of-N doesn't fully absorb.
    # A fixed order keeps per-query numbers comparable across rounds.
    RUNS = 3
    # End-to-end Structured Streaming pipelines (file source → watermark →
    # parquet sink) run ONCE: their wall time is streaming-machinery fixed
    # overhead (query start/stop, checkpoint IO), which min-of-N cannot
    # amortize and which triples bench time for no signal.
    STREAMING = {"rt_stream_dedup", "rt_stream_daily_counts"}
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in sorted(sys.argv[1:] or QUERIES):
        fn = QUERIES[name]
        best = float("inf")
        for r in range(1 if name in STREAMING else RUNS):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).collect()
            elapsed = time.perf_counter() - t0
            if r == 0:
                cold[name] = round(elapsed, 4)
            best = min(best, elapsed)
        timings[name] = round(best, 4)

    total = round(sum(timings.values()), 4)
    # Full per-query artifact: the driver's BENCH_r{N}.json keeps only a
    # ~2 KB stdout tail, which truncates the per-query dict and has cost
    # a 35-query blind spot in round-over-round analysis. Every bench run
    # also writes the COMPLETE payload (min + cold per query) to a repo
    # file; each round's copy is committed as bench_r{NN}_full.json (see
    # SCALE.md) so cross-round comparison never depends on the tail.
    full_out = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full_latest.json"),
    )
    with open(full_out, "w") as f:
        json.dump(
            {
                "queries": timings,
                "cold": cold,
                # VERDICT r11 task 6: cold values are SINGLE samples (one
                # first-run wall time each) on a host that oscillates ~2x
                # between speed modes — a cold outlier that the warm
                # min-of-3 contradicts is host jitter, not a regression.
                # Cross-round analysis must use `queries` (warm), which
                # tools/bench_compare.py reads by default.
                "cold_note": (
                    "single-sample first-run walls; compare rounds on "
                    "'queries' (warm min-of-3), never on this dict"
                ),
                "agg": f"min_of_{RUNS}",
                "cold_total": round(sum(cold.values()), 4),
                "metric": "total_query_wall_seconds",
                "unit": "sec",
                "sf": _sf_from_dir(SF_DIR),
                "value": total,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    # VERDICT r12 task 8: assert the written artifact re-parses — the
    # driver's BENCH_r{N}.json wrapper keeps only a truncated stdout
    # tail ("parsed": null), so bench_r*_full.json IS the record of
    # round performance and a corrupt write must fail the run loudly,
    # not surface as a mis-read next round.
    with open(full_out) as f:
        reread = json.load(f)
    if reread["value"] != total or len(reread["queries"]) != len(timings):
        # explicit raise, not assert: python -O would compile an assert
        # out and silently disable this corrupt-write guard (r13 ADVICE)
        raise RuntimeError(f"bench artifact round-trip failed: {full_out}")
    # Key order matters: the driver's wrapper stores only the LAST ~2 KB
    # of stdout ("tail"), which front-truncates a long line (observed in
    # BENCH_r03.json: "parsed": null, tail starts mid-queries). Putting
    # the headline metric/value/sf AFTER the per-query dict keeps them
    # inside whatever suffix survives.
    print(
        json.dumps(
            {
                "queries": timings,
                "agg": f"min_of_{RUNS}",
                "cold_total": round(sum(cold.values()), 4),
                "metric": "total_query_wall_seconds",
                "unit": "sec",
                "sf": _sf_from_dir(SF_DIR),
                "value": total,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
