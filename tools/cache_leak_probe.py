"""Which registry queries leave CacheManager entries behind? (r14)

A ``cache()``/``persist()`` inside a query function that is never
unpersisted leaks an InMemoryRelation into the session's CacheManager.
Consequences measured this round:

* plan substitution: ANY later query whose plan contains the cached
  subtree silently reads the cache instead of its own (differently
  optimized) lineage — the r14 pytest failure where the full fuzzy
  join's cached corpus token table hijacked
  ``customer_supplier_match_between``'s broadcast-semi pushdown;
* repeated timed runs (bench min-of-3, driver re-runs) reuse the first
  run's materialization, so the reported warm time measures a cache
  read, not the operator.

Usage: ``python tools/cache_leak_probe.py [query ...]`` — runs each
query (collect), then reports queries whose run left the CacheManager
non-empty (the manager is cleared between queries so attribution is
per-query). Exit 1 if any leak.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

SF_DIR = os.environ.get("DRIVE_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as se

    # the driver adapter applies the session policy (UTC, nanosAsLong,
    # re-coalescable cached plans) that the queries need
    queries = se.queries()
    names = sys.argv[1:] or sorted(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    cm = spark._jsparkSession.sharedState().cacheManager()
    leaks: list[str] = []
    for name in names:
        spark.catalog.clearCache()
        try:
            queries[name](spark, SF_DIR).collect()
        except Exception as exc:
            print(f"warn {name}: raised {type(exc).__name__}: {exc}", flush=True)
            continue
        if not cm.isEmpty():
            leaks.append(name)
            print(f"LEAK {name}", flush=True)
    spark.catalog.clearCache()
    print(f"\nleaking queries: {len(leaks)} of {len(names)}")
    for n in leaks:
        print(f"  {n}")
    sys.exit(1 if leaks else 0)


if __name__ == "__main__":
    main()
