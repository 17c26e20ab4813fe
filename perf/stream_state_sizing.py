"""Time every streaming registry query (``rt_stream_*``) at several
shuffle (state-store) partition counts, and check that the count does
not change any query's rows.

For each count the session's ``spark.sql.shuffle.partitions`` is set to
it and ``tables._ONE_PARTITION_MAX_BYTES`` to 1, so the size rule of
``queries_rt._start_state_sized`` asks for more partitions than the
session allows and every stateful stream runs at the count; the sketch
queries, which size nothing, run at the session's width. One untimed
pass warms every query first; each timed rep then runs every query at
every count, the count order alternating from rep to rep. A run is the
query call plus a collect of its rows.

    python3 perf/stream_state_sizing.py [--sf DIR] [--reps N] [--counts 1,2,4,8] [name ...]

One JSON line per timed run (``query``, ``partitions``, ``rep``, ``s``,
``digest``), then a median table per query on stderr. Exits 1 if a
query's digest differs between counts.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gdutils_spark.queries_rt import RT_QUERIES  # noqa: E402
from gdutils_spark.session import get_spark  # noqa: E402
from gdutils_spark.sources import tables  # noqa: E402


def _run(spark, fn, sf_dir: str, partitions: int) -> tuple[float, str]:
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    t0 = time.perf_counter()
    rows = fn(spark, sf_dir).collect()
    s = time.perf_counter() - t0
    digest = hashlib.md5("\n".join(sorted(map(repr, rows))).encode()).hexdigest()
    return s, digest


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--counts", default="1,2,4,8")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or sorted(n for n in RT_QUERIES if n.startswith("rt_stream_"))
    counts = [int(c) for c in args.counts.split(",")]

    spark = get_spark("stream-state-sizing")
    spark.sparkContext.setLogLevel("ERROR")
    width = spark.conf.get("spark.sql.shuffle.partitions")
    tables._ONE_PARTITION_MAX_BYTES = 1
    times: dict[tuple[str, int], list[float]] = {}
    digests: dict[str, set[str]] = {}
    try:
        for name in names:
            _run(spark, RT_QUERIES[name], args.sf, counts[0])
        for rep in range(args.reps):
            for p in counts if rep % 2 == 0 else counts[::-1]:
                for name in names:
                    s, digest = _run(spark, RT_QUERIES[name], args.sf, p)
                    times.setdefault((name, p), []).append(s)
                    digests.setdefault(name, set()).add(digest)
                    print(json.dumps({"query": name, "partitions": p, "rep": rep,
                                      "s": round(s, 4), "digest": digest}),
                          flush=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)

    print("| query | " + " | ".join(f"{p} s" for p in counts) + " |", file=sys.stderr)
    print("|---" * (len(counts) + 1) + "|", file=sys.stderr)
    for name in names:
        med = [statistics.median(times[name, p]) for p in counts]
        print(f"| {name} | " + " | ".join(f"{m:.3f}" for m in med) + " |",
              file=sys.stderr)
    unequal = sorted(n for n, d in digests.items() if len(d) > 1)
    if unequal:
        print(f"digests differ between counts: {unequal}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
