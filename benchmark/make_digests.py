"""Regenerate ``digests.json``: the expected result of every benchmark
request, computed once from the registry's DuckDB oracle SQL on the
benchmark inputs.

Usage (from the repository root; needs ``duckdb``):
    python3 benchmark/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

from gdutils_spark.queries import ORACLE  # noqa: E402
from oracle import digest  # noqa: E402
from workloads import DATA_DIR, DIGESTS, WORKLOADS  # noqa: E402


def main() -> None:
    con = duckdb.connect()
    for fn in sorted(os.listdir(DATA_DIR)):
        path = os.path.join(DATA_DIR, fn)
        con.execute(f"CREATE VIEW {fn.split('.')[0]} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name in sorted({n for w in WORKLOADS.values() for n in w.requests}):
        df = con.sql(ORACLE[name]).df()
        out[name] = {"rows": len(df), "digest": digest(df)}
        print(f"{name}: {len(df)} rows", flush=True)
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
