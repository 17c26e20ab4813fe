"""Say which per-request counters repeat exactly across traced runs.

Usage, from the repository root, after two or more traced runs:

    python3 benchmark/compare_traces.py .bench_traces/corpus_pipeline-seed1.json \
        .bench_traces/corpus_pipeline-seed2.json [--out report.json]

For every request and counter it pools the warm traced samples of all the
files given and marks the counter ``exact`` when every sample agrees, or
gives the min, max and relative spread. Cold-pass samples are compared on
their own, because first executions do extra work.
"""

from __future__ import annotations

import argparse
import json

COUNTERS = ("jobs", "stages", "tasks", "python_nodes")
REQUEST_COUNTS = ("construct_jobs", "load_jobs", "sink_files")


def samples(paths: list[str]) -> dict[tuple[str, str], dict[str, list[float]]]:
    """``{(phase, request): {counter: [values]}}`` over all files."""
    out: dict[tuple[str, str], dict[str, list[float]]] = {}
    for path in paths:
        with open(path) as f:
            for r in json.load(f)["requests"]:
                phase = "cold" if r["n"] == 0 else "warm"
                vals = out.setdefault((phase, r["name"]), {})
                for k in COUNTERS:
                    vals.setdefault(k, []).append(r["counters"][k])
                for k in REQUEST_COUNTS:
                    vals.setdefault(k, []).append(r[k])
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("traces", nargs="+")
    ap.add_argument("--out")
    args = ap.parse_args()

    report = []
    for (phase, name), counters in sorted(samples(args.traces).items()):
        for counter, values in counters.items():
            lo, hi = min(values), max(values)
            row = {"phase": phase, "request": name, "counter": counter,
                   "samples": len(values), "exact": lo == hi}
            if lo != hi:
                row.update(min=lo, max=hi, spread=(hi - lo) / hi)
            report.append(row)
            shown = f"{lo:g}" if lo == hi else f"{lo:g}..{hi:g}"
            print(f"{phase:<4} {name:<28} {counter:<15} n={len(values):<3} "
                  f"{'exact' if lo == hi else 'VARIES'} {shown}")
    n_exact = sum(r["exact"] for r in report)
    print(f"{n_exact} of {len(report)} request counters repeat exactly")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"traces": args.traces, "counters": report}, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
