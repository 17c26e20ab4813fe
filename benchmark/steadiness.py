"""Run workloads under several seeds and report each metric's spread.

Usage, from the repository root:

    python3 benchmark/steadiness.py --workloads glider_requests,stream_ingest \
        --seeds 1-10 [--seconds 28] [--out benchmark/results/steadiness_{workload}.json]

Runs go round-robin over the workloads, seed by seed, so a stretch of a
slow host falls on several workloads instead of on consecutive runs of one.
The spread of a metric is the distance between the first and third
quartile of its values (``statistics.quantiles(values, n=4)``) as a share
of their median: the figure that decides whether two sets of runs of the
same code can be told apart.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, check=True,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    result["seed"], result["wall_s"] = seed, time.time() - t
    print(f"{workload} seed {seed}: {result['wall_s']:.1f} s, correct {result['correct']}, "
          + ", ".join(f"{k} {v['value']:.4g}" for k, v in result["metrics"].items()),
          flush=True)
    return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True, help="comma-separated workload names")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=28)
    ap.add_argument("--out", help="output path, with {workload} in it")
    args = ap.parse_args()

    workloads = args.workloads.split(",")
    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for seed in seeds(args.seeds):
        for w in workloads:
            runs[w].append(run_once(w, seed, args.seconds))

    for w in workloads:
        summary = {}
        print(w)
        for name in runs[w][0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in runs[w]]
            summary[name] = {"median": statistics.median(values), "spread": spread(values)}
            print(f"  {name:<24} median {summary[name]['median']:12.4f}  "
                  f"spread {summary[name]['spread']:.4f}")
        walls = [r["wall_s"] for r in runs[w]]
        print(f"  run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        if args.out:
            with open(args.out.format(workload=w), "w") as f:
                json.dump({"workload": w, "seconds": args.seconds,
                           "runs": runs[w], "summary": summary}, f, indent=1)
                f.write("\n")


if __name__ == "__main__":
    main()
