"""Alternating parent/change runs of ``benchmark/run.py``, and their table.

Run the pairs (each seed runs both sides, the side that goes first
alternating from seed to seed; one JSON line per run is appended to OUT)::

    python perf/pairs.py run --parent PARENT_DIR --change CHANGE_DIR \\
        --workload glider_requests --seeds 1-10 --out runs.jsonl

Print the table of a JSONL of such runs::

    python perf/pairs.py table runs.jsonl

Each line of the JSONL holds ``workload``, ``side`` (``parent`` or
``change``), ``seed`` and the last line of ``benchmark/run.py --trace 0``
(``correct``, ``attempted``, ``failed``, ``metrics``). For each workload
and metric the table gives each side's median and quartiles
(``statistics.quantiles(n=4, method="inclusive")``), the change/parent
ratio of the medians, the pairs won (a pair is one seed run on both
sides; it is won when the change's value is better) and whether the
medians differ by more than the parent's quartile spread (``q3 - q1``).
Every metric of ``benchmark/run.py`` is lower-is-better. Runs that were
not correct or had failed requests are counted in the header line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from collections import defaultdict

METRICS = ("setup_s", "cold_pass_s", "pass_s", "req_p50_s", "req_tail_s")


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(args: argparse.Namespace) -> None:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    for i, seed in enumerate(_seeds(args.seeds)):
        sides = [("parent", args.parent), ("change", args.change)]
        for side, root in sides if i % 2 == 0 else sides[::-1]:
            proc = subprocess.run(
                [sys.executable, "benchmark/run.py", "--workload", args.workload,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", "0"],
                cwd=root, env=env, capture_output=True, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            try:
                last = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                last = {"correct": False, "failed": None, "metrics": {},
                        "error": proc.stderr[-500:]}
            # run.py reports each metric as {"value": v, "unit": u}
            last["metrics"] = {
                k: m["value"] if isinstance(m, dict) else m
                for k, m in last.get("metrics", {}).items()
            }
            rec = {"workload": args.workload, "side": side, "seed": seed, **last}
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(side, seed, {k: round(v, 3) for k, v in
                               rec.get("metrics", {}).items() if k in METRICS},
                  flush=True)


def table(path: str) -> str:
    runs: dict[str, dict[str, dict[int, dict]]] = defaultdict(
        lambda: {"parent": {}, "change": {}}
    )
    bad = defaultdict(int)
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            r = json.loads(line)
            runs[r["workload"]][r["side"]][r["seed"]] = r
            if not r.get("correct") or r.get("failed"):
                bad[r["workload"]] += 1
    out = []
    for workload in sorted(runs):
        sides = runs[workload]
        seeds = sorted(set(sides["parent"]) & set(sides["change"]))
        out.append(
            f"\n{workload}: {len(seeds)} pairs, "
            f"{bad[workload]} runs not correct or with failed requests\n"
        )
        out.append("| metric | parent median [q1, q3] | change median [q1, q3] "
                   "| change / parent | pairs won | beyond parent spread |")
        out.append("|---|---|---|---|---|---|")
        for m in METRICS:
            vals = {
                side: [sides[side][s]["metrics"][m] for s in seeds
                       if m in sides[side][s].get("metrics", {})]
                for side in ("parent", "change")
            }
            if not vals["parent"] or not vals["change"]:
                continue
            pq1, pmed, pq3 = _quartiles(vals["parent"])
            cq1, cmed, cq3 = _quartiles(vals["change"])
            won = sum(
                sides["change"][s]["metrics"][m] < sides["parent"][s]["metrics"][m]
                for s in seeds
            )
            beyond = abs(pmed - cmed) > pq3 - pq1
            sign = "better" if cmed < pmed else "worse"
            out.append(
                f"| {m} | {pmed:.3f} [{pq1:.3f}, {pq3:.3f}] "
                f"| {cmed:.3f} [{cq1:.3f}, {cq3:.3f}] | {cmed / pmed:.2f} "
                f"| {won}/{len(seeds)} | {f'yes ({sign})' if beyond else 'no'} |"
            )
    return "\n".join(out).lstrip("\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run alternating pairs, append to OUT")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7-9")
    r.add_argument("--seconds", type=int, default=28)
    r.add_argument("--out", required=True)
    t = sub.add_parser("table", help="print the table of a runs JSONL")
    t.add_argument("path")
    args = ap.parse_args()
    if args.cmd == "run":
        run(args)
    else:
        print(table(args.path))


if __name__ == "__main__":
    main()
