"""Benchmark entry point: one run of one workload in a fresh process.

Usage, from the repository root:

    python3 benchmark/run.py --workload glider_requests --seed 1 --seconds 28 --trace 0

Starts ``worker.py`` in its own process group with the library's defaults
(``SPARK_GRAFT_CPUS`` = usable cores, no driver-memory override) and every
scratch path inside ``.bench_run/`` of the checkout. It prints one line per
metric with its unit and sample count, the per-request output check, and
as the last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). The traced run also writes its spans to
``.bench_traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import DATA_DIR, DIGESTS, WORKLOADS, files_under  # noqa: E402

# the worker is stopped after this long, so the run ends inside 180 s
HARD_LIMIT_S = 150.0
# req_tail_s is the highest order statistic with this many samples above it
TAIL_BEYOND = 10


def stop_group(proc: subprocess.Popen) -> None:
    """Stop every process in the worker's group and wait until they end."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while time.monotonic() < end:
            proc.poll()  # reap the worker, or its zombie keeps the group alive
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def read_events(path: str) -> list[dict]:
    out = []
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                try:
                    out.append(json.loads(line))
                except json.JSONDecodeError:  # the last line of a killed run
                    pass
    return out


def tail_value(reqs: list[dict]) -> tuple[float, str]:
    """``req_tail_s`` and how it was taken.

    With at least ``4 * TAIL_BEYOND`` samples it is the highest order
    statistic with ``TAIL_BEYOND`` samples above it, at p75 or higher. With
    fewer, that statistic would sit at or near the median, so it is the
    median latency of the slowest request of the mix instead.
    """
    s = sorted(r["wall_s"] for r in reqs)
    if len(s) >= 4 * TAIL_BEYOND:
        i = len(s) - 1 - TAIL_BEYOND
        return s[i], f"p{100 * (i + 1) / len(s):.0f}"
    by_name: dict[str, list[float]] = {}
    for r in reqs:
        by_name.setdefault(r["name"], []).append(r["wall_s"])
    name, walls = max(by_name.items(), key=lambda kv: statistics.median(kv[1]))
    return statistics.median(walls), f"median of the slowest request, {name}"


def per_pass(reqs: list[dict], key) -> float:
    """Median over passes of a per-pass sum."""
    sums: dict[int, float] = {}
    for r in reqs:
        sums[r["n"]] = sums.get(r["n"], 0.0) + key(r)
    return statistics.median(sums.values())


def layer_metrics(events: list[dict], ready: dict, peak_mb: float, leaked_mb: float,
                  cores: int) -> dict:
    """``{name: (value, unit)}`` of the per-layer metrics of a traced run."""
    passes = [e for e in events if e["ev"] == "pass" and e["n"] >= 1]
    traced = [e for e in events if e["ev"] == "req" and e["n"] >= 1 and e["traced"]
              and e["ok"]]
    if not traced:
        return {}
    pass_wall = statistics.median(p["wall_s"] for p in passes if p["traced"])
    # the overhead compares whole passes, so it includes collecting the counters
    traced_elapsed = [p["elapsed_s"] for p in passes if p["traced"]]
    plain_elapsed = [p["elapsed_s"] for p in passes if not p["traced"]]

    def c(key):
        return per_pass(traced, lambda r: r["counters"][key])

    def share(x):
        return x / pass_wall

    m = {
        "session.start_s": (ready["session_s"], "s"),
        "sources.load_s": (per_pass(traced, lambda r: r["load_s"]), "s"),
        "sources.load_jobs": (per_pass(traced, lambda r: r["load_jobs"]), "count"),
        "plans.plan_s": (per_pass(traced, lambda r: r["plan_s"]), "s"),
        "plans.analysis_s": (c("analysis_s"), "s"),
        "plans.optimization_s": (c("optimization_s"), "s"),
        "plans.planning_s": (c("planning_s"), "s"),
        "operators.construct_s": (per_pass(traced, lambda r: r["construct_s"]), "s"),
        "operators.construct_jobs": (per_pass(traced, lambda r: r["construct_jobs"]), "count"),
        "operators.exec_s": (per_pass(traced, lambda r: r["collect_s"]), "s"),
        "operators.jobs": (c("jobs"), "count"),
        "operators.stages": (c("stages"), "count"),
        "operators.tasks": (c("tasks"), "count"),
        "operators.run_s": (c("run_s"), "s"),
        "operators.cpu_s": (c("cpu_s"), "s"),
        "operators.busy_share": (c("run_s") / (pass_wall * cores), "share"),
        "operators.shuffle_read_mb": (c("shuffle_read_mb"), "MB"),
        "operators.shuffle_write_mb": (c("shuffle_write_mb"), "MB"),
        "operators.spill_mb": (c("spill_mb"), "MB"),
        "operators.task_skew": (
            statistics.median(r["counters"]["task_skew"] for r in traced), "ratio"),
        "operators.python_nodes": (c("python_nodes"), "count"),
        "sinks.bytes_written": (per_pass(traced, lambda r: r["sink_bytes"]), "bytes"),
        "sinks.files_written": (per_pass(traced, lambda r: r["sink_files"]), "count"),
        "jvm.rss_mb": (statistics.median(e["rss_mb"] for e in events if e["ev"] == "req"),
                       "MB"),
        "jvm.peak_rss_mb": (peak_mb, "MB"),
        "scratch.leaked_mb": (leaked_mb, "MB"),
    }
    load = m["sources.load_s"][0]
    m["layer.load_share"] = (share(load), "share")
    m["layer.construct_share"] = (share(m["operators.construct_s"][0] - load), "share")
    m["layer.plan_share"] = (share(m["plans.plan_s"][0]), "share")
    m["layer.collect_share"] = (share(m["operators.exec_s"][0]), "share")
    if plain_elapsed:
        m["trace.overhead_s"] = (
            statistics.median(traced_elapsed) - statistics.median(plain_elapsed), "s")
    return m


def start_worker(args, run_dir: str, cores: int) -> list[dict]:
    """Run ``worker.py`` in its own process group and return its events.

    Every scratch path of the run (library round-trip scratch, temp files,
    Spark local dirs, the JVM's temp dir) points under ``run_dir``.
    """
    scratch = os.path.join(run_dir, "scratch")
    tmp, rt, local = (os.path.join(scratch, d) for d in ("tmp", "rt", "local"))
    for d in (tmp, rt, local):
        os.makedirs(d, exist_ok=True)
    events_path = os.path.join(run_dir, "events.jsonl")
    log_path = os.path.join(run_dir, "worker.log")
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_RT_TMPDIR=rt,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--events", events_path, "--spans", spans_path(args),
    ]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=HARD_LIMIT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            stop_group(proc)
            proc.wait()
    events = read_events(events_path)
    if not any(e["ev"] == "ready" for e in events):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
    return events


def spans_path(args) -> str:
    return os.path.join(ROOT, ".bench_traces", f"{args.workload}-seed{args.seed}.json")


def end_to_end(events: list[dict], spawn: float, mix: int) -> dict:
    """``{name: (value, unit, samples, note)}`` from one run's events; warm
    figures use untraced passes only."""
    ready = next(e for e in events if e["ev"] == "ready")
    passes = [e for e in events if e["ev"] == "pass"]
    cold = [p["wall_s"] for p in passes if p["n"] == 0]
    warm_passes = [p["wall_s"] for p in passes if p["n"] >= 1 and not p["traced"]]
    warm = [e for e in events
            if e["ev"] == "req" and e["n"] >= 1 and not e["traced"] and e["ok"]]
    m = {"setup_s": (ready["wall"] - spawn, "s", 1, "")}
    if cold:
        m["cold_pass_s"] = (cold[0], "s", mix, "requests")
    if warm_passes:
        m["pass_s"] = (statistics.median(warm_passes), "s", len(warm_passes), "passes")
    if warm:
        m["req_p50_s"] = (statistics.median(r["wall_s"] for r in warm), "s", len(warm),
                          "requests")
        tail, rank = tail_value(warm)
        m["req_tail_s"] = (tail, "s", len(warm), f"requests, {rank}")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("__spark_entry__.py", "gdutils_spark/__init__.py", DATA_DIR, DIGESTS):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"benchmark: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    # a terminated run still stops its worker group (``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spawn = time.time()
    cores = len(os.sched_getaffinity(0))
    mix = WORKLOADS[args.workload].requests
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    if args.trace:
        os.makedirs(os.path.dirname(spans_path(args)), exist_ok=True)
    try:
        events = start_worker(args, run_dir, cores)
        leaked_bytes, leaked_files = files_under(os.path.join(run_dir, "scratch"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    ready = next((e for e in events if e["ev"] == "ready"), None)
    if ready is None:
        print("benchmark: the worker died before its session was ready", file=sys.stderr)
        return 1

    reqs = [e for e in events if e["ev"] == "req"]
    failed_reqs = [r for r in reqs if not r["ok"]]
    end = next((e for e in events if e["ev"] == "end"), None)
    lost = 0
    if end is None:
        # killed mid-run: the request in flight and the rest of its pass fail
        started = [e for e in events if e["ev"] == "pass_start"]
        done = sum(1 for r in reqs if started and r["n"] == started[-1]["n"])
        lost = (len(started[-1]["order"]) if started else len(mix)) - done
    attempted = len(reqs) + lost
    failed = len(failed_reqs) + lost
    passes = [e for e in events if e["ev"] == "pass"]
    metrics = end_to_end(events, spawn, len(mix))
    peak_mb = (end["jvm_hwm_mb"] + end["driver_hwm_mb"]) if end else max(
        (r["rss_mb"] for r in reqs), default=0.0)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} cores {cores} "
          f"passes {len(passes)} (1 cold, {max(len(passes) - 1, 0)} warm)")
    for name, (value, unit, n, note) in metrics.items():
        print(f"  {name:<16} {value:10.4f} {unit:<2} n={n} {note}")
    print(f"  failed_ops_share {failed / attempted:.4f} ({failed} of {attempted} operations)")
    print(f"  peak rss         {peak_mb:10.1f} MB (JVM + driver VmHWM)")
    print("  set-up split: " + ", ".join(
        f"{k[:-2]} {ready[k]:.2f} s" for k in ("import_s", "session_s", "tables_s")))
    print(f"  scratch left behind: {leaked_bytes / 2**20:.3f} MB in {leaked_files} files")
    checked: dict[str, list[int]] = {}
    for r in reqs:
        checked.setdefault(r["name"], [0, 0])[0 if r["ok"] else 1] += 1
    for name, (ok, bad) in sorted(checked.items()):
        mark = "ok " if not bad else "BAD"
        print(f"  check {mark} {name}: {ok} matched the oracle digest, {bad} failed")
    for r in failed_reqs[:10]:
        print(f"  failure {r['name']} pass {r['n']}: {r.get('error', '')}")
    if lost:
        print(f"  the worker died mid-run: {lost} operations counted as failed")

    if args.trace:
        out = layer_metrics(events, ready, peak_mb, leaked_bytes / 2**20, cores)
        stream = [r["construct_s"] for r in reqs if r["traced"] and r["n"] >= 1
                  and r["name"].startswith("rt_stream_")]
        print(f"  streaming construct (traced warm passes): {sum(stream):.4f} s "
              f"over {len(stream)} drains")
        for name, (value, unit) in out.items():
            print(f"  {name:<26} {value:12.4f} {unit}")
    else:
        out = {k: (v[0], v[1]) for k, v in metrics.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
