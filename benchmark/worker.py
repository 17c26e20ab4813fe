"""One benchmark run inside a fresh process.

Sets up a session the way a user of the library does, then drives one
workload's requests through ``__spark_entry__.queries()`` in a closed loop:
a cold pass over the mix, then the workload's warm passes. Every
request is checked against its oracle digest outside its timed span, and a
pass's ``wall_s`` is the sum of its requests' timed spans, so neither holds
the client's own checking time (``elapsed_s`` is the whole pass).

Events go to ``--events`` as JSON lines, flushed as they happen, so a run
that dies still leaves its record. ``run.py`` starts this script and turns
the events into metrics; it is not meant to be run by hand.

With ``--trace 1`` the cold pass and every other warm pass are traced:
spans around the registry call, ``load_table``, the forced physical plan
and the collect, plus Spark's status-store counters for the jobs each
request launched. The untraced warm passes in between give the tracing
overhead. Spans are written to ``--spans`` at the end of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from workloads import DATA_DIR, DIGESTS, WORKLOADS, files_under  # noqa: E402

MIN_WARM_PASSES = 2
# executed-plan nodes that hand rows to Python workers (Arrow or pickled)
PYTHON_NODE = re.compile(
    r"\b(?:ArrowEvalPython\w*|BatchEvalPython\w*|\w*InPandas\w*|\w*InArrow\w*)\b"
)


def proc_mb(pid: int | str, field: str) -> float:
    """``VmRSS``/``VmHWM`` of a process in MB, 0.0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Tracer:
    """In-memory spans plus per-request Spark counters.

    Jobs are attributed to a span by job-id range: the client is a single
    closed loop, so every job submitted between a span's start and end
    belongs to it, including jobs that operators launch from their own
    thread pools (those threads do not inherit a job group).
    """

    def __init__(self, spark):
        self.gateway = spark.sparkContext._gateway
        self.jsc = spark.sparkContext._jsc.sc()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.active = False

    def next_job(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self.stack[-1]["id"] if self.stack else None,
            "name": name,
            **attrs,
            "start": time.perf_counter(),
            "job0": self.next_job(),
        }
        self.spans.append(rec)
        self.stack.append(rec)
        try:
            yield rec
        finally:
            self.stack.pop()
            rec["end"] = time.perf_counter()
            rec["jobs"] = self.next_job() - rec["job0"]

    def patch_load_table(self) -> None:
        """Wrap ``sources.tables.load_table`` wherever the library bound it."""
        from gdutils_spark.sources import tables

        orig = tables.load_table

        def load_table(spark, sf_dir, name):
            with self.span("load_table", table=name):
                return orig(spark, sf_dir, name)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("gdutils_spark") and (
                getattr(mod, "load_table", None) is orig
            ):
                mod.load_table = load_table

    def stage_counters(self, job0: int, job1: int) -> dict:
        """Status-store totals over the stages of jobs ``[job0, job1)``."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        stage_ids: set[int] = set()
        for j in range(job0, job1):
            ids = store.job(j).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        quantiles = self.gateway.new_array(self.gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        c = dict(
            jobs=job1 - job0, stages=0, tasks=0, run_s=0.0, cpu_s=0.0,
            shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0,
            task_skew=1.0,
        )
        for sid in sorted(stage_ids):
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks()
            c["run_s"] += sd.executorRunTime() / 1e3
            c["cpu_s"] += sd.executorCpuTime() / 1e9
            c["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            if sd.numCompleteTasks() >= 2:
                summary = store.taskSummary(sid, sd.attemptId(), quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    med, top = run.apply(0), run.apply(1)
                    if med > 0:
                        c["task_skew"] = max(c["task_skew"], top / med)
        return c


def plan_facts(qe) -> dict:
    """Planning-phase times and Python eval nodes of an executed query."""
    phases = qe.tracker().phases()
    facts = {}
    for phase in ("analysis", "optimization", "planning"):
        o = phases.get(phase)
        facts[f"{phase}_s"] = o.get().durationMs() / 1e3 if o.isDefined() else 0.0
    facts["python_nodes"] = len(PYTHON_NODE.findall(qe.executedPlan().toString()))
    return facts


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--events", required=True)
    ap.add_argument("--spans")
    args = ap.parse_args()
    with open(args.events, "a", buffering=1) as events:
        run(args, lambda **kw: events.write(json.dumps(kw) + "\n"))


def run(args, emit) -> None:
    """Set up, run the cold and warm passes, and log events through ``emit``."""
    t_import = time.perf_counter()
    import __spark_entry__ as se
    from gdutils_spark.session import get_spark
    from gdutils_spark.sources.tables import load_table
    from oracle import digest

    with open(DIGESTS) as f:
        expected = {k: v["digest"] for k, v in json.load(f).items()}
    queries = se.queries()
    workload = WORKLOADS[args.workload]
    mix = workload.requests

    t_session = time.perf_counter()
    spark = get_spark()
    t_tables = time.perf_counter()
    # registering a table reads its parquet footers in a Spark job, which
    # also warms the reader path every request goes through
    for name in workload.tables:
        load_table(spark, DATA_DIR, name).createOrReplaceTempView(name)
    jvm = spark.sparkContext._gateway.proc
    emit(ev="ready", wall=time.time(), import_s=t_session - t_import,
         session_s=t_tables - t_session, tables_s=time.perf_counter() - t_tables)

    tracer = Tracer(spark)
    if args.trace:
        tracer.patch_load_table()
    scratch = os.environ.get("SPARK_GRAFT_RT_TMPDIR", "")
    rng = random.Random(f"{args.workload}:{args.seed}")
    start = time.perf_counter()
    traced_reqs: list[dict] = []
    for n_pass in range(1 + workload.warm_passes):
        # every run does the same passes; only on a host running at under
        # half the planned speed does the window cut warm passes short
        if n_pass > MIN_WARM_PASSES and time.perf_counter() - start >= 2 * args.seconds:
            break
        # traced runs trace the cold pass and every other warm pass; the
        # untraced warm passes in between give the tracing overhead
        traced = bool(args.trace) and (n_pass == 0 or n_pass % 2 == 1)
        tracer.active = traced
        # the cold pass runs in the mix's own order, so its total does not
        # depend on which request happens to pay the first-use costs
        order = rng.sample(mix, len(mix)) if n_pass else list(mix)
        emit(ev="pass_start", n=n_pass, order=order, traced=traced)
        p0 = time.perf_counter()
        busy = 0.0  # the requests' own timed spans, without the client's checks
        for name in order:
            rec = dict(ev="req", n=n_pass, name=name, traced=traced)
            wall0 = time.time()
            r0 = time.perf_counter()
            try:
                with tracer.span("request", request=name, n=n_pass) as span:
                    with tracer.span("construct"):
                        df = queries[name](spark, DATA_DIR)
                    r1 = time.perf_counter()
                    if traced:
                        with tracer.span("plan"):
                            qe = df._jdf.queryExecution()
                            qe.executedPlan()
                    r2 = time.perf_counter()
                    with tracer.span("collect"):
                        pdf = df.toPandas()
                r3 = time.perf_counter()
                rec.update(wall_s=r3 - r0, construct_s=r1 - r0, plan_s=r2 - r1,
                           collect_s=r3 - r2)
                got = digest(pdf)
                rec["ok"] = got == expected[name]
                if not rec["ok"]:
                    rec["error"] = f"digest {got[:12]} != oracle {expected[name][:12]}"
                if traced:
                    rec["counters"] = tracer.stage_counters(span["job0"], tracer.next_job())
                    rec["counters"].update(plan_facts(qe))
                    kids = [s for s in tracer.spans[span["id"]:] if s["parent"] == span["id"]]
                    rec["construct_jobs"] = kids[0]["jobs"]
                    loads = [s for s in tracer.spans[span["id"]:] if s["name"] == "load_table"]
                    rec["load_s"] = sum(s["end"] - s["start"] for s in loads)
                    rec["load_jobs"] = sum(s["jobs"] for s in loads)
                    rec["sink_bytes"], rec["sink_files"] = files_under(scratch, wall0)
            except Exception as exc:  # the request failed; the run goes on
                rec.update(ok=False, wall_s=time.perf_counter() - r0,
                           error=f"{type(exc).__name__}: {str(exc)[:300]}")
            busy += rec["wall_s"]
            rec["rss_mb"] = proc_mb(jvm.pid, "VmRSS") + proc_mb("self", "VmRSS")
            emit(**rec)
            if traced and rec["ok"]:
                traced_reqs.append(rec)
            if jvm.poll() is not None:
                emit(ev="jvm_dead", n=n_pass)
                return
        emit(ev="pass", n=n_pass, wall_s=busy, elapsed_s=time.perf_counter() - p0,
             traced=traced)

    emit(ev="end", jvm_hwm_mb=proc_mb(jvm.pid, "VmHWM"),
         driver_hwm_mb=proc_mb("self", "VmHWM"))
    if args.trace and args.spans:
        with open(args.spans, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": tracer.spans, "requests": traced_reqs}, f)
    spark.stop()


if __name__ == "__main__":
    main()
