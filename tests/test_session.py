"""get_spark defaults: host-derived parallelism, DataFrame debugging off
with errors that still name their cause, and the extra_conf escape
hatch. The session policy: applied by get_spark and at the driver
adapter, ``scoped_conf`` overrides, and the one-owner rule for session
conf writes."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.errors import AnalysisException, ArithmeticException
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def _probe_errors(spark) -> tuple[str, str]:
    """Messages of an analysis error (unresolved column) and of a runtime
    error (ANSI division by zero, whose ``== DataFrame ==`` context names
    the Python call site, ``test_session.py:<line>``, only when debugging
    is on)."""
    with pytest.raises(AnalysisException) as analysis:
        spark.range(3).select(F.col("no_such_col") + 1)
    with pytest.raises(ArithmeticException) as runtime:
        spark.range(3).select(F.col("id") / F.lit(0)).collect()
    return str(analysis.value), str(runtime.value)


def test_default_cpus_follow_host_affinity():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c",
         "from gdutils_spark.session import DEFAULT_CPUS; print(DEFAULT_CPUS)"],
        cwd=REPO, env=env, capture_output=True, text=True, check=True,
    ).stdout
    assert int(out) == len(os.sched_getaffinity(0))


def test_driver_heap_default_follows_host_memory(spark, monkeypatch):
    """Half of physical memory or of a smaller cgroup limit, capped at
    24g; the test session got ``SPARK_GRAFT_DRIVER_MEM`` when set, else
    that default."""
    from gdutils_spark import session

    page = 4096

    def host(gib, limit=None):
        pages = (gib << 30) // page
        monkeypatch.setattr(
            session.os, "sysconf",
            lambda k: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[k],
        )
        monkeypatch.setattr(session, "_cgroup_mem_limit", lambda: limit)
        return session.host_driver_mem()

    assert host(15) == "7680m"
    assert host(48) == "24576m"
    assert host(256) == "24576m"
    assert host(15, limit=4 << 30) == "2048m"
    assert host(15, limit=2**63 - 4096) == "7680m"  # v1 "no limit"
    monkeypatch.undo()
    expected = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or session.host_driver_mem()
    assert spark.conf.get("spark.driver.memory") == expected


def test_unresolved_column_error_names_column_with_debugging_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(DEBUG_CONF) == "false"
    assert is_debugging_enabled() is False
    analysis, runtime = _probe_errors(spark)
    assert "UNRESOLVED_COLUMN" in analysis and "`no_such_col`" in analysis
    assert "DIVIDE_BY_ZERO" in runtime
    assert "test_session.py:" not in runtime  # no Python call site


_ON_SCRIPT = f"""
from pyspark.errors.utils import is_debugging_enabled
from gdutils_spark.session import get_spark
from tests.test_session import _probe_errors
spark = get_spark("debug-on", cpus=1, extra_conf={{"{DEBUG_CONF}": "true"}})
analysis, runtime = _probe_errors(spark)
print(is_debugging_enabled(), "`no_such_col`" in analysis,
      "test_session.py:" in runtime)
spark.stop()
"""


def test_extra_conf_turns_debugging_back_on():
    """PySpark reads the conf once per process, so the enabled case runs
    in a fresh interpreter; there a runtime error carries the Python
    call-site context that the default session leaves out."""
    out = subprocess.run(
        [sys.executable, "-c", _ON_SCRIPT],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-3:] == ["True", "True", "True"]


# ---------------------------------------------------------------------------
# Session policy and scoped conf overrides
# ---------------------------------------------------------------------------


def test_get_spark_builds_with_the_policy(spark):
    from gdutils_spark.session import POLICY

    assert {k: spark.conf.get(k) for k in POLICY} == POLICY


# four of the queries that return wrong rows in a non-UTC session without
# the policy (day buckets, event-time windows, typed JSON timestamps)
_DRIVER_QUERIES = (
    "rt_dataset_timeseries",
    "rt_dataset_profiles",
    "rt_json_records_typed",
    "rt_stream_daily_counts",
)

_DRIVER_SCRIPT = """
import sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.session.timeZone", "America/New_York")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as se
from tests.helpers import compare_with_oracle
sf_dir, names = sys.argv[1], sys.argv[2:]
queries, oracle = se.queries(), se.oracle_sql()
for name in names:
    compare_with_oracle(queries[name](spark, sf_dir), oracle[name], sf_dir)
    print("ok", name, flush=True)
spark.stop()
"""


def test_driver_session_gets_the_policy_at_the_adapter(sf_correct, tmp_path):
    """A plain America/New_York session, as the driver builds it, runs
    queries through ``__spark_entry__.queries()`` and gets the oracle's
    rows: the adapter applies the policy, no query pins it itself."""
    env = dict(os.environ, SPARK_GRAFT_RT_TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER_SCRIPT, sf_correct, *_DRIVER_QUERIES],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stdout[-1000:] + out.stderr[-3000:]
    ok = [ln.split()[1] for ln in out.stdout.splitlines() if ln.startswith("ok ")]
    assert ok == list(_DRIVER_QUERIES)


def test_scoped_conf_nests_and_restores(spark):
    from gdutils_spark.session import scoped_conf

    key = "spark.sql.shuffle.partitions"
    start = spark.conf.get(key)
    with scoped_conf(spark, {key: "3"}):
        assert spark.conf.get(key) == "3"
        with scoped_conf(spark, {key: "5"}):
            assert spark.conf.get(key) == "5"
        assert spark.conf.get(key) == "3"
        with pytest.raises(RuntimeError), scoped_conf(spark, {key: "7"}):
            raise RuntimeError("body failed")
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == start


def test_scoped_conf_unsets_a_key_that_was_not_set(spark):
    from gdutils_spark.session import scoped_conf

    key = "spark.sql.files.maxRecordsPerFile"
    assert spark.conf.get(key, None) is None
    with scoped_conf(spark, {key: "7"}):
        assert spark.conf.get(key) == "7"
    assert spark.conf.get(key, None) is None
    assert key not in spark.conf.getAll


def test_interleaved_scopes_in_two_threads_restore_the_start_value(spark):
    """Thread A enters a scope, then thread B tries to while A waits on a
    barrier inside its scope. Without the lock both would be inside at
    once; B would save A's "false" and restore it last, leaving AQE off.
    With the lock B waits, the barrier times out, and the scopes run one
    after the other."""
    import threading

    from gdutils_spark.session import scoped_conf

    key = "spark.sql.adaptive.enabled"
    start = spark.conf.get(key)
    a_inside, a_done = threading.Event(), threading.Event()
    barrier = threading.Barrier(2, timeout=2)
    seen: dict[str, str] = {}
    overlapped: list[bool] = []

    def body(who: str) -> None:
        seen[who] = spark.conf.get(key)
        try:
            barrier.wait()
            overlapped.append(True)
        except threading.BrokenBarrierError:
            pass

    def thread_a() -> None:
        with scoped_conf(spark, {key: "false"}):
            a_inside.set()
            body("a")
        a_done.set()

    def thread_b() -> None:
        a_inside.wait(timeout=30)
        with scoped_conf(spark, {key: "false"}):
            body("b")
            a_done.wait(timeout=30)  # restore after A, the losing order

    threads = [threading.Thread(target=t) for t in (thread_a, thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert spark.conf.get(key) == start
    assert seen == {"a": "false", "b": "false"}
    assert not overlapped


def test_scoped_conf_under_thread_stress(spark):
    """More threads than cores, each nesting scopes with its own values:
    inside a scope a thread always reads what it set, and the key ends at
    its starting value."""
    import threading

    from gdutils_spark.session import scoped_conf

    key = "spark.sql.shuffle.partitions"
    start = spark.conf.get(key)
    wrong: list[tuple[int, str]] = []

    def worker(i: int) -> None:
        for j in range(10):
            outer, inner = str(100 + i), str(200 + j)
            with scoped_conf(spark, {key: outer}):
                with scoped_conf(spark, {key: inner}):
                    if spark.conf.get(key) != inner:
                        wrong.append((i, inner))
                if spark.conf.get(key) != outer:
                    wrong.append((i, outer))

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,))
            for i in range(2 * (os.cpu_count() or 4))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    assert spark.conf.get(key) == start


def test_only_session_py_writes_session_conf():
    """One owner for session conf: outside ``session.py`` the library
    never calls ``conf.set(``/``conf.unset(``. The one exception is the
    ERDDAP Python data source's own filter-pushdown precondition."""
    pkg = os.path.join(REPO, "gdutils_spark")
    found = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, pkg)
            with open(path) as fh:
                for n, line in enumerate(fh, 1):
                    if "conf.set(" in line or "conf.unset(" in line:
                        found.append((rel, n, line.strip()))
    outside = [x for x in found if x[0] != "session.py"]
    assert [(rel, line) for rel, _, line in outside] == [(
        os.path.join("sources", "erddap.py"),
        'spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")',
    )]
    assert any(x[0] == "session.py" for x in found)
