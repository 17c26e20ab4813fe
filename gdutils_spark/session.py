"""SparkSession factory with scale-aware defaults, and the one owner of
session conf.

The reference (kerfoot/gdutils) is an eager single-threaded pandas client
with no execution engine at all; this module is where our engine picks the
Spark runtime knobs the reference never had:

* AQE on (runtime re-planning, skew-join handling, partition coalescing) —
  at 100 TB the static plan is always wrong somewhere.
* ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster AQE coalescing makes the initial number less critical.
* The session policy (:data:`POLICY`, below), which every query needs to
  return the oracle's rows.
* Arrow enabled for any pandas-interchange path (Pandas UDFs, toPandas).
* DataFrame debugging off (``spark.python.sql.dataFrameDebugging.enabled
  =false``). With it on, PySpark 4.1 records the Python call site of every
  Column call (a stack walk plus several JVM round trips), most of a short
  request's Py4J traffic. Errors then lack the ``== DataFrame ==`` call
  site but still name their cause. PySpark reads the flag once per
  process, so callers who want call sites pass it in ``extra_conf``.
* ``local[N]`` with N from ``SPARK_GRAFT_CPUS``, else the CPUs this
  process may run on (``os.sched_getaffinity``).
* Driver heap from ``SPARK_GRAFT_DRIVER_MEM``, else half the memory
  this process may use, at most 24g (:func:`host_driver_mem`): the
  host's physical memory, or the cgroup memory limit when that is
  smaller. In local mode
  the driver JVM is the whole cluster; the other half is left to the
  Python workers (Arrow batches, pandas UDFs), the JIT code cache and
  the page cache. A fixed 24g default promised more heap than a 15 GB
  host has.

Session policy (:data:`POLICY`): three runtime SQL confs that change what
a query returns or how it plans.

* ``session.timeZone=UTC`` — the reference mixes naive and UTC timestamps
  (``gdutils/apis/status.py:39`` vs ``gdutils/apis/dac.py:44``); the
  engine standardizes on UTC (SURVEY.md §7 trap 7), so date parts,
  event-time windows and the loader's NTZ cast match DuckDB's naive
  timestamps.
* ``legacy.parquet.nanosAsLong=true`` — a TIMESTAMP(NANOS) column reads as
  the bigint that ``sources.tables.load_table`` converts; without it Spark
  refuses the column.
* ``optimizer.canChangeCachedPlanOutputPartitioning=true`` — AQE may
  coalesce the near-empty stages after a cached intermediate instead of
  keeping its shuffle width (minhash_lsh_pairs at sf0.01: 24 s → 2 s).

:func:`get_spark` builds with the policy; :func:`apply_policy` sets it on
a session the library did not build, once per request at the
``__spark_entry__`` adapter. Nothing else writes these confs.

:func:`scoped_conf` is the one way to override a conf for one eager step.
It holds a process-wide lock for the whole scope, so code inside a scope
must not wait on another thread that enters a scope.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)

_MAX_DRIVER_MEM_MB = 24 << 10

# cgroup v2, then v1; "max" (v2) or a near-2**63 value (v1) means no limit
_CGROUP_MEM_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _cgroup_mem_limit() -> int | None:
    for path in _CGROUP_MEM_LIMITS:
        try:
            with open(path) as f:
                return int(f.read())
        except (OSError, ValueError):
            continue
    return None


def host_driver_mem() -> str:
    """Default driver heap: half the memory this process may use (the
    host's physical memory, or the cgroup memory limit when smaller), at
    most 24g, as a JVM size in MiB (``"8192m"`` on a 16 GiB host)."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    limit = _cgroup_mem_limit()
    if limit is not None:
        mem = min(mem, limit)
    return f"{min(mem // 2 >> 20, _MAX_DRIVER_MEM_MB)}m"


POLICY: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}

_CONF_LOCK = threading.RLock()


def apply_policy(spark: SparkSession) -> None:
    """Set :data:`POLICY` on a session the library did not build."""
    for k, v in POLICY.items():
        spark.conf.set(k, v)


@contextmanager
def scoped_conf(spark: SparkSession, overrides: dict[str, str]) -> Iterator[None]:
    """Run the body with ``overrides`` set on ``spark``'s conf, holding one
    process-wide re-entrant lock from entry to exit; on exit each key gets
    back its value, or is unset if it had none. Code inside a scope must
    not wait on another thread that enters a scope (that thread waits on
    this scope's lock). Scopes nest within one thread.
    """
    with _CONF_LOCK:
        saved = {k: spark.conf.get(k, None) for k in overrides}
        try:
            for k, v in overrides.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def get_spark(
    app_name: str = "gdutils-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    In production this engine runs on a multi-executor cluster; locally we
    emulate parallelism with ``local[N]`` threads. Every query is written
    against the DataFrame API so the same plan scales to 1000 executors.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_mem(),
        )
        # bench/driver sessions compile hundreds of whole-stage-codegen
        # classes in one JVM; the 240m default JIT code cache can fill,
        # which silently disables compilation and drops hot expression
        # trees into interpreted eval
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m")
        .config("spark.ui.enabled", "false")
        # per-call stack capture; see the module docstring
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # guide §3.1: AQE may turn a sort-merge join into shuffled-hash
        # at runtime when every measured build partition is under 64 MB.
        # ``preferSortMergeJoin`` stays true: planning SHJ from optimizer
        # estimates risks an unspillable build-side OOM under skew, and
        # its measured gain was within noise.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # Python data sources (sources/erddap.py) receive Catalyst filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k, v in {**POLICY, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
