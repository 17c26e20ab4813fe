"""SparkSession factory with scale-aware defaults.

The reference (kerfoot/gdutils) is an eager single-threaded pandas client
with no execution engine at all; this module is where our engine picks the
Spark runtime knobs the reference never had:

* AQE on (runtime re-planning, skew-join handling, partition coalescing) —
  at 100 TB the static plan is always wrong somewhere.
* ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster AQE coalescing makes the initial number less critical.
* UTC session timezone — the reference mixes naive and UTC timestamps
  (``/root/reference/gdutils/apis/status.py:39`` vs
  ``/root/reference/gdutils/apis/dac.py:44``); we standardize on UTC
  (SURVEY.md §7 trap 7).
* Arrow enabled for any pandas-interchange path (Pandas UDFs, toPandas).
* DataFrame debugging off (``spark.python.sql.dataFrameDebugging.enabled
  =false``). With it on, PySpark 4.1 wraps every ``pyspark.sql.functions``
  and Column call to record its Python call site: an ``inspect`` stack walk
  plus several JVM round trips (active-session lookup, JVM class lookup,
  ``conf.get``, origin set/clear) per call. A short request builds
  hundreds of Column expressions, so this was most of its Py4J traffic.
  The trade-off: errors no longer carry the ``== DataFrame ==`` call-site
  context. They still name the cause, e.g. an unresolved column's
  ``AnalysisException`` names the column. Callers who want the context
  pass ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
  "true"}``. PySpark reads this conf once per process, from the first
  active session that asks, so it must be set when the session is built.
  Sessions the caller builds itself are not touched.
* ``local[N]`` with N from ``SPARK_GRAFT_CPUS``, else the CPUs this
  process may run on (``os.sched_getaffinity``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)


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
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # bench/driver sessions compile hundreds of whole-stage-codegen
        # classes in one JVM; the 240m default JIT code cache can fill,
        # which silently disables compilation and drops hot expression
        # trees into interpreted eval
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m")
        .config("spark.ui.enabled", "false")
        # per-call stack capture; see the module docstring
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # guide §3.1: allow AQE to rewrite a planned sort-merge join to
        # shuffled-hash AT RUNTIME when every post-shuffle build
        # partition measures under 64 MB — the size-gated SHJ mechanism
        # (runtime stats, not estimates), safe at any scale because the
        # rewrite only fires on measured small partitions.
        # ``preferSortMergeJoin`` itself stays at its DEFAULT (true):
        # r14 set it false, but (a) that path picks SHJ from OPTIMIZER
        # ESTIMATES (canBuildLocalHashMap: autoBroadcastJoinThreshold ×
        # shuffle partitions), and an SHJ build side under skew or bad
        # estimates can exceed the per-partition budget and OOM — SHJ
        # build does not spill (r14 ADVICE); (b) the r14 full benches
        # showed consistent q7/q21 regressions under it and the r15
        # interleaved re-A/B could not reproduce the claimed win
        # (revert arm measured 0.92× total over the five probe queries
        # in one session, ~1.07× in another — i.e. noise-floor, not a
        # win). Estimate-based plan-time SHJ is not worth that risk.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # Python data sources (sources/erddap.py) receive Catalyst filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # let AQE re-coalesce stages downstream of cached plans — cached
        # intermediates otherwise pin their shuffle partitioning and tiny
        # post-cache stages run at full width (see sources/tables.py)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
