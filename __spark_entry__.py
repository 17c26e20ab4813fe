"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``gdutils_spark`` — this module is a thin
adapter over the engine's query registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gdutils_spark.queries import ORACLE, QUERIES  # noqa: E402
from gdutils_spark.session import apply_policy  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"

_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make gdutils_spark importable on executor Python workers.

    The driver owns the SparkSession and its workers do not inherit this
    repo on sys.path; any pickled-by-reference function would fail to
    unpickle there. UDF closures are written self-contained, but this
    zip+addPyFile is the defense in depth (and what a real deployment
    does with --py-files). Executors fetch the zip for as long as the
    SparkContext lives, so its temporary directory goes at interpreter
    exit, not on return.
    """
    key = spark.sparkContext.applicationId
    if key in _SHIPPED:
        return
    import atexit
    import shutil
    import tempfile

    pkg_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gdutils_spark")
    ship_dir = tempfile.mkdtemp(prefix="gdutils_spark_ship_")
    atexit.register(shutil.rmtree, ship_dir, ignore_errors=True)
    zip_base = os.path.join(ship_dir, "gdutils_spark")
    archive = shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir), "gdutils_spark")
    spark.sparkContext.addPyFile(archive)
    _SHIPPED.add(key)


def _wrap(fn):
    """Adapt a registry query to the driver-owned session: ship the
    package and apply the engine's session policy (UTC, nanos-as-long,
    re-coalescable cached plans; see ``gdutils_spark.session``) before
    the query builds its plan."""

    def run(spark: SparkSession, sf_dir: str):
        _ship_package(spark)
        apply_policy(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: daily event stats (the reference's daily
    profile-stats aggregate, /root/reference/gdutils/__init__.py:574-576)."""
    return _wrap(QUERIES["daily_event_stats"])(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (same column aliases)."""
    return dict(ORACLE)
