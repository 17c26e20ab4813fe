"""get_spark defaults: host-derived parallelism, DataFrame debugging off
with errors that still name their cause, and the extra_conf escape
hatch."""

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
