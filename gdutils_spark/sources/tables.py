"""Parquet table loaders for the driver testdata layout.

``sf_dir`` contains one parquet file per table (TESTDATA.md). Parquet gives
us free column pruning + predicate pushdown through Catalyst, which is the
Spark-native replacement for the reference's server-side URL constraints
(``/root/reference/gdutils/__init__.py:792-796``).

Schema memo. ``spark.read.parquet(path)`` runs one schema-inference Spark
job per call, which is most of the fixed cost of a short request (about
0.11 s p50 against 0.016 s for a read with a given schema, 4-core host).
:func:`load_table` therefore keeps a process-wide memo of the inferred
``StructType`` of each single-file table and reads with
``spark.read.schema(memo).parquet(path)`` on a hit. The memo holds the
schema only, never a DataFrame: every call still builds a fresh relation
with fresh attribute ids (a shared relation would break self-joins and pin
a stale file listing).

* Key: the file's real path plus the values of the confs that shape
  parquet inference (:data:`_SCHEMA_CONFS`: ``nanosAsLong``,
  ``binaryAsString``, ``int96AsTimestamp``, ``inferTimestampNTZ.enabled``,
  ``caseSensitive``). A session whose value of any of them differs infers
  afresh.
* Invalidation: each entry records the file's ``st_size``,
  ``st_mtime_ns`` and ``st_ino``; a load that sees any of them changed
  (rewrite in place, atomic replace) infers again and replaces the entry,
  so the memo holds at most one schema per path and conf combination.
* Directory paths (partitioned or multi-file tables) are never memoized:
  their schema depends on the files inside, so they keep plain inference.

One partition for small tables. A regular file of at most
:data:`_ONE_PARTITION_MAX_BYTES` loads as ``df.coalesce(1)``. The file
scan reports an unknown partitioning, so every aggregate, window, sort
or join above it planned an Exchange (a range one for a global sort),
and under AQE each Exchange is one query stage and one more Spark job
over a few KB. The coalesced relation reports ``SinglePartition``,
which satisfies every clustered, ordered and all-tuples distribution,
so a small request plans no Exchange and runs as one job. The decision
reads the ``st_size`` of the ``os.stat`` the memo already takes: no
option, env var or session conf, and no Spark job. Directory tables
and larger files keep the plain scan.

* Bound: 512 KiB, below ``spark.sql.files.openCostInBytes`` (4 MiB), so
  a gated file is one scan split anyway: the gate takes no scan
  parallelism, only the parallelism of the work above the scan. It gates
  every sf0.01 table but ``lineitem`` (1,042,463 B), and at sf0.1 only
  the dimension tables ``customer``, ``part``, ``supplier``, ``nation``
  and ``region``. Contract: the gate never fires on a fact table
  (``orders``, ``lineitem``, ``events``) or a corpus table
  (``documents``, ``embeddings``) at sf0.1 or above. Work above a corpus
  scan is per-row CPU (tokenizing, shingling, hashing) that needs the
  cores: with a 1 MiB bound sf0.1 ``documents`` (594,568 B) was gated
  and 13 corpus queries in ``bench.py`` ran 1.27-1.57x slower in one
  task. The sizing runs are in ``perf/README.md``.
* Sibling scans run serially. A ``Union`` of ``SinglePartition``
  children keeps the whole plan in one task, so a plan that unions
  several filtered scans of one gated table loses the 2-3 parallel
  tasks it had. Build such a batch from one scan with ``when``
  expressions instead (``queries_ext.orders_cdc_upsert``).

Session conf is read, never written: the UTC zone and ``nanosAsLong`` that
the timestamp normalization needs come from the session policy
(:mod:`gdutils_spark.session`), so the load order cannot change the memo
key of later loads.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Testdata timestamp columns arrive in whatever physical encoding the
# driver's generator used that round — TIMESTAMP(NANOS) read as long via
# the legacy conf (round 1), or plain TIMESTAMP(MICROS, isAdjustedToUTC
# =false) which Spark reads as TIMESTAMP_NTZ (round 2+). The engine
# standardizes on session-UTC TIMESTAMP (SURVEY.md §7 trap 7), so the
# loader normalizes every variant to TimestampType:
#   * bigint nanos  -> timestamp_micros(ns div 1000)  (integer arithmetic;
#     ns epochs exceed double's 2^53 mantissa, so no float division)
#   * timestamp_ntz -> cast('timestamp')  (session tz is UTC, wall-clock
#     values are preserved and match DuckDB's naive-timestamp semantics)
# The session policy (``gdutils_spark.session.POLICY``), not this loader,
# supplies ``nanosAsLong=true`` and the UTC zone that both rely on.
_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# SQL confs whose values change the schema parquet inference produces
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)

# Regular files of at most this many bytes load as one partition (see the
# module docstring); -1 turns the gate off.
_ONE_PARTITION_MAX_BYTES = 512 << 10

# (real path, conf values) -> ((st_size, st_mtime_ns, st_ino), schema).
# Each access is one dict get or set, atomic under the GIL; two threads
# missing at once both infer and store the same schema.
_schema_memo: dict[tuple, tuple[tuple[int, int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema of a regular file
    once per file version and conf combination, and in one partition when
    the file is small (see the module docstring)."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return spark.read.parquet(path)  # Spark reports the missing path
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.realpath(path),
        tuple(spark.conf.get(k) for k in _SCHEMA_CONFS),
    )
    version = (st.st_size, st.st_mtime_ns, st.st_ino)
    hit = _schema_memo.get(key)
    if hit is not None and hit[0] == version:
        df = spark.read.schema(hit[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        _schema_memo[key] = (version, df.schema)
    return df.coalesce(1) if st.st_size <= _ONE_PARTITION_MAX_BYTES else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Scans stay lazy; Catalyst prunes columns.
    Writes no session conf (see the module docstring)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    ts_cols = _TS_COLS.get(name, ())
    df = _read_parquet(spark, path)
    dtypes = dict(df.dtypes)
    for c in ts_cols:
        dt = dtypes.get(c)
        if dt is None:
            # fail loudly: a renamed/missing timestamp column silently
            # skipping normalization would surface as oracle mismatches
            # three steps downstream (re-check parquet schemas per round)
            raise ValueError(
                f"expected timestamp column {c!r} missing from {name} "
                f"({sorted(dtypes)})"
            )
        if dt == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register each table as a temp view so spark.sql() queries see them."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
