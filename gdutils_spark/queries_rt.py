"""Round-trip queries: driver-verifiable oracles for the client / source /
sink surfaces (SURVEY.md §2 rows S2-S4, S6-S9, K1/K2/K4/K5, P3/P5/P7,
J1-J3, R1, O1) that were previously covered only by pytest.

Each query exercises a real client/source/sink code path end-to-end —
writing a fixture to a tmp dir where the surface is a reader, collecting a
sink's string output where the surface is a renderer — and lands the result
in relational form so the driver's DuckDB hash-compare applies. The fixture
derivations are deterministic functions of the driver parquet tables, so
the oracle reproduces them in pure SQL.

Reference parity targets are cited per query (the reference file the
surface re-expresses); the round-trip *fixture* scaffolding is test
machinery, the verified operator is the distributed read/assembly path.

The streaming queries (``rt_stream_*``) drain availableNow streams. The
stateful ones start through :func:`_start_state_sized`, which gives each
stream one state-store partition per ``tables._ONE_PARTITION_MAX_BYTES``
of source (1 on every fixture here) instead of the session's shuffle
width; the sketch queries hold no state store and run at the session's
width.
"""

from __future__ import annotations

import atexit
import json
import os
import re
import shutil
import tempfile

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from gdutils_spark.client import GdacClient
from gdutils_spark.operators.filters import filter_real_time_active
from gdutils_spark.operators.joins import semi_by_ids
from gdutils_spark.session import scoped_conf
from gdutils_spark.sinks.geojson import track_geojson, track_points
from gdutils_spark.sinks.kml import tracks_to_kml
from gdutils_spark.sources import tables
from gdutils_spark.sources.csv import read_dataset_csv_batch
from gdutils_spark.sources.rest import read_json_records
from gdutils_spark.sources.tables import load_table

def _rt_tmp_root() -> str:
    """Root for round-trip fixture/checkpoint scratch: tmpfs
    (``/dev/shm``) when writable, since the streaming queries' wall time is
    small-file sync latency (source writes, checkpoint WAL, state-store and
    sink commits), not bytes. The scratch lives for one invocation, so a
    memory-backed FS loses nothing. ``SPARK_GRAFT_RT_TMPDIR`` points it
    elsewhere, e.g. at durable storage for production checkpoints; the
    fallback is the ordinary tempdir."""
    root = os.environ.get("SPARK_GRAFT_RT_TMPDIR")
    if root:
        return root
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm
    return tempfile.gettempdir()


def _work_dir(name: str) -> str:
    """A fresh ``gdutils_rt_<name>_*`` scratch dir per invocation, so no
    two runs share or wipe each other's fixtures. The returned plan reads
    it lazily, so it is removed at interpreter exit, not on return."""
    d = tempfile.mkdtemp(prefix=f"gdutils_rt_{name}_", dir=_rt_tmp_root())
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _drain(q, name: str) -> None:
    """Wait up to 300 s for an availableNow query to drain what exists;
    a query still running then is stopped, and a ``TimeoutError`` naming
    the query ``name`` is raised."""
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"{name}: streaming query did not finish")


def _start_state_sized(
    spark: SparkSession, writer: DataStreamWriter, src: str
) -> StreamingQuery:
    """Start ``writer`` with one shuffle partition, and so one state-store
    instance per stateful operator, per ``tables._ONE_PARTITION_MAX_BYTES``
    of source under ``src``: at least 1, at most the session's
    ``spark.sql.shuffle.partitions``. Each instance is created and
    committed in every micro-batch, so a few hundred keys spread over a
    fixed width pay for empty stores. The count is scoped to ``start()``
    alone: the query clones the session conf there, and a drain must not
    hold the scope, since the stream thread and its ``foreachBatch`` may
    enter one."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bound = tables._ONE_PARTITION_MAX_BYTES
    nbytes = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(src) for f in fs
    )
    n = min(cap, max(1, -(-nbytes // bound)))
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(n)}):
        return writer.start()


def _parquet_roundtrip(
    spark: SparkSession,
    name: str,
    fixture: DataFrame,
    build: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The streaming queries' source→sink round trip: write ``fixture``
    to a fresh file source (one file per partition), stream it through
    ``build`` into a parquet sink (append mode, availableNow, state sized
    to the source), drain, and read the sink back as a batch scan."""
    tmp = _work_dir(name.removeprefix("rt_"))
    src, chk, out = (os.path.join(tmp, d) for d in ("src", "chk", "out"))
    fixture.write.parquet(src)
    stream = spark.readStream.schema(fixture.schema).parquet(src)
    writer = (
        build(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    _drain(_start_state_sized(spark, writer, src), name)
    return spark.read.parquet(out)


# ---------------------------------------------------------------------------
# S9 + S6 + P3: offline CSV batch with units row and filename-derived ids
# ---------------------------------------------------------------------------


def rt_csv_batch_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERDDAP-style CSV batch ingest round-trip (S9/S6/P3 —
    /root/reference/gdutils/io.py:11-53): per-dataset CSVs with a units
    row (line 2) and ``<id>-<ts>.csv`` filenames are read back as ONE
    distributed scan; the units row drops in the typed cast, the dataset
    id comes from ``input_file_name()``, and ``Time``/``Event Type``
    headers normalize to snake_case. Aggregate per dataset so the oracle
    is a direct parquet aggregate."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 8)
    rows = e.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("t"),
        "value",
        "event_type",
    ).collect()
    if not rows:
        # r13 empty-fixture hunt: no rows -> no CSV files -> the glob
        # read raises PATH_NOT_FOUND; an empty ingest is an empty report
        return spark.createDataFrame(
            [],
            "dataset_id string, n long, sum_value double, "
            "t_min timestamp, t_max timestamp, n_types long",
        )
    tmp = _work_dir("csv_batch")
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, rs in by_user.items():
        with open(os.path.join(tmp, f"user{uid:03d}-20240101T0000.csv"), "w") as f:
            f.write("Time,Value,Event Type\n")
            f.write("UTC,,unitless\n")  # tabledap units row
            for r in rs:
                f.write(f"{r['t']},{r['value']!r},{r['event_type']}\n")
    schema = T.StructType(
        [
            T.StructField("Time", T.TimestampType()),
            T.StructField("Value", T.DoubleType()),
            T.StructField("Event Type", T.StringType()),
        ]
    )
    batch = read_dataset_csv_batch(spark, os.path.join(tmp, "*.csv"), schema=schema)
    return batch.groupBy("dataset_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        F.min("time").alias("t_min"),
        F.max("time").alias("t_max"),
        F.count_distinct("event_type").alias("n_types"),
    )


_RT_CSV_BATCH_SQL = """
SELECT concat('user', lpad(CAST(user_id AS VARCHAR), 3, '0'), '-20240101T0000') AS dataset_id,
       COUNT(*) AS n,
       CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(ts) AS t_min,
       MAX(ts) AS t_max,
       COUNT(DISTINCT event_type) AS n_types
FROM events WHERE user_id < 8
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# K1: distributed CSV sink round-trip
# ---------------------------------------------------------------------------


def rt_csv_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 CSV sink → re-read → aggregate (write path parity with the
    reference's ``to_csv`` report exports,
    /root/reference/scripts/dac/search_datasets.py:60-66). Doubles
    round-trip via Java shortest-repr; dates as ISO strings."""
    from gdutils_spark.sinks import write_csv

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 == 0)
    rep = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.to_date("o_orderdate").alias("o_orderdate"),
    )
    tmp = _work_dir("csv_sink")
    out_dir = os.path.join(tmp, "orders_csv")
    write_csv(rep, out_dir, single_file=True)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.DateType()),
        ]
    )
    back = spark.read.option("header", "true").schema(schema).csv(out_dir)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        F.min("o_orderdate").alias("d_min"),
        F.max("o_orderdate").alias("d_max"),
    )


_RT_CSV_SINK_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(CASE WHEN isnan(o_totalprice) THEN NULL ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(CAST(o_orderdate AS DATE)) AS d_min,
       MAX(CAST(o_orderdate AS DATE)) AS d_max
FROM orders WHERE o_orderkey % 10 = 0
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# S7/S8: REST-JSON records with typed coercions + orphan flag
# ---------------------------------------------------------------------------

_JSON_EPOCH_MS = 1700000000000


def rt_json_records_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REST JSON source round-trip (S7/S8 —
    /root/reference/gdutils/apis/dac.py:10-71, apis/status.py:10-73): an
    API-response-shaped JSON array file is read via ``spark.read.json``
    and the reference's coercions applied as Catalyst casts: bool NULL →
    false, epoch-ms long → timestamp, string → try_to_timestamp
    (coerce), int NULL → 0, and the 'orphaned' null-probe flag. Field
    names with spaces normalize to snake_case (P3)."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 240)
    k = F.col("c_custkey")
    ms = F.lit(_JSON_EPOCH_MS) + k * F.lit(3600000)
    rec = c.select(
        k.alias("custkey"),
        F.when(k % 7 == 0, F.lit(None).cast("boolean"))
        .otherwise((k % 2) == 0)
        .alias("active"),
        ms.alias("created_ms"),
        F.when(k % 11 == 0, F.lit("not-a-timestamp"))
        .otherwise(F.date_format(F.timestamp_millis(ms), "yyyy-MM-dd HH:mm:ss"))
        .alias("status_time"),
        F.when(k % 5 == 0, F.lit(None).cast("long")).otherwise(k % 13).alias("visits"),
        F.when(k % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("reg"))
        .alias("probe"),
    )
    records = [
        {
            "Cust Key": r["custkey"],
            "Active": r["active"],
            "Created MS": r["created_ms"],
            "Status Time": r["status_time"],
            "Visit Count": r["visits"],
            "Registry Probe": r["probe"],
        }
        for r in rec.collect()
    ]
    if not records:
        # empty API response: spark.read.json of [] infers no columns
        # and every downstream reference is UNRESOLVED — an empty typed
        # relation is the defined result (r13 empty-fixture hunt)
        return spark.createDataFrame(
            [],
            "cust_key long, active boolean, created_ms timestamp, "
            "status_time timestamp, visit_count long, orphaned boolean",
        )
    tmp = _work_dir("json")
    path = os.path.join(tmp, "api_response.json")
    with open(path, "w") as f:
        json.dump(records, f)
    out = read_json_records(
        spark,
        path,
        bool_columns=["active"],
        epoch_ms_columns=["created_ms"],
        timestamp_columns=["status_time"],
        int_columns=["visit_count"],
        null_flag_column=("orphaned", "registry_probe"),
    )
    return out.select(
        "cust_key", "active", "created_ms", "status_time", "visit_count", "orphaned"
    )


_RT_JSON_SQL = f"""
SELECT c_custkey AS cust_key,
       CASE WHEN c_custkey % 7 = 0 THEN false ELSE c_custkey % 2 = 0 END AS active,
       epoch_ms({_JSON_EPOCH_MS} + c_custkey * 3600000) AS created_ms,
       CASE WHEN c_custkey % 11 = 0 THEN NULL
            ELSE epoch_ms({_JSON_EPOCH_MS} + c_custkey * 3600000) END AS status_time,
       CASE WHEN c_custkey % 5 = 0 THEN 0 ELSE c_custkey % 13 END AS visit_count,
       c_custkey % 3 = 0 AS orphaned
FROM customer WHERE c_custkey <= 240
"""


# ---------------------------------------------------------------------------
# J1/J2/J3 + S2 + S3 + S4 + R1: GdacClient over a deterministic deployment
# fixture derived from the events table
# ---------------------------------------------------------------------------

_FIX_EPOCH_US = 1704067200000000  # 2024-01-01T00:00:00Z


def _glider_fixture(spark: SparkSession, sf_dir: str):
    """(catalog, profiles) fixture: events → 10 synthetic deployments.

    Times are unique per row (seconds spaced by event_id) so first-fix
    ``min_by`` semantics are deterministic; coordinates derive from
    value/event_id arithmetic both engines compute identically in IEEE
    double."""
    # null-strict (r13 null-fixture hunt): a NULL user/event/value row
    # must not become a deployment — and must not split the engines
    # (DuckDB concat SKIPS NULL args while Spark concat nulls the whole
    # string, so an unfiltered NULL user yields a phantom 'sg-...'
    # dataset on one side only). Oracle twin: _FIX_PROF_SQL's WHERE.
    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan("value")
    )
    prof = e.select(
        F.concat(
            F.lit("sg"),
            F.lpad((F.col("user_id") % 10).cast("string"), 3, "0"),
            F.lit("-20240101T0000"),
        ).alias("dataset_id"),
        F.timestamp_micros(
            F.lit(_FIX_EPOCH_US) + F.col("event_id") * F.lit(1000000)
        ).alias("time"),
        ((F.col("value") % F.lit(10.0)) + F.lit(30.0)).alias("latitude"),
        ((F.col("event_id") % 20) - 70).cast("double").alias("longitude"),
    )
    catalog = (
        prof.select("dataset_id")
        .distinct()
        .withColumn("title", F.concat(F.lit("Deployment "), F.col("dataset_id")))
        .withColumn("summary", F.concat(F.lit("synthetic glider deployment "), F.col("dataset_id")))
        .withColumn(
            "institution",
            F.when(F.substring("dataset_id", 3, 3).cast("int") < 5, F.lit("WHOI"))
            .otherwise(F.lit("MBARI")),
        )
    )
    return catalog, prof


_FIX_PROF_SQL = f"""
  SELECT concat('sg', lpad(CAST(user_id % 10 AS VARCHAR), 3, '0'), '-20240101T0000') AS dataset_id,
         make_timestamp({_FIX_EPOCH_US} + event_id * 1000000) AS time,
         (value % 10.0) + 30.0 AS latitude,
         CAST((event_id % 20) - 70 AS DOUBLE) AS longitude
  FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
    AND value IS NOT NULL AND NOT isnan(value)
"""

_FIX_SUMM_SQL = """
  SELECT dataset_id,
         MIN(time) AS start_date,
         MAX(time) AS end_date,
         arg_min(latitude, time) AS deployment_lat,
         arg_min(longitude, time) AS deployment_lon,
         MIN(latitude) AS lat_min,
         MAX(latitude) AS lat_max,
         MIN(longitude) AS lon_min,
         MAX(longitude) AS lon_max,
         COUNT(*) AS num_profiles,
         CAST(CEIL((epoch(MAX(time)) - epoch(MIN(time))) / 86400.0) AS BIGINT) AS days
  FROM prof GROUP BY dataset_id
"""

_FIX_INFO_SQL = """
  SELECT DISTINCT dataset_id,
         concat('Deployment ', dataset_id) AS title,
         concat('synthetic glider deployment ', dataset_id) AS summary,
         CASE WHEN CAST(substring(dataset_id, 3, 3) AS INT) < 5
              THEN 'WHOI' ELSE 'MBARI' END AS institution
  FROM prof
"""


def rt_client_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 summaries ⟕ info broadcast join through a filtered search (S2,
    /root/reference/gdutils/__init__.py:107-114,544-616): the
    institution='WHOI' predicate narrows the catalog, profiles semi-join
    to the surviving datasets, one groupBy builds the summary rows."""
    catalog, prof = _glider_fixture(spark, sf_dir)
    client = GdacClient(spark, catalog=catalog, profiles=prof)
    client.search_datasets({"institution": "WHOI"})
    return client.datasets


_RT_CLIENT_DATASETS_SQL = f"""
WITH prof AS ({_FIX_PROF_SQL}),
info AS ({_FIX_INFO_SQL}),
sel AS (SELECT * FROM info WHERE institution = 'WHOI'),
p AS (SELECT prof.* FROM prof SEMI JOIN sel USING (dataset_id)),
summ AS (
  SELECT dataset_id,
         MIN(time) AS start_date,
         MAX(time) AS end_date,
         arg_min(latitude, time) AS deployment_lat,
         arg_min(longitude, time) AS deployment_lon,
         MIN(latitude) AS lat_min,
         MAX(latitude) AS lat_max,
         MIN(longitude) AS lon_min,
         MAX(longitude) AS lon_max,
         COUNT(*) AS num_profiles,
         CAST(CEIL((epoch(MAX(time)) - epoch(MIN(time))) / 86400.0) AS BIGINT) AS days
  FROM p GROUP BY dataset_id
)
SELECT regexp_extract(s.dataset_id, '^(.*)-\\d{{8}}T\\d{{4}}', 1) AS glider,
       s.dataset_id,
       CAST(NULL AS VARCHAR) AS wmo_id,
       s.start_date, s.end_date,
       s.deployment_lat, s.deployment_lon,
       s.lat_min, s.lat_max, s.lon_min, s.lon_max,
       s.num_profiles, s.days,
       i.title, i.summary, i.institution
FROM summ s JOIN sel i USING (dataset_id)
"""


def _searched_client(spark: SparkSession, sf_dir: str) -> GdacClient:
    catalog, prof = _glider_fixture(spark, sf_dir)
    client = GdacClient(spark, catalog=catalog, profiles=prof)
    client.search_datasets()
    return client


def _api_catalog(spark: SparkSession, catalog: DataFrame) -> DataFrame:
    ghosts = spark.createDataFrame(
        [("ghost-20240101T0000",), ("phantom-20240215T1200",)], ["dataset_id"]
    )
    return (
        catalog.select("dataset_id")
        .unionAll(ghosts)
        .withColumn("api_registered", F.lit(True))
    )


def rt_client_api_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 API-catalog left merge + orphan flag
    (/root/reference/gdutils/__init__.py:921-941): API-registered
    datasets absent from the server come back flagged orphaned with NULL
    server columns."""
    client = _searched_client(spark, sf_dir)
    api = _api_catalog(spark, client._catalog)
    m = client.merge_with_api(api, merge_all=True)
    return m.select(
        "dataset_id", "api_registered", "num_profiles", "institution", "orphaned"
    )


_RT_API_MERGE_SQL = f"""
WITH prof AS ({_FIX_PROF_SQL}),
summ AS ({_FIX_SUMM_SQL}),
info AS ({_FIX_INFO_SQL}),
server AS (SELECT s.dataset_id, s.num_profiles, i.institution
           FROM summ s JOIN info i USING (dataset_id)),
api AS (
  SELECT DISTINCT dataset_id, true AS api_registered FROM prof
  UNION ALL SELECT 'ghost-20240101T0000', true
  UNION ALL SELECT 'phantom-20240215T1200', true
)
SELECT a.dataset_id, a.api_registered, s.num_profiles, s.institution,
       s.dataset_id IS NULL AS orphaned
FROM api a LEFT JOIN server s USING (dataset_id)
"""


def rt_client_api_merge_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 right merge (merge_all=False): only datasets present on the
    server survive; nothing is orphaned."""
    client = _searched_client(spark, sf_dir)
    api = _api_catalog(spark, client._catalog)
    m = client.merge_with_api(api, merge_all=False)
    return m.select(
        "dataset_id", "api_registered", "num_profiles", "institution", "orphaned"
    )


_RT_API_MERGE_RIGHT_SQL = f"""
WITH prof AS ({_FIX_PROF_SQL}),
summ AS ({_FIX_SUMM_SQL}),
info AS ({_FIX_INFO_SQL}),
server AS (SELECT s.dataset_id, s.num_profiles, i.institution
           FROM summ s JOIN info i USING (dataset_id)),
api AS (
  SELECT DISTINCT dataset_id, true AS api_registered FROM prof
  UNION ALL SELECT 'ghost-20240101T0000', true
  UNION ALL SELECT 'phantom-20240215T1200', true
)
SELECT s.dataset_id, a.api_registered, s.num_profiles, s.institution,
       false AS orphaned
FROM api a RIGHT JOIN server s USING (dataset_id)
"""


def rt_dataset_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 per-dataset profiles scan, time-ordered at the boundary (O1,
    /root/reference/gdutils/__init__.py:744-760)."""
    client = _searched_client(spark, sf_dir)
    return client.get_dataset_profiles("sg003-20240101T0000")


_RT_DATASET_PROFILES_SQL = f"""
WITH prof AS ({_FIX_PROF_SQL})
SELECT * FROM prof WHERE dataset_id = 'sg003-20240101T0000'
"""


def rt_dataset_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 sensor time-series scan with projection + time-range pushdown
    (/root/reference/gdutils/__init__.py:770-805)."""
    catalog, prof = _glider_fixture(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    ts_table = e.select(
        F.concat(
            F.lit("sg"),
            F.lpad((F.col("user_id") % 10).cast("string"), 3, "0"),
            F.lit("-20240101T0000"),
        ).alias("dataset_id"),
        F.timestamp_micros(
            F.lit(_FIX_EPOCH_US) + F.col("event_id") * F.lit(1000000)
        ).alias("precise_time"),
        (F.col("value") % F.lit(100.0)).alias("depth"),
        (F.col("value") / F.lit(10.0)).alias("temperature"),
    )
    client = GdacClient(spark, catalog=catalog, profiles=prof, timeseries=ts_table)
    client.search_datasets()
    return client.get_dataset_time_series(
        "sg001-20240101T0000",
        ["temperature"],
        min_time="2024-01-01 00:30:00",
        max_time="2024-01-01 02:30:00",
    )


_RT_DATASET_TS_SQL = f"""
SELECT concat('sg', lpad(CAST(user_id % 10 AS VARCHAR), 3, '0'), '-20240101T0000') AS dataset_id,
       make_timestamp({_FIX_EPOCH_US} + event_id * 1000000) AS precise_time,
       (value % 100.0) AS depth,
       (value / 10.0) AS temperature
FROM events
WHERE user_id % 10 = 1
  AND make_timestamp({_FIX_EPOCH_US} + event_id * 1000000)
      BETWEEN TIMESTAMP '2024-01-01 00:30:00' AND TIMESTAMP '2024-01-01 02:30:00'
"""

_CARD_ATTRS = (
    "deployment_lat",
    "deployment_lon",
    "lat_min",
    "lat_max",
    "lon_min",
    "lon_max",
    "num_profiles",
    "days",
)


def rt_info_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 transposed one-dataset info card
    (/root/reference/gdutils/__init__.py:646): the numeric attributes of
    the card come back as (attribute, value) rows so the driver can hash
    them; the transpose itself is the driver-side presentation step."""
    client = _searched_client(spark, sf_dir)
    try:
        card = client.dataset_info_card("sg000-20240101T0000")
    except KeyError:
        # empty source table -> the fixture deployment doesn't exist;
        # an empty card is the defined result (r13 empty-fixture hunt;
        # the oracle's WHERE value IS NOT NULL mirrors it)
        return spark.createDataFrame([], "attribute string, value double")
    col = card.iloc[:, 0]
    rows = [(a, float(col.loc[a])) for a in _CARD_ATTRS]
    return spark.createDataFrame(rows, "attribute string, value double")


_RT_INFO_CARD_SQL = f"""
WITH prof AS ({_FIX_PROF_SQL}),
s AS (
  SELECT arg_min(latitude, time) AS deployment_lat,
         arg_min(longitude, time) AS deployment_lon,
         MIN(latitude) AS lat_min, MAX(latitude) AS lat_max,
         MIN(longitude) AS lon_min, MAX(longitude) AS lon_max,
         CAST(COUNT(*) AS DOUBLE) AS num_profiles,
         CAST(CEIL((epoch(MAX(time)) - epoch(MIN(time))) / 86400.0) AS DOUBLE) AS days
  FROM prof WHERE dataset_id = 'sg000-20240101T0000'
  HAVING COUNT(*) > 0
)
SELECT 'deployment_lat' AS attribute, CAST(deployment_lat AS DOUBLE) AS value FROM s
UNION ALL SELECT 'deployment_lon', CAST(deployment_lon AS DOUBLE) FROM s
UNION ALL SELECT 'lat_min', CAST(lat_min AS DOUBLE) FROM s
UNION ALL SELECT 'lat_max', CAST(lat_max AS DOUBLE) FROM s
UNION ALL SELECT 'lon_min', CAST(lon_min AS DOUBLE) FROM s
UNION ALL SELECT 'lon_max', CAST(lon_max AS DOUBLE) FROM s
UNION ALL SELECT 'num_profiles', num_profiles FROM s
UNION ALL SELECT 'days', days FROM s
"""


# ---------------------------------------------------------------------------
# P5 + P7: canned status-catalog filters + membership
# ---------------------------------------------------------------------------


def rt_canned_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 canned boolean-combo filter + P7 membership filter
    (/root/reference/gdutils/apis/filters.py:7-160): real-time active
    (= not delayed, not completed, not orphaned) restricted to two
    market segments."""
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cat = c.select(
        F.col("c_name").alias("dataset_id"),
        "c_custkey",
        "c_mktsegment",
        (k % 2 == 0).alias("delayed_mode"),
        (k % 3 == 0).alias("completed"),
        (k % 5 == 0).alias("orphaned"),
    )
    out = filter_real_time_active(cat)
    return semi_by_ids(out, "c_mktsegment", ["BUILDING", "AUTOMOBILE"])


_RT_CANNED_SQL = """
SELECT c_name AS dataset_id, c_custkey, c_mktsegment,
       c_custkey % 2 = 0 AS delayed_mode,
       c_custkey % 3 = 0 AS completed,
       c_custkey % 5 = 0 AS orphaned
FROM customer
WHERE NOT (c_custkey % 2 = 0) AND NOT (c_custkey % 3 = 0)
  AND NOT (c_custkey % 5 = 0)
  AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
"""


# ---------------------------------------------------------------------------
# K4 + K5: quantized track assembly, flattened / rendered to KML
# ---------------------------------------------------------------------------

# HALF_DOWN quantization, decimal-exact, as SQL (mirrors
# functions/rounding.py::round_half_down)
def _half_down_sql(expr: str, ndigits: int = 3) -> str:
    scale = 10**ndigits
    z = f"(CAST({expr} AS DECIMAL(30,15)) * {scale})"
    return (
        f"CAST((CASE WHEN {z} >= 0 THEN CEIL({z} - 0.5) "
        f"ELSE FLOOR({z} + 0.5) END) / {scale} AS DOUBLE)"
    )


_GEO_FIX_SQL = f"""
  SELECT user_id, ts,
         {_half_down_sql('((value / 7.0) % 180.0) - 90.0')} AS lat,
         {_half_down_sql('((event_id / 11.0) % 360.0) - 180.0')} AS lon
  FROM events
"""


def _geo_fixes(spark: SparkSession, sf_dir: str, max_user: int) -> DataFrame:
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < max_user)
    return e.select(
        "user_id",
        F.col("ts"),
        (((F.col("value") / F.lit(7.0)) % F.lit(180.0)) - F.lit(90.0)).alias("latitude"),
        (((F.col("event_id") / F.lit(11.0)) % F.lit(360.0)) - F.lit(180.0)).alias(
            "longitude"
        ),
    )


def rt_geo_track_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 GeoJSON track assembly, hash-verified: the same quantize
    (HALF_DOWN, 3 digits) + time-order (sort_array over (t, lon, lat))
    pipeline the GeoJSON sink uses
    (/root/reference/gdutils/geojson.py:29-86), flattened to (user_id,
    seq, ts, lon, lat) rows so DuckDB reproduces the quantization
    decimal-exactly."""
    return track_points(_geo_fixes(spark, sf_dir, 20), "user_id", time_col="ts")


_RT_GEO_POINTS_SQL = f"""
WITH q AS ({_GEO_FIX_SQL.replace("FROM events", "FROM events WHERE user_id < 20")})
SELECT user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, lon, lat) - 1 AS INT) AS seq,
       ts, lon, lat
FROM q
"""


def rt_kml_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 KML render round-trip
    (/root/reference/scripts/dac/recent_datasets_to_kml.py:41-57): the
    GeoJSON tracks render to one KML document; per-placemark coordinate
    lines are parsed back out (count + first/last 'lon,lat,0' strings)
    so the quantized coordinate formatting is hash-verified."""
    fixes = _geo_fixes(spark, sf_dir, 6).withColumn(
        "dataset_id", F.format_string("u%02d", F.col("user_id"))
    )
    tracks = (
        track_geojson(fixes, "dataset_id", time_col="ts")
        .orderBy("dataset_id")
        .collect()
    )
    kml = tracks_to_kml([(r["dataset_id"], r["geojson"]) for r in tracks])
    blocks = re.findall(
        r"<name>(u\d+)</name>.*?<coordinates>\n(.*?)\n\s*</coordinates>", kml, re.S
    )
    rows = []
    for name, body in blocks:
        lines = [ln.strip() for ln in body.split("\n")]
        rows.append((name, len(lines), lines[0], lines[-1]))
    return spark.createDataFrame(
        rows, "dataset_id string, n_pts long, first_coord string, last_coord string"
    )


_RT_KML_SQL = f"""
WITH q AS ({_GEO_FIX_SQL.replace("FROM events", "FROM events WHERE user_id < 6")}),
o AS (
  SELECT printf('u%02d', user_id) AS dataset_id,
         concat(CAST(lon AS VARCHAR), ',', CAST(lat AS VARCHAR), ',0') AS coord,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, lon, lat) AS rn
  FROM q
)
SELECT dataset_id,
       COUNT(*) AS n_pts,
       arg_min(coord, rn) AS first_coord,
       arg_max(coord, rn) AS last_coord
FROM o GROUP BY dataset_id
"""


# ---------------------------------------------------------------------------
# §2.9 Structured Streaming, driver-verified end-to-end
# ---------------------------------------------------------------------------


def rt_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming P14 driver-verified: events are written to a file
    stream TWICE (one write of a union of two copies, one file, read in
    one micro-batch), run
    through ``dropDuplicatesWithinWatermark`` with an availableNow
    trigger into a parquet sink, and read back — the returned rows must
    be exactly the original distinct events, which the oracle states as
    a plain scan. Exercises the full streaming machinery (file source,
    watermarked state, exactly-once parquet sink) inside one driver
    oracle row."""
    from gdutils_spark.streaming import stream_dedup

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 30)
        .select("event_id", "user_id", "ts", "value")
    )
    return _parquet_roundtrip(
        spark, "rt_stream_dedup", e.unionAll(e),
        lambda stream: stream_dedup(stream, ["event_id"], time_col="ts"),
    )


_RT_STREAM_DEDUP_SQL = """
SELECT event_id, user_id, ts, value FROM events WHERE user_id < 30
"""


def rt_stream_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A1 driver-verified, including the WATERMARK CLOSE RULE:
    a watermarked 1-day tumbling count in append mode emits exactly the
    windows whose end <= max(ts) - delay; the final (still-open) windows
    are withheld. The oracle reproduces that rule in SQL — if the
    engine's append semantics or the watermark arithmetic drifted, the
    row set itself would change."""
    from gdutils_spark.streaming import stream_daily_stats

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 30)
        .select("event_id", "ts")
    )
    back = _parquet_roundtrip(
        spark, "rt_stream_daily_counts", e,
        lambda stream: stream_daily_stats(
            stream, time_col="ts", value_col=None, watermark="1 day"
        ),
    )
    return back.select(
        F.col("window.start").alias("day_start"),
        F.col("window.end").alias("day_end"),
        "n_events",
    )


_RT_STREAM_DAILY_SQL = """
WITH e AS (SELECT ts FROM events WHERE user_id < 30),
m AS (SELECT MAX(ts) AS mx FROM e)
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
       CAST(date_trunc('day', ts) + INTERVAL 1 DAY AS TIMESTAMP) AS day_end,
       COUNT(*) AS n_events
FROM e, m
GROUP BY 1, 2, m.mx
HAVING day_end <= m.mx - INTERVAL 1 DAY
"""


def rt_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization driver-verified end-to-end:
    ``session_window`` (30-min gap) in append mode through a parquet
    sink. The oracle replays the STREAMING merge rule (consecutive gap
    < 30 min merges — note ``<``, the batch operator's split is ``>``)
    and the watermark close rule: a session window's end is
    last_event + gap, and append emits exactly the windows whose end <=
    max(ts) - delay. If session merging, the gap boundary, or the
    emission rule drifted, the row set changes."""
    from gdutils_spark.streaming import stream_sessions

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 25)
        .select("user_id", "ts")
    )
    back = _parquet_roundtrip(
        spark, "rt_stream_sessions", e,
        lambda stream: stream_sessions(
            stream, entity_col="user_id", time_col="ts", gap="30 minutes",
            watermark="1 day",
        ),
    )
    return back.select(
        "user_id",
        F.col("session.start").alias("session_start"),
        F.col("session.end").alias("session_end"),
        "n_events",
    )


_RT_STREAM_SESSIONS_SQL = """
WITH e AS (SELECT user_id, ts FROM events WHERE user_id < 25),
m AS (SELECT MAX(ts) AS mx FROM e),
d AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
),
agg AS (
  SELECT user_id,
         MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         COUNT(*) AS n_events
  FROM s GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events
FROM agg, m
WHERE session_end <= m.mx - INTERVAL 1 DAY
"""


def rt_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator driver-verified end-to-end:
    ``stream_entity_summaries`` (``applyInPandasWithState`` — one state
    row per entity, update-mode emissions) run with availableNow over a
    TWO-batch file source (``maxFilesPerTrigger=1``), each micro-batch
    appended to parquet via ``foreachBatch``. Entities spanning both
    batches emit twice; because the event count per entity strictly
    increases across updates, the max-count row per entity is its FINAL
    state, which must equal the global batch aggregate regardless of how
    files were batched — that is exactly the incremental-state
    invariant this query pins down. Streaming analogue of the
    reference's poll-time summary rebuild
    (/root/reference/gdutils/__init__.py:591-614)."""
    from gdutils_spark.streaming import stream_entity_summaries

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 25)
        .select("user_id", "ts")
    )
    tmp = _work_dir("stream_stateful")
    src, chk, out = (os.path.join(tmp, d) for d in ("src", "chk", "out"))
    # two separate appends → two source files → two deterministic-content
    # micro-batches (file order may vary; the final state per entity
    # doesn't, which is the point)
    split = F.dayofmonth(F.col("ts")) % 2 == 0
    e.where(split).coalesce(1).write.mode("append").parquet(src)
    e.where(~split).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # timeout_ms=None: a pending processing-time timeout would keep the
    # availableNow drain alive forever (see the operator's docstring)
    summ = stream_entity_summaries(
        stream, entity_col="user_id", time_col="ts", timeout_ms=None
    )

    def _append(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    writer = (
        summ.writeStream.foreachBatch(_append)
        .option("checkpointLocation", chk)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    _drain(_start_state_sized(spark, writer, src), "rt_stream_stateful")
    back = spark.read.parquet(out)
    final = back.groupBy("entity").agg(
        F.max_by(F.struct("start_time", "end_time", "n_events"), "n_events").alias("s")
    )
    return final.select(
        "entity",
        F.col("s.start_time").alias("start_time"),
        F.col("s.end_time").alias("end_time"),
        F.col("s.n_events").alias("n_events"),
    )


_RT_STREAM_STATEFUL_SQL = """
SELECT CAST(user_id AS VARCHAR) AS entity,
       MIN(ts) AS start_time,
       MAX(ts) AS end_time,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events WHERE user_id < 25 GROUP BY user_id
"""


def rt_stream_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-actives streaming (A4) driver-verified: chained
    stateful operators — watermarked dropDuplicates on (user, day
    window) feeding a windowed count — through a parquet sink in append
    mode. Spark won't plan count_distinct in a streaming aggregate; the
    dedup→count chain is the exact, deterministic equivalent, and the
    oracle replays it plus the watermark close rule (windows whose end
    <= max(ts) - 1 day emit; open windows are withheld)."""
    from gdutils_spark.streaming import stream_active_entities

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 60)
        .select("user_id", "ts")
    )
    back = _parquet_roundtrip(
        spark, "rt_stream_active_users", e,
        lambda stream: stream_active_entities(
            stream, time_col="ts", entity_col="user_id", window="1 day",
            watermark="1 day", exact=True,
        ),
    )
    return back.select(
        F.col("window.start").alias("day_start"),
        F.col("window.end").alias("day_end"),
        "active_entities",
    )


_RT_STREAM_ACTIVE_SQL = """
WITH e AS (SELECT user_id, ts FROM events WHERE user_id < 60),
m AS (SELECT MAX(ts) AS mx FROM e),
d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day_start FROM e),
agg AS (
  SELECT day_start, CAST(COUNT(*) AS BIGINT) AS active_entities
  FROM d GROUP BY day_start
)
SELECT CAST(day_start AS TIMESTAMP) AS day_start,
       CAST(day_start + INTERVAL 1 DAY AS TIMESTAMP) AS day_end,
       active_entities
FROM agg, m
WHERE day_start + INTERVAL 1 DAY <= m.mx - INTERVAL 1 DAY
"""


def rt_jsonl_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed JSONL training-data export driver-verified
    end-to-end: documents take the md5 shard rule
    (``sampling.shard_assign``), land as shard-partitioned JSON-lines
    files (`write.partitionBy("shard").json` — the standard LLM corpus
    export layout, each shard independently streamable), and are read
    BACK from the JSONL files; per-shard counts, char mass and a
    recomputed text length prove the hash rule, the partition layout
    round-trip, and JSON string fidelity in one hash-compare."""
    from gdutils_spark.operators.sampling import shard_assign

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    sharded = shard_assign(d, n_shards=8).select(
        "doc_id", "text", "lang", "n_chars", "shard"
    )
    if sharded.limit(1).count() == 0:
        # empty corpus -> partitionBy writes no shard dirs -> the read-
        # back can't infer the partition column (r13 empty-fixture hunt)
        return spark.createDataFrame(
            [],
            "shard int, n_docs long, char_mass long, "
            "read_back_chars long, n_langs long",
        )
    tmp = _work_dir("jsonl_shards")
    out = os.path.join(tmp, "corpus")
    sharded.write.partitionBy("shard").mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = spark.read.schema(schema).json(out)  # shard inferred from dirs
    return back.groupBy(F.col("shard").cast("int").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("char_mass"),
        F.sum(F.length("text")).alias("read_back_chars"),
        F.count_distinct("lang").alias("n_langs"),
    )


_RT_JSONL_SHARDS_SQL = """
WITH sharded AS (
  SELECT doc_id, text, lang, n_chars,
         CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INT) AS shard
  FROM documents WHERE doc_id % 2 = 0
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS char_mass,
       CAST(SUM(length(text)) AS BIGINT) AS read_back_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM sharded GROUP BY shard
"""


def rt_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC storage round-trip (K1-family, columnar sibling of the CSV
    sink): a lineitem report writes ORC, re-reads it WITH a pushed
    filter, and aggregates — exercising Spark's second built-in columnar
    format end-to-end (type fidelity for date/double/long, predicate
    pushdown on the ORC reader). Decimal-routed sums keep the doubles
    bit-identical to the oracle."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 7 == 0)
    rep = li.select(
        "l_orderkey",
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
        F.to_date("l_shipdate").alias("ship_date"),
    )
    tmp = _work_dir("orc_sink")
    out = os.path.join(tmp, "lineitem_orc")
    rep.write.mode("overwrite").orc(out)
    back = spark.read.orc(out).where(F.col("l_quantity") >= 10.0)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias(
            "sum_qty"
        ),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias(
            "sum_price"
        ),
        F.min("ship_date").alias("d_min"),
        F.max("ship_date").alias("d_max"),
    )


_RT_ORC_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CASE WHEN isnan(l_quantity) THEN NULL ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(CASE WHEN isnan(l_extendedprice) THEN NULL ELSE l_extendedprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(CAST(l_shipdate AS DATE)) AS d_min,
       MAX(CAST(l_shipdate AS DATE)) AS d_max
FROM lineitem
WHERE l_orderkey % 7 = 0 AND l_quantity >= 10.0
GROUP BY l_returnflag
"""


def rt_stream_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Featurize-while-ingesting driver-verified end-to-end: the PNG
    media fixture streams through ``stream_media_features`` (the SAME
    Arrow-batched header decoder as the batch path — stateless, so
    micro-batch decode is batching-invariant), availableNow through a
    parquet sink; the oracle predicts every header field arithmetically
    from doc_id, so a wrong IHDR offset or endianness in the STREAMING
    path hash-fails exactly like the batch one."""
    from gdutils_spark.queries_ext import _png_media
    from gdutils_spark.streaming import stream_media_features

    media = _png_media(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    )
    return _parquet_roundtrip(
        spark, "rt_stream_media", media, stream_media_features
    )


_RT_STREAM_MEDIA_SQL = """
SELECT doc_id AS media_id,
       'png' AS format,
       'png' AS detected,
       CAST(64 + doc_id % 192 AS INT) AS width,
       CAST(64 + (doc_id * 7) % 192 AS INT) AS height,
       CAST(octet_length(encode(text)) + 33 AS BIGINT) AS n_bytes
FROM documents WHERE doc_id < 200
"""


def rt_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment driver-verified end-to-end:
    events stream through ``stream_enrich`` against the (static)
    customer catalog — nation id and a flag for orphan users with no
    catalog row — then aggregate per (nation, event_type) AFTER the
    parquet sink round-trip. Enrichment is a stateless per-row map +
    broadcast join, so the result is batching-invariant; the oracle is
    the plain batch left join. A dropped orphan row (inner-join drift)
    or a stale catalog resolution changes the row set."""
    from gdutils_spark.streaming import stream_enrich

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 40)
        .select("user_id", "event_type", "ts")
    )
    catalog = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("uid"), F.col("c_nationkey").alias("nation")
        )
        .where(F.col("uid") % 3 != 0)  # leave holes → orphan path exercised
    )
    back = _parquet_roundtrip(
        spark, "rt_stream_enrich", e,
        lambda stream: stream_enrich(stream, catalog, "user_id", "uid").select(
            "user_id", "event_type", F.col("nation"),
            F.col("uid").isNull().alias("orphan"),
        ),
    )
    return back.groupBy("nation", "event_type", "orphan").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


_RT_STREAM_ENRICH_SQL = """
WITH e AS (SELECT user_id, event_type FROM events WHERE user_id < 40),
cat AS (
  SELECT c_custkey AS uid, c_nationkey AS nation FROM customer
  WHERE c_custkey % 3 <> 0
),
j AS (
  SELECT e.user_id, e.event_type, cat.nation, cat.uid IS NULL AS orphan
  FROM e LEFT JOIN cat ON e.user_id = cat.uid
)
SELECT nation, event_type, orphan,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM j GROUP BY nation, event_type, orphan
"""


# ---------------------------------------------------------------------------
# K6: server-rendered plot URL builder, driver-verified
# ---------------------------------------------------------------------------


def _configured_plotter(catalog=None):
    """One fixed plotter configuration shared by the Spark query and the
    oracle literal, so the two sides derive the plot query string from
    the same builder code (reference plot surface:
    /root/reference/gdutils/plot/plotter.py:271-330)."""
    from gdutils_spark.plot.plotter import ErddapPlotter

    p = ErddapPlotter(
        "https://example.org/erddap", catalog=catalog, response="largePng"
    )
    p.set_colorbar(colorbar="Rainbow", continuous="C", scale="Log")
    p.set_marker_color("blue")
    p.set_marker_style("Filled Circle", 7)
    p.set_legend_loc("Off")
    return p


def rt_plot_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 plot URLs relationally verified: one server-rendered image
    request URL per deployment, composed JVM-side from the plotter's
    percent-encoded plot query plus a per-dataset tabledap constraint
    derived from the data (integer west-bound of the track). The oracle
    rebuilds the identical URL in SQL, so the layout
    ``{server}/{protocol}/{id}.{response}?vars&constraints&plot-params``
    and the builder's encoding are hash-checked row by row."""
    catalog, prof = _glider_fixture(spark, sf_dir)
    p = _configured_plotter(catalog)
    bounds = prof.groupBy("dataset_id").agg(
        F.min("longitude").cast("long").cast("string").alias("lon_min")
    )
    url = F.concat(
        F.lit(f"{p.server}/{p.protocol}/"),
        F.col("dataset_id"),
        F.lit(f".{p.response}?time,latitude,longitude&longitude>="),
        F.col("lon_min"),
        F.lit("&" + p.build_plot_query_string()),
    )
    return bounds.select("dataset_id", url.alias("image_url"))


_RT_PLOT_URLS_SQL = f"""
WITH prof AS ({_FIX_PROF_SQL}),
b AS (
  SELECT dataset_id,
         CAST(CAST(MIN(longitude) AS BIGINT) AS VARCHAR) AS lon_min
  FROM prof GROUP BY dataset_id
)
SELECT dataset_id,
       'https://example.org/erddap/tabledap/' || dataset_id
       || '.largePng?time,latitude,longitude&longitude>=' || lon_min
       || '&{_configured_plotter().build_plot_query_string()}' AS image_url
FROM b
"""


# ---------------------------------------------------------------------------
# S2: live Advanced-Search catalog source (file:// transport)
# ---------------------------------------------------------------------------


def rt_search_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 Advanced-Search catalog source, end-to-end through the
    ``erddap`` DataSource's file:// transport
    (/root/reference/gdutils/__init__.py:483,506-527 — ``get_search_url``
    + ``pd.read_csv`` + delayed-mode drop): a deterministic catalog CSV
    derived from ``supplier`` is served as ``{dir}/search/advanced.csv``;
    ``GdacClient.search_datasets`` (catalog-only / server-backed mode)
    issues the search with free-text + bbox + time kwargs, the transport
    evaluates searchFor substring over title/summary/institution and
    extent INTERSECTION against the fixture's min/max lat/lon/time
    columns, ERDDAP-style headers normalize to snake_case (P3), and the
    client drops ``allDatasets`` + ``-delayed`` rows. The oracle replays
    the identical derivation + predicates in SQL."""
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rows = sorted(
        ((r["s_suppkey"], r["s_name"]) for r in sup.collect()), key=lambda t: t[0]
    )
    tmp = _work_dir("search_catalog")
    os.makedirs(os.path.join(tmp, "search"), exist_ok=True)
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)

    def _iso(d: datetime) -> str:
        return d.strftime("%Y-%m-%d %H:%M:%S")

    with open(os.path.join(tmp, "search", "advanced.csv"), "w") as f:
        f.write(
            "Dataset ID,Title,Summary,Institution,tabledap,"
            "min_lat,max_lat,min_lon,max_lon,min_time,max_time\n"
        )
        # a catalog header row every live server returns; the client must
        # drop it (reference __init__.py:516)
        f.write(
            "allDatasets,All Datasets,every dataset on this server,GDAC,"
            f"https://gdac.example.org/erddap/tabledap/allDatasets,"
            f"-90.0,90.0,-180.0,180.0,{_iso(t0)},{_iso(t0 + timedelta(days=365))}\n"
        )
        for k, name in rows:
            ds = f"sg-{k:04d}" + ("-delayed" if k % 10 == 0 else "")
            mission = "arctic transect" if k % 3 == 0 else "coastal survey"
            inst = "WHOI" if k % 2 == 0 else "MBARI"
            lat0 = float(k % 50) - 25.0
            lon0 = float(k % 140) - 70.0
            tmin = t0 + timedelta(days=k % 90)
            f.write(
                f"{ds},Deployment {name},glider mission {mission},{inst},"
                f"https://gdac.example.org/erddap/tabledap/{ds},"
                f"{lat0},{lat0 + 4.0},{lon0},{lon0 + 6.0},"
                f"{_iso(tmin)},{_iso(tmin + timedelta(days=30))}\n"
            )
    client = GdacClient(spark, server=f"file://{tmp}")
    client.search_datasets(
        {
            "search_for": "coastal",
            "min_lat": -5.0,
            "max_lat": 20.0,
            "min_time": "2024-02-01",
        }
    )
    return client.datasets


_RT_SEARCH_SQL = """
WITH cat AS (
  SELECT concat('sg-', lpad(CAST(s_suppkey AS VARCHAR), 4, '0'),
                CASE WHEN s_suppkey % 10 = 0 THEN '-delayed' ELSE '' END)
           AS dataset_id,
         concat('Deployment ', s_name) AS title,
         concat('glider mission ',
                CASE WHEN s_suppkey % 3 = 0 THEN 'arctic transect'
                     ELSE 'coastal survey' END) AS summary,
         CASE WHEN s_suppkey % 2 = 0 THEN 'WHOI' ELSE 'MBARI' END AS institution,
         CAST(s_suppkey % 50 AS DOUBLE) - 25.0 AS min_lat,
         CAST(s_suppkey % 50 AS DOUBLE) - 21.0 AS max_lat,
         TIMESTAMP '2024-01-01' + to_days(CAST(s_suppkey % 90 AS INT) + 30)
           AS max_time
  FROM supplier
)
SELECT CAST(NULL AS VARCHAR) AS subset,
       concat('https://gdac.example.org/erddap/tabledap/', dataset_id) AS tabledap,
       CAST(NULL AS VARCHAR) AS make_a_graph,
       CAST(NULL AS VARCHAR) AS files,
       title, summary,
       CAST(NULL AS VARCHAR) AS fgdc,
       CAST(NULL AS VARCHAR) AS iso_19115,
       CAST(NULL AS VARCHAR) AS info,
       CAST(NULL AS VARCHAR) AS background_info,
       CAST(NULL AS VARCHAR) AS rss,
       CAST(NULL AS VARCHAR) AS email,
       institution, dataset_id
FROM cat
WHERE contains(lower(concat_ws(' ', title, summary, institution)), 'coastal')
  AND max_lat >= -5.0 AND min_lat <= 20.0
  AND max_time >= TIMESTAMP '2024-02-01'
  AND NOT ends_with(dataset_id, 'delayed')
"""


def rt_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SKETCH MAINTENANCE driver-verified: the event stream is
    drained one parquet file per micro-batch (``maxFilesPerTrigger=1``,
    so the merge path genuinely runs), each batch folds into its own
    histogram register table and ``stream_merge_sketch`` merges it onto
    the latest committed version — the versioned-snapshot protocol of
    the streaming MERGE INTO, applied to mergeable-sketch state. The
    returned relation is the FINAL register table; the oracle computes
    the whole-corpus binning directly, so a dropped batch, double merge
    (replay bug) or binning drift changes the hashed counters."""
    from gdutils_spark.operators.sketches import hist_merge, hist_registers
    from gdutils_spark.queries_ext import HIST_HI, HIST_LO, HIST_NBINS
    from gdutils_spark.streaming import latest_sketch, stream_merge_sketch

    e = load_table(spark, sf_dir, "events").select("event_id", "value")
    tmp = _work_dir("stream_hist")
    src, chk, snap = (os.path.join(tmp, d) for d in ("src", "chk", "snap"))
    e.repartition(4).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_merge_sketch(
        stream,
        build=lambda b: hist_registers(b, "value", HIST_LO, HIST_HI, HIST_NBINS),
        merge=hist_merge,
        snapshot_dir=snap,
        checkpoint=chk,
    )
    _drain(q, "rt_stream_quantile_sketch")
    return latest_sketch(spark, snap).select("bin", "cnt")


def _stream_hist_sql() -> str:
    from gdutils_spark.queries_ext import HIST_HI, HIST_LO, HIST_NBINS

    return f"""
WITH vals AS (
  -- NaN skipped like NULL (the hist_registers rule)
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
)
SELECT CAST(least(greatest(floor((v - CAST({HIST_LO} AS DOUBLE))
                                 * CAST({HIST_NBINS} AS DOUBLE)
                                 / (CAST({HIST_HI} AS DOUBLE)
                                    - CAST({HIST_LO} AS DOUBLE))),
                           CAST(0 AS DOUBLE)),
                  CAST({HIST_NBINS - 1} AS DOUBLE)) AS INT) AS bin,
       COUNT(*) AS cnt
FROM vals GROUP BY 1
"""


def rt_stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WEIGHTED RESERVOIR driver-verified: the document
    stream drains one parquet file per micro-batch, each batch
    priority-samples its own k docs (md5-frac(id)/weight priorities)
    and ``stream_merge_sketch`` merges onto the last committed sample
    via the bottom-k-by-priority lemma — weighted sampling WITHOUT
    replacement over an unbounded stream at k-row state, no RNG. The
    oracle computes the whole-corpus priority sample directly, so a
    dropped batch, a replay double-merge, or a merge that violates the
    lemma changes the hashed sample."""
    from gdutils_spark.operators.sampling import (
        priority_sample,
        priority_sample_merge,
    )
    from gdutils_spark.operators.text import tokens as _tokens
    from gdutils_spark.queries_ext import WS_K
    from gdutils_spark.streaming import latest_sketch, stream_merge_sketch

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    tmp = _work_dir("stream_wsample")
    src, chk, snap = (os.path.join(tmp, p) for p in ("src", "chk", "snap"))
    d.repartition(4).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_merge_sketch(
        stream,
        build=lambda b: priority_sample(b, "doc_id", "n_tokens", WS_K),
        merge=lambda p, c: priority_sample_merge(p, c, WS_K),
        snapshot_dir=snap,
        checkpoint=chk,
    )
    _drain(q, "rt_stream_weighted_sample")
    return latest_sketch(spark, snap).select(
        F.col("id").alias("doc_id"),
        F.col("weight").alias("n_tokens"),
        "priority",
    )


def _stream_wsample_sql() -> str:
    from gdutils_spark.queries_ext import _weighted_sample_sql

    return _weighted_sample_sql()


def _click_purchase_join(
    spark: SparkSession, sf_dir: str, name: str, **join_kw
) -> DataFrame:
    """The click→purchase attribution round trip of the three
    stream-stream join queries: events of users below 60 stream once,
    split into a click and a purchase stream, which
    ``stream_stream_join(**join_kw)`` joins on user within 6 hours."""
    from gdutils_spark.streaming import stream_stream_join

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 60)
        .select("user_id", "event_type", "ts", "event_id")
    )

    def side(stream: DataFrame, kind: str) -> DataFrame:
        return stream.where(F.col("event_type") == kind).select(
            "user_id",
            F.col("ts").alias(f"{kind}_ts"),
            F.col("event_id").alias(f"{kind}_id"),
        )

    def build(stream: DataFrame) -> DataFrame:
        return stream_stream_join(
            side(stream, "click"),
            side(stream, "purchase"),
            key="user_id",
            left_time="click_ts",
            right_time="purchase_ts",
            max_delay="6 hours",
            **join_kw,
        ).select("user_id", "click_id", "purchase_id")

    return _parquet_roundtrip(spark, name, e, build)


def rt_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join driver-verified end-to-end: the
    click and purchase slices of the event stream join on user within a
    6-hour event-time window (``stream_stream_join`` — watermarks on
    both inputs + time bounds in the condition, so buffered state
    expires), append-sink to parquet, read back. The oracle is the plain
    batch interval join: a dropped or duplicated match (the failure
    modes of stream-stream state management) changes the row set."""
    return _click_purchase_join(spark, sf_dir, "rt_stream_stream_join")


def rt_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join driver-verified
    end-to-end: the attribution report that also keeps clicks that never
    converted. Matches emit eagerly like the inner variant; an unmatched
    click null-emits only once the global watermark strictly passes its
    join-window end (``click_ts + 6h``) — clicks whose window is still
    open when the availableNow drain finishes are withheld. The oracle
    is the batch left interval join WITH that watermark cut encoded:
    ``W = min(max(click_ts), max(purchase_ts)) − 1h`` and unmatched
    clicks kept iff ``click_ts + 6h < W`` (strictness pinned by the
    boundary case in ``test_streaming.py``). A dropped match, duplicated
    match, early null emission (row later matched = wrong), or missed
    null emission all change the row set."""
    return _click_purchase_join(
        spark, sf_dir, "rt_stream_stream_left_join", watermark="1 hour",
        how="left_outer",
    )


def rt_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER stream-stream interval join driver-verified
    end-to-end — the complete attribution audit: matches, clicks that
    never converted (left orphans) AND purchases with no preceding
    click (right orphans). Matches emit eagerly; a left orphan
    null-emits once the watermark strictly passes ``click_ts + 6h``
    (the pinned left rule); a right orphan once it strictly passes
    ``purchase_ts`` — its window end on the shared clock, since a
    matching click can be no later than the purchase (boundary
    measured and pinned in ``test_streaming.py``). The oracle is the
    batch full interval join with BOTH watermark cuts encoded —
    a dropped/duplicated match or an early/missed null emission on
    either side changes the row set."""
    return _click_purchase_join(
        spark, sf_dir, "rt_stream_stream_full_join", watermark="1 hour",
        how="full_outer",
    )


_RT_STREAM_SS_FULL_JOIN_SQL = """
WITH e AS (
  SELECT user_id, event_type, ts, event_id FROM events WHERE user_id < 60
),
c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
      FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
      FROM e WHERE event_type = 'purchase'),
wm AS (SELECT least((SELECT max(click_ts) FROM c),
                    (SELECT max(purchase_ts) FROM p))
              - INTERVAL 1 HOUR AS w),
m AS (
  SELECT c.user_id, c.click_id, c.click_ts, p.purchase_id
  FROM c LEFT JOIN p ON p.user_id = c.user_id
   AND p.purchase_ts >= c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 6 HOUR
),
rphan AS (
  SELECT p.user_id, p.purchase_ts, p.purchase_id FROM p
  WHERE NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = p.user_id
      AND p.purchase_ts >= c.click_ts
      AND p.purchase_ts <= c.click_ts + INTERVAL 6 HOUR)
)
SELECT user_id, click_id, purchase_id FROM m WHERE purchase_id IS NOT NULL
UNION ALL
SELECT user_id, click_id, CAST(NULL AS BIGINT) AS purchase_id
FROM m, wm
WHERE purchase_id IS NULL AND click_ts + INTERVAL 6 HOUR < wm.w
UNION ALL
SELECT user_id, CAST(NULL AS BIGINT) AS click_id, purchase_id
FROM rphan, wm
WHERE purchase_ts < wm.w
"""


_RT_STREAM_SS_LEFT_JOIN_SQL = """
WITH e AS (
  SELECT user_id, event_type, ts, event_id FROM events WHERE user_id < 60
),
c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
      FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
      FROM e WHERE event_type = 'purchase'),
wm AS (SELECT least((SELECT max(click_ts) FROM c),
                    (SELECT max(purchase_ts) FROM p))
              - INTERVAL 1 HOUR AS w),
m AS (
  SELECT c.user_id, c.click_id, c.click_ts, p.purchase_id
  FROM c LEFT JOIN p ON p.user_id = c.user_id
   AND p.purchase_ts >= c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 6 HOUR
)
SELECT user_id, click_id, purchase_id FROM m WHERE purchase_id IS NOT NULL
UNION ALL
SELECT user_id, click_id, CAST(NULL AS BIGINT) AS purchase_id
FROM m, wm
WHERE purchase_id IS NULL AND click_ts + INTERVAL 6 HOUR < wm.w
"""


_RT_STREAM_SS_JOIN_SQL = """
WITH e AS (
  SELECT user_id, event_type, ts, event_id FROM events WHERE user_id < 60
),
c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
      FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
      FROM e WHERE event_type = 'purchase')
SELECT c.user_id, c.click_id, p.purchase_id
FROM c JOIN p ON p.user_id = c.user_id
 AND p.purchase_ts >= c.click_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 6 HOUR
"""


def rt_stream_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FEED-HEALTH maintenance driver-verified: the event
    stream drains one TIME-SLICED parquet file per micro-batch (four
    week-slices, ``maxFilesPerTrigger=1`` — file processing order is
    whatever the source picks, which is exactly what the union-of-chunks
    register design must tolerate), each batch builds its per-entity
    gap registers and ``stream_merge_sketch`` merges them under the
    versioned-snapshot protocol. The returned relation resolves the
    final registers into the gap report; the oracle computes the
    whole-corpus report directly, so a dropped batch, a replay
    double-merge, or an eager (order-sensitive) boundary fold changes
    the hashed counters."""
    from gdutils_spark.operators.timeseries import (
        gap_merge,
        gap_registers,
        gap_report_from_registers,
    )
    from gdutils_spark.queries_ext import GAP_THR_S
    from gdutils_spark.streaming import latest_sketch, stream_merge_sketch

    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    tmp = _work_dir("stream_gaps")
    src, chk, snap = (os.path.join(tmp, d) for d in ("src", "chk", "snap"))
    # four time-disjoint slices -> four files -> four micro-batches in
    # source-chosen order; per entity every chunk is a clean time slice.
    # Sliced on EQUAL EPOCH-MICROS RANGES from min/max(ts) — never on
    # calendar fields like day-of-month, which interleave chunks (and
    # silently raise `overlapped`) the moment the fixture crosses a
    # month boundary. The 1-row bounds broadcast back onto the scan.
    # NULL ts would slice to __k = NULL -> a FIFTH __HIVE_DEFAULT_PARTITION__
    # file and micro-batch, contradicting the four-slice contract below
    # (gap_registers drops NULL ts anyway, so filtering here is lossless)
    e = e.where(F.col("ts").isNotNull())
    if e.limit(1).count() == 0:
        # empty stream -> no micro-batches -> no committed snapshot to
        # resolve; the defined result is the batch path's empty report
        # (identical schema), r13 empty-fixture hunt
        return gap_report_from_registers(
            gap_registers(e, "user_id", "ts", GAP_THR_S), GAP_THR_S
        )
    bounds = e.agg(
        F.min(F.unix_micros("ts")).alias("__t0"),
        F.max(F.unix_micros("ts")).alias("__t1"),
    )
    sliced = e.join(F.broadcast(bounds)).withColumn(
        "__k",
        F.expr("((unix_micros(ts) - __t0) * 4) div (__t1 - __t0 + 1)").cast("int"),
    )
    # ONE pass stages all four slices (a per-slice filter loop scans the
    # corpus 4x — measured ~1.3 s of the query's wall at sf0.1): hash-
    # repartition on __k puts each slice in exactly one task, so each
    # partitionBy dir holds exactly one file, then the files move into
    # the flat source dir (a rename, not IO) — maxFilesPerTrigger=1
    # needs one file per time-slice or chunks would interleave
    staged = os.path.join(tmp, "staged")
    sliced.select("user_id", "ts", "__k").repartition(4, "__k").write.partitionBy(
        "__k"
    ).parquet(staged)
    os.makedirs(src, exist_ok=True)
    for d in os.listdir(staged):
        if not d.startswith("__k="):
            continue
        k = d.split("=", 1)[1]
        files = [
            f for f in os.listdir(os.path.join(staged, d)) if f.endswith(".parquet")
        ]
        if len(files) != 1:  # not assert: must survive python -O
            raise RuntimeError(f"slice {k}: expected exactly 1 file, got {files}")
        os.rename(
            os.path.join(staged, d, files[0]), os.path.join(src, f"slice_{k}.parquet")
        )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_merge_sketch(
        stream,
        build=lambda b: gap_registers(b, "user_id", "ts", GAP_THR_S),
        merge=gap_merge,
        snapshot_dir=snap,
        checkpoint=chk,
    )
    _drain(q, "rt_stream_gap_report")
    return gap_report_from_registers(latest_sketch(spark, snap), GAP_THR_S)


def _stream_gap_sql() -> str:
    from gdutils_spark.queries_ext import GAP_THR_S

    thr = GAP_THR_S * 1_000_000
    return f"""
WITH base AS (
  SELECT user_id AS e, epoch_us(ts) AS t
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), lagged AS (
  SELECT e, t, t - lag(t) OVER (PARTITION BY e ORDER BY t) AS d FROM base
), agg AS (
  SELECT e,
         COUNT(*) AS n_obs,
         MAX(t) - MIN(t) AS span_us,
         CAST(COALESCE(SUM(CASE WHEN d > {thr} THEN 1 END), 0) AS BIGINT) AS n_gaps,
         COALESCE(MAX(d), 0) AS max_gap_us,
         COALESCE(SUM(CASE WHEN d > {thr} THEN d END), 0) AS lost_us
  FROM lagged GROUP BY e
)
SELECT e AS entity,
       n_obs,
       CAST(span_us / 1000000 AS DOUBLE) AS span_s,
       n_gaps,
       CAST(max_gap_us / 1000000 AS DOUBLE) AS max_gap_s,
       CASE WHEN span_us = 0 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(1.0 AS DOUBLE)
                 - CAST(lost_us AS DOUBLE) / CAST(span_us AS DOUBLE)
       END AS coverage_frac,
       FALSE AS overlapped
FROM agg
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

RT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "rt_csv_batch_daily": rt_csv_batch_daily,
    "rt_csv_sink_roundtrip": rt_csv_sink_roundtrip,
    "rt_json_records_typed": rt_json_records_typed,
    "rt_client_datasets": rt_client_datasets,
    "rt_client_api_merge": rt_client_api_merge,
    "rt_client_api_merge_right": rt_client_api_merge_right,
    "rt_dataset_profiles": rt_dataset_profiles,
    "rt_dataset_timeseries": rt_dataset_timeseries,
    "rt_info_card": rt_info_card,
    "rt_canned_filters": rt_canned_filters,
    "rt_geo_track_points": rt_geo_track_points,
    "rt_kml_coords": rt_kml_coords,
    "rt_plot_urls": rt_plot_urls,
    "rt_stream_dedup": rt_stream_dedup,
    "rt_stream_daily_counts": rt_stream_daily_counts,
    "rt_search_catalog": rt_search_catalog,
    "rt_stream_sessions": rt_stream_sessions,
    "rt_stream_stateful": rt_stream_stateful,
    "rt_stream_enrich": rt_stream_enrich,
    "rt_stream_stream_join": rt_stream_stream_join,
    "rt_stream_stream_left_join": rt_stream_stream_left_join,
    "rt_stream_stream_full_join": rt_stream_stream_full_join,
    "rt_stream_quantile_sketch": rt_stream_quantile_sketch,
    "rt_stream_weighted_sample": rt_stream_weighted_sample,
    "rt_stream_media": rt_stream_media,
    "rt_jsonl_shards": rt_jsonl_shards,
    "rt_orc_roundtrip": rt_orc_roundtrip,
    "rt_stream_active_users": rt_stream_active_users,
    "rt_stream_gap_report": rt_stream_gap_report,
}

RT_ORACLE: dict[str, str] = {
    "rt_csv_batch_daily": _RT_CSV_BATCH_SQL,
    "rt_csv_sink_roundtrip": _RT_CSV_SINK_SQL,
    "rt_json_records_typed": _RT_JSON_SQL,
    "rt_client_datasets": _RT_CLIENT_DATASETS_SQL,
    "rt_client_api_merge": _RT_API_MERGE_SQL,
    "rt_client_api_merge_right": _RT_API_MERGE_RIGHT_SQL,
    "rt_dataset_profiles": _RT_DATASET_PROFILES_SQL,
    "rt_dataset_timeseries": _RT_DATASET_TS_SQL,
    "rt_info_card": _RT_INFO_CARD_SQL,
    "rt_canned_filters": _RT_CANNED_SQL,
    "rt_geo_track_points": _RT_GEO_POINTS_SQL,
    "rt_kml_coords": _RT_KML_SQL,
    "rt_plot_urls": _RT_PLOT_URLS_SQL,
    "rt_stream_dedup": _RT_STREAM_DEDUP_SQL,
    "rt_stream_daily_counts": _RT_STREAM_DAILY_SQL,
    "rt_search_catalog": _RT_SEARCH_SQL,
    "rt_stream_sessions": _RT_STREAM_SESSIONS_SQL,
    "rt_stream_stateful": _RT_STREAM_STATEFUL_SQL,
    "rt_stream_enrich": _RT_STREAM_ENRICH_SQL,
    "rt_stream_stream_join": _RT_STREAM_SS_JOIN_SQL,
    "rt_stream_stream_left_join": _RT_STREAM_SS_LEFT_JOIN_SQL,
    "rt_stream_stream_full_join": _RT_STREAM_SS_FULL_JOIN_SQL,
    "rt_stream_quantile_sketch": _stream_hist_sql(),
    # the streamed weighted reservoir must equal the whole-corpus
    # priority sample — the merge-losslessness claim, same SQL as
    # doc_weighted_sample (deferred import: queries_ext also imports
    # from this module at function level)
    "rt_stream_weighted_sample": _stream_wsample_sql(),
    "rt_stream_media": _RT_STREAM_MEDIA_SQL,
    "rt_jsonl_shards": _RT_JSONL_SHARDS_SQL,
    "rt_orc_roundtrip": _RT_ORC_SQL,
    "rt_stream_active_users": _RT_STREAM_ACTIVE_SQL,
    # the streamed chunk registers must resolve to the whole-corpus gap
    # report — the union-of-chunks merge lemma end-to-end
    "rt_stream_gap_report": _stream_gap_sql(),
}
