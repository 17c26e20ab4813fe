"""CSV/JSON source adapters: units-row drop, filename-derived ids, REST
type coercions."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import types as T

from gdutils_spark.sources.csv import read_dataset_csv_batch, read_erddap_csv
from gdutils_spark.sources.rest import read_json_records

PROFILE_CSV = """time,latitude,longitude,profile_id
UTC,degrees_north,degrees_east,1
2024-01-01T00:00:00Z,38.5,-73.2,1
2024-01-01T06:00:00Z,38.6,-73.1,2
"""

SCHEMA = T.StructType(
    [
        T.StructField("time", T.TimestampType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("profile_id", T.LongType()),
    ]
)


@pytest.fixture()
def csv_dir():
    d = tempfile.mkdtemp(prefix="erddap_csv_")
    for name in ("unit_191-20231201T0000.csv", "blue-20240101T0600-profiles.csv"):
        with open(os.path.join(d, name), "w") as f:
            f.write(PROFILE_CSV)
    yield d


def test_units_row_dropped(spark, csv_dir):
    df = read_erddap_csv(
        spark, os.path.join(csv_dir, "unit_191-20231201T0000.csv"), schema=SCHEMA
    )
    rows = df.collect()
    assert len(rows) == 2  # units row gone
    assert rows[0]["latitude"] in (38.5, 38.6)


def test_column_name_normalization(spark):
    d = tempfile.mkdtemp()
    p = os.path.join(d, "x.csv")
    with open(p, "w") as f:
        f.write("Dataset ID,Some Col\na,1\n")
    df = read_erddap_csv(spark, p, time_column="nope", drop_units_row=False)
    assert df.columns == ["dataset_id", "some_col"]


def test_csv_batch_filename_ids(spark, csv_dir):
    """S9: dataset_id from filename, whole glob = one job
    (/root/reference/gdutils/io.py:11-53 without the per-file loop)."""
    df = read_dataset_csv_batch(spark, os.path.join(csv_dir, "*.csv"), schema=SCHEMA)
    ids = {r["dataset_id"] for r in df.select("dataset_id").distinct().collect()}
    assert ids == {"unit_191-20231201T0000", "blue-20240101T0600"}
    assert df.count() == 4


def test_rest_json_coercions(spark):
    """S7/S8 typed coercions (/root/reference/gdutils/apis/dac.py:28-44,
    /root/reference/gdutils/apis/status.py:16-54)."""
    records = [
        {
            "name": "a-20240101T0000",
            "completed": True,
            "delayed_mode": None,
            "created": 1704067200000,
            "start_date": "2024-01-01 00:00:00",
            "num_profiles": None,
            "deployment_lat": 38.5,
            "tabledap": "http://x",
        },
        {
            "name": "b-20240101T0000",
            "completed": None,
            "delayed_mode": True,
            "created": None,
            "start_date": "not a date",
            "num_profiles": 12,
            "deployment_lat": None,
            "tabledap": None,
        },
    ]
    df = read_json_records(
        spark,
        records,
        bool_columns=("completed", "delayed_mode"),
        epoch_ms_columns=("created",),
        timestamp_columns=("start_date",),
        int_columns=("num_profiles",),
        float_columns=("deployment_lat",),
        null_flag_column=("orphaned", "tabledap"),
    )
    rows = {r["name"]: r for r in df.collect()}
    a, b = rows["a-20240101T0000"], rows["b-20240101T0000"]
    assert a["completed"] is True and a["delayed_mode"] is False  # null → False
    assert b["completed"] is False and b["delayed_mode"] is True
    assert str(a["created"]).startswith("2024-01-01")
    assert b["created"] is None
    assert b["start_date"] is None  # coerce failure → NULL
    assert a["num_profiles"] == 0 and b["num_profiles"] == 12  # null → 0
    assert a["orphaned"] is False and b["orphaned"] is True


def test_erddap_csv_inferred_schema_still_drops_units_row(spark, tmp_path):
    """Without an explicit schema the units row pollutes type inference
    (time infers as STRING, 'UTC' is a valid string) — the IS NOT NULL
    drop silently kept the units row. The string-typed path must filter
    via try_to_timestamp instead."""
    from gdutils_spark.sources.csv import read_erddap_csv

    p = tmp_path / "unit.csv"
    p.write_text(
        "time,temperature\n"
        "UTC,degree_C\n"
        "2024-01-01T00:00:00Z,3.5\n"
        "2024-01-02T00:00:00Z,4.5\n"
    )
    df = read_erddap_csv(spark, str(p))  # no schema -> inference
    rows = df.collect()
    assert len(rows) == 2  # units row gone even on the inferred path
    assert all(r.time.startswith("2024") for r in rows)


def test_erddap_csv_inferred_epoch_time_rows_survive(spark, tmp_path):
    """ERDDAP serves time as numeric seconds-since-epoch when requested
    that way (&time>=...&.units=seconds). On the inferred path those
    data rows are strings that FAIL try_to_timestamp — the units-row
    filter must not eat them. Numeric-parse acceptance keeps them; the
    units literal ('seconds since 1970-...') still fails both parses."""
    from gdutils_spark.sources.csv import read_erddap_csv

    p = tmp_path / "epoch.csv"
    p.write_text(
        "time,temperature\n"
        "seconds since 1970-01-01T00:00:00Z,degree_C\n"
        "1704067200.5,3.5\n"
        "1704153600,4.5\n"
    )
    df = read_erddap_csv(spark, str(p))
    rows = sorted(df.collect())
    assert len(rows) == 2
    # inference keeps columns as STRING (units row pollutes it — the
    # documented no-schema caveat); presence, not type, is under test
    assert [r.temperature for r in rows] == ["3.5", "4.5"]


# ---- load_table schema memo ----------------------------------------------

BENCH_SF = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "benchmark", "data", "sf0.01",
)


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _coalesced(df) -> bool:
    """The table loaded through the single-partition gate."""
    return "Repartition 1, false" in df._jdf.queryExecution().optimizedPlan().toString()


def test_warm_load_table_starts_no_job(spark):
    from gdutils_spark.sources import tables

    tables._schema_memo.clear()
    j0 = _next_job_id(spark)
    tables.load_table(spark, BENCH_SF, "orders")  # cold: infers
    j1 = _next_job_id(spark)
    tables.load_table(spark, BENCH_SF, "orders")  # warm: memo hit
    j2 = _next_job_id(spark)
    assert j1 > j0  # the probe sees the inference job
    assert j2 == j1


def test_memo_hit_matches_fresh_inference_on_every_table(spark):
    from gdutils_spark.sources import tables

    for name in tables.TABLES:
        tables._schema_memo.clear()
        fresh = tables.load_table(spark, BENCH_SF, name)
        hit = tables.load_table(spark, BENCH_SF, name)
        assert hit.schema == fresh.schema, name
        assert hit.count() == fresh.count(), name
        assert hit.exceptAll(fresh).isEmpty(), name
        # timestamp normalization holds on the memo path too
        for c in tables._TS_COLS.get(name, ()):
            assert dict(hit.dtypes)[c] == "timestamp", (name, c)


def test_memo_sees_file_rewritten_in_place(spark, tmp_path):
    """A rewrite with a different schema (and a different timestamp
    encoding) must not be read with the stale memoized schema."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gdutils_spark.sources.tables import load_table

    path = tmp_path / "events.parquet"
    stamps = [dt.datetime(2024, 1, 1, 6), dt.datetime(2024, 2, 3, 4, 5)]
    pq.write_table(
        pa.table({"ts": pa.array(stamps, pa.timestamp("us")), "a": [1, 2]}),
        path,
    )
    v1 = load_table(spark, str(tmp_path), "events")
    load_table(spark, str(tmp_path), "events")  # memo hit
    assert v1.columns == ["ts", "a"]
    pq.write_table(
        pa.table({
            "ts": pa.array(stamps, pa.timestamp("ns")),
            "a": ["x", "y"],
            "b": [3.5, 4.5],
        }),
        path,
    )
    v2 = load_table(spark, str(tmp_path), "events")
    assert v2.dtypes == [("ts", "timestamp"), ("a", "string"), ("b", "double")]
    rows = sorted(v2.collect())
    assert [r.ts for r in rows] == stamps
    assert [r.a for r in rows] == ["x", "y"]


def test_memo_misses_when_inference_conf_changes(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gdutils_spark.sources.tables import load_table

    pq.write_table(pa.table({"blob": pa.array([b"ab", b"cd"], pa.binary())}),
                   tmp_path / "blobs.parquet")
    key = "spark.sql.parquet.binaryAsString"
    assert load_table(spark, str(tmp_path), "blobs").dtypes == [("blob", "binary")]
    spark.conf.set(key, "true")
    try:
        df = load_table(spark, str(tmp_path), "blobs")
        assert df.dtypes == [("blob", "string")]
        assert sorted(r.blob for r in df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.unset(key)
    assert load_table(spark, str(tmp_path), "blobs").dtypes == [("blob", "binary")]


def test_directory_table_still_loads(spark, tmp_path):
    """A multi-file table directory keeps plain inference (no memo) and
    its plain scan (no single-partition gate)."""
    from gdutils_spark.sources import tables

    d = str(tmp_path / "nums.parquet")
    spark.range(0, 10, numPartitions=2).write.parquet(d)
    df = tables.load_table(spark, str(tmp_path), "nums")
    assert sorted(r.id for r in df.collect()) == list(range(10))
    assert not any(k[0] == os.path.realpath(d) for k in tables._schema_memo)
    assert not _coalesced(df)


def test_concurrent_loads_share_one_memo_entry_per_table(spark):
    """Driver threads (the operators' construction pools) may load
    tables at once: every load still gets the inferred schema, and the
    memo ends with one entry per table."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from gdutils_spark.sources import tables

    names = ("orders", "events", "region", "embeddings")
    expected = {n: tables.load_table(spark, BENCH_SF, n).schema for n in names}
    tables._schema_memo.clear()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futs = [
                (n, pool.submit(tables.load_table, spark, BENCH_SF, n))
                for n in names * 8
            ]
            got = [(n, f.result(timeout=120).schema) for n, f in futs]
    finally:
        sys.setswitchinterval(interval)
    assert all(schema == expected[n] for n, schema in got)
    paths = [k[0] for k in tables._schema_memo]
    assert sorted(paths) == sorted(
        os.path.realpath(os.path.join(BENCH_SF, f"{n}.parquet")) for n in names
    )


def test_load_table_leaves_session_conf_and_memo_keys_as_found(spark):
    """Loading every table, in either order, changes no session conf, so
    the memo ends with the same keys whichever table loads first. A fresh
    session of the shared context starts from the builder's conf only."""
    from gdutils_spark.sources import tables

    session = spark.newSession()
    keys = []
    for order in (tables.TABLES, tables.TABLES[::-1]):
        tables._schema_memo.clear()
        before = session.conf.getAll
        for name in order:
            tables.load_table(session, BENCH_SF, name)
        assert session.conf.getAll == before
        keys.append(set(tables._schema_memo))
    assert keys[0] == keys[1]
    assert len(keys[0]) == len(tables.TABLES)


# ---- one partition for small tables ----------------------------------------

# the ten glider_requests of the benchmark, plus the CDC merge whose change
# batch is one scan of a gated table
_GATED_QUERIES = (
    "calendar_ymd_events",
    "calendar_ym_orders",
    "calendar_slice_ym",
    "daily_event_stats",
    "yearly_counts",
    "rt_dataset_profiles",
    "rt_dataset_timeseries",
    "rt_canned_filters",
    "rt_plot_urls",
    "rt_json_records_typed",
    "orders_cdc_upsert",
)


def test_small_table_plans_no_exchange(spark):
    """A gated table reports SinglePartition, which satisfies the
    all-tuples, clustered and ordered distributions of a global count, a
    keyed aggregate and a sort: none of them plans an Exchange."""
    from pyspark.sql import functions as F

    from gdutils_spark.sources.tables import load_table

    o = load_table(spark, BENCH_SF, "orders")
    assert _coalesced(o)
    for df in (
        o.groupBy().count(),
        o.groupBy("o_orderstatus").agg(F.sum("o_totalprice")),
        o.orderBy("o_totalprice"),
    ):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_one_partition_gate_keeps_rows(spark, monkeypatch):
    """Two configs, same rows: each query collects the same rows with the
    gate on and with it off (``_ONE_PARTITION_MAX_BYTES = -1``)."""
    from gdutils_spark.queries import QUERIES
    from gdutils_spark.sources import tables

    def run():
        return {
            name: sorted(map(repr, QUERIES[name](spark, BENCH_SF).collect()))
            for name in _GATED_QUERIES
        }

    assert _coalesced(tables.load_table(spark, BENCH_SF, "orders"))
    on = run()
    monkeypatch.setattr(tables, "_ONE_PARTITION_MAX_BYTES", -1)
    assert not _coalesced(tables.load_table(spark, BENCH_SF, "orders"))
    off = run()
    for name in _GATED_QUERIES:
        assert on[name] and on[name] == off[name], name


def test_file_over_the_bound_keeps_the_plain_scan(spark, monkeypatch):
    from gdutils_spark.sources import tables

    size = os.stat(os.path.join(BENCH_SF, "orders.parquet")).st_size
    monkeypatch.setattr(tables, "_ONE_PARTITION_MAX_BYTES", size)
    assert _coalesced(tables.load_table(spark, BENCH_SF, "orders"))
    monkeypatch.setattr(tables, "_ONE_PARTITION_MAX_BYTES", size - 1)
    assert not _coalesced(tables.load_table(spark, BENCH_SF, "orders"))


def test_bound_gates_sf001_tables_and_no_sf01_fact_or_corpus_table(sf_correct):
    """The bound's contract (sources/tables.py): the sf0.01 tables but
    ``lineitem`` are gated, and at sf0.1 no fact or corpus table is."""
    from gdutils_spark.sources import tables

    for name in tables.TABLES:
        st = os.stat(os.path.join(BENCH_SF, f"{name}.parquet"))
        gated = st.st_size <= tables._ONE_PARTITION_MAX_BYTES
        assert gated == (name != "lineitem"), name
    sf01 = os.path.join(os.path.dirname(sf_correct), "sf0.1")
    if not os.path.isdir(sf01):
        pytest.skip("no sf0.1 test data")
    for name in ("orders", "lineitem", "events", "documents", "embeddings"):
        st = os.stat(os.path.join(sf01, f"{name}.parquet"))
        assert st.st_size > tables._ONE_PARTITION_MAX_BYTES, name


def test_warm_calendar_ym_orders_starts_one_job(spark):
    """A warm calendar request plans no Exchange, so its collect is its
    only job (4 with a shuffle stage per aggregate and sort)."""
    from gdutils_spark.queries import QUERIES

    q = QUERIES["calendar_ym_orders"]
    q(spark, BENCH_SF).collect()  # cold: schema inference, codegen
    j0 = _next_job_id(spark)
    q(spark, BENCH_SF).collect()
    assert _next_job_id(spark) - j0 == 1
