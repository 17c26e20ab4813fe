"""Structured Streaming operators: file-source micro-batches must converge
to the same result as the equivalent batch aggregation."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from gdutils_spark.sources.tables import load_table
from gdutils_spark.streaming import (
    stream_daily_stats,
    stream_dedup,
    stream_entity_summaries,
    stream_sessions,
)


@pytest.fixture()
def stream_dirs(spark, sf_smoke):
    """Split the events table into two parquet chunks (micro-batches)."""
    src = tempfile.mkdtemp(prefix="stream_src_")
    chk = tempfile.mkdtemp(prefix="stream_chk_")
    events = load_table(spark, sf_smoke, "events")
    events.where(F.col("event_id") % 2 == 0).write.mode("append").parquet(src)
    events.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    yield src, chk, events
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(chk, ignore_errors=True)


def test_stream_daily_stats_matches_batch(spark, stream_dirs):
    src, chk, events = stream_dirs
    schema = events.schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = stream_daily_stats(stream, time_col="ts", value_col="value")
    q = (
        agg.writeStream.format("memory")
        .queryName("daily_stats_stream")
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["window"]["start"].date(): (r["n_events"], round(r["sum_value"], 6))
        for r in spark.sql("SELECT * FROM daily_stats_stream").collect()
    }
    want = {
        r["date"]: (r["n"], round(r["s"], 6))
        for r in events.groupBy(F.to_date("ts").alias("date"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_stream_dedup(spark, stream_dirs):
    src, chk, events = stream_dirs
    # duplicate every row across both chunks → dedup on event_id halves it
    dup_src = tempfile.mkdtemp(prefix="stream_dup_")
    events.write.mode("append").parquet(dup_src)
    events.write.mode("append").parquet(dup_src)
    try:
        stream = spark.readStream.schema(events.schema).parquet(dup_src)
        dd = stream_dedup(stream, ["event_id"], time_col="ts")
        q = (
            dd.writeStream.format("memory")
            .queryName("dedup_stream")
            .outputMode("append")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        n = spark.sql("SELECT COUNT(*) AS n FROM dedup_stream").collect()[0]["n"]
        assert n == events.count()
    finally:
        shutil.rmtree(dup_src, ignore_errors=True)


def test_stream_dedup_out_of_order_late_data(spark):
    """Deterministic late-data end-to-end for the dedup path: three
    hand-built micro-batches (maxFilesPerTrigger=1, file mtimes pin the
    order) with out-of-order and late rows.

    Pins the contract of dropDuplicatesWithinWatermark:
    * every unique key within the watermark is emitted exactly once
      (stream == batch distinct);
    * a duplicate arriving in a later micro-batch while its key's state
      is live is suppressed (id 3);
    * a duplicate arriving after the watermark has passed its event time
      by more than the delay is NOT re-emitted (id 1) — the late-row
      filter, not state, suppresses it;
    * state is EVICTED as the watermark advances (numRowsRemoved > 0,
      final numRowsTotal < distinct keys) — the watermark bounds state
      size, which is the property that matters at 100 TB/day; it is not
      an output filter.
    """
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tempfile.mkdtemp(prefix="late_src_")
    chk = tempfile.mkdtemp(prefix="late_chk_")

    def write(path, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        pq.write_table(
            pa.Table.from_pandas(
                pdf,
                schema=pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us"))]),
            ),
            path,
        )

    T = "2024-01-01 "
    now = time.time()
    # batch 0: two fresh keys
    write(f"{src}/a.parquet", [(1, T + "10:00:00"), (2, T + "10:10:00")])
    # batch 1: advances the watermark to 11:30 (12:00 - 30 min)
    write(f"{src}/b.parquet", [(3, T + "12:00:00")])
    # batch 2: a very-late duplicate (id 1, state already evicted) and an
    # in-window duplicate (id 3, state live)
    write(f"{src}/c.parquet", [(1, T + "10:00:00"), (3, T + "12:00:00")])
    for i, f in enumerate(["a", "b", "c"]):
        os.utime(f"{src}/{f}.parquet", (now - 300 + i * 100, now - 300 + i * 100))

    try:
        stream = (
            spark.readStream.schema("event_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        dd = stream_dedup(stream, ["event_id"], time_col="ts", watermark="30 minutes")
        q = (
            dd.writeStream.format("memory")
            .queryName("late_dedup_stream")
            .outputMode("append")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        emitted = [
            r.event_id
            for r in spark.sql("SELECT event_id FROM late_dedup_stream").collect()
        ]
        assert sorted(emitted) == [1, 2, 3], emitted  # each key exactly once
        evicted = 0
        final_state_rows = None
        for p in q.recentProgress:
            for so in p.get("stateOperators", []):
                evicted += so.get("numRowsRemoved", 0)
                final_state_rows = so.get("numRowsTotal")
        assert evicted >= 2, "watermark must evict expired dedup state"
        assert final_state_rows == 1, "only the in-window key may remain in state"
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_stream_sessions_matches_batch(spark, stream_dirs):
    """session_window streaming sessions == batch gap-sessionization on
    the same data (no exact-boundary gaps in the synthetic events)."""
    from gdutils_spark.operators.sessions import session_stats

    src, chk, events = stream_dirs
    stream = spark.readStream.schema(events.schema).parquet(src)
    sess = stream_sessions(
        stream, entity_col="user_id", time_col="ts", gap="30 minutes"
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["started_at"]): (r["n_events"], r["ended_at"])
        for r in spark.sql("SELECT * FROM sessions_stream").collect()
    }
    want = {
        (r["user_id"], r["started_at"]): (r["n_events"], r["ended_at"])
        for r in session_stats(events, "user_id", "ts", 30).collect()
    }
    assert got == want


def test_stream_entity_summaries_stateful(spark, stream_dirs):
    """Custom applyInPandasWithState operator: the LAST emitted summary per
    entity must equal the batch per-entity aggregate."""
    src, chk, events = stream_dirs
    stream = spark.readStream.schema(events.schema).parquet(src)
    # timeout_ms=None: with a processing-time timeout armed, availableNow
    # NEVER drains (each batch re-arms timeouts → endless empty batches);
    # the terminated=True assertion below is the regression guard
    summ = stream_entity_summaries(
        stream, entity_col="user_id", time_col="ts", timeout_ms=None
    )
    q = (
        summ.writeStream.format("memory")
        .queryName("entity_summaries_stream")
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    terminated = q.awaitTermination(120)
    if not terminated:
        q.stop()
    assert terminated, "availableNow drain must terminate with NoTimeout"
    # update mode emits one row per (trigger, entity); keep the final state
    got = {
        r["entity"]: (r["start_time"], r["end_time"], r["n_events"])
        for r in spark.sql(
            """SELECT * FROM (
                 SELECT *, ROW_NUMBER() OVER
                   (PARTITION BY entity ORDER BY n_events DESC) rn
                 FROM entity_summaries_stream) WHERE rn = 1"""
        ).collect()
    }
    want = {
        str(r["user_id"]): (r["t0"], r["t1"], r["n"])
        for r in events.groupBy("user_id")
        .agg(
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == want


def test_stream_enrich_matches_batch_join(spark, stream_dirs):
    """Stream-static broadcast enrichment == the equivalent batch join."""
    from gdutils_spark.streaming import stream_enrich

    src, chk, events = stream_dirs
    catalog = events.groupBy(F.col("user_id").alias("uid")).agg(
        F.count(F.lit(1)).alias("user_total")
    )
    stream = spark.readStream.schema(events.schema).parquet(src)
    enriched = stream_enrich(stream, catalog, "user_id", "uid")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_stream")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["user_total"])
        for r in spark.sql("SELECT event_id, user_total FROM enrich_stream").collect()
    }
    want = {
        (r["event_id"], r["user_total"])
        for r in events.join(
            catalog, events.user_id == catalog.uid, "left"
        ).collect()
    }
    assert got == want


def test_stream_to_partitioned_parquet_prunes(spark, stream_dirs):
    """Streaming ingest lands hive-partitioned by date; a batch read with a
    date predicate scans only matching partitions (PartitionFilters)."""
    from gdutils_spark.plans import formatted_plan
    from gdutils_spark.streaming import stream_to_partitioned_parquet

    src, chk, events = stream_dirs
    out = tempfile.mkdtemp(prefix="stream_staged_")
    try:
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = stream_to_partitioned_parquet(stream, out, chk, time_col="ts")
        q.awaitTermination(120)
        staged = spark.read.parquet(out)
        assert staged.count() == events.count()
        a_day = events.select(F.to_date("ts").alias("d")).first()["d"]
        picked = staged.where(F.col("date") == F.lit(a_day))
        want_n = events.where(F.to_date("ts") == F.lit(a_day)).count()
        assert picked.count() == want_n
        plan = formatted_plan(picked)
        assert "PartitionFilters" in plan and "date" in plan.split("PartitionFilters")[1].splitlines()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_stream_media_features_matches_batch(spark):
    """Multimodal decode composes with readStream: featurize-while-ingest
    produces exactly the batch decode result (stateless mapInPandas)."""
    import shutil
    import tempfile

    from test_multimodal import make_jpeg, make_png

    from gdutils_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image_features,
    )
    from gdutils_spark.streaming import stream_media_features

    rows = [
        (1, make_png(320, 240), "png", "image"),
        (2, make_jpeg(640, 480), "jpeg", "image"),
        (3, bytes(100), "mp4", "video"),  # pruned before decode
        (4, make_png(64, 64), "png", "image"),
    ]
    batch = spark.createDataFrame(rows, MEDIA_SCHEMA)
    src = tempfile.mkdtemp(prefix="media_src_")
    chk = tempfile.mkdtemp(prefix="media_chk_")
    try:
        # two micro-batch files
        batch.where(F.col("media_id") <= 2).write.mode("append").parquet(src)
        batch.where(F.col("media_id") > 2).write.mode("append").parquet(src)
        stream = spark.readStream.schema(MEDIA_SCHEMA).parquet(src)
        q = (
            stream_media_features(stream)
            .writeStream.format("memory")
            .queryName("media_features_stream")
            .outputMode("append")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["media_id"]: (r["detected"], r["width"], r["height"])
            for r in spark.sql("SELECT * FROM media_features_stream").collect()
        }
        want = {
            r["media_id"]: (r["detected"], r["width"], r["height"])
            for r in decode_image_features(batch).collect()
        }
        assert got == want
        assert got[1] == ("png", 320, 240) and got[2] == ("jpeg", 640, 480)
        assert 3 not in got
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_stream_stream_join_matches_batch(spark, stream_dirs):
    """Stream-stream interval join (click→purchase attribution) must
    converge to the identical batch interval join."""
    from gdutils_spark.streaming import stream_stream_join

    src, chk, events = stream_dirs
    schema = events.schema

    def split(df):
        clicks = df.where(F.col("event_type") == "click").select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        purchases = df.where(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        return clicks, purchases

    sc, sp = split(spark.readStream.schema(schema).parquet(src))
    joined = stream_stream_join(
        sc, sp, key="user_id", left_time="click_ts", right_time="purchase_ts",
        max_delay="6 hours",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_stream")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ss_join_stream").collect()
    }
    bc, bp = split(events)
    want = {
        (r.click_id, r.purchase_id)
        for r in bc.alias("l")
        .join(
            bp.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.purchase_ts") >= F.col("l.click_ts"))
            & (
                F.col("r.purchase_ts")
                <= F.col("l.click_ts") + F.expr("INTERVAL 6 hours")
            ),
        )
        .collect()
    }
    assert want, "fixture must produce attribution pairs"
    assert got == want


def test_stream_stream_left_join_matches_batch_with_watermark_cut(
    spark, tmp_path
):
    """Left-outer stream-stream join: matches emit eagerly; an unmatched
    left row null-emits ONLY once the global watermark strictly passes
    its join-window end (left_ts + max_delay) — rows still inside an
    open window at stream end are withheld. Fixture covers all four
    cases: matched, unmatched-closed (emitted with nulls),
    unmatched-boundary (window end == final watermark → withheld,
    pinning the strict < rule), unmatched-open (withheld)."""
    from gdutils_spark.streaming import stream_stream_join

    rows_c = [
        (1, "2024-01-01 00:00:00", 101),  # matched by p201
        (2, "2024-01-01 00:00:00", 102),  # unmatched, closes 01:00 < W
        (5, "2024-01-01 10:00:00", 105),  # unmatched, closes 11:00 == W
        (3, "2024-01-01 10:30:00", 103),  # unmatched, closes 11:30 > W
        (4, "2024-01-01 12:00:00", 104),  # unmatched, open at stream end
    ]
    rows_p = [
        (1, "2024-01-01 00:30:00", 201),
        (99, "2024-01-01 12:00:00", 299),  # unmatched right (dropped)
    ]
    src_c, src_p, chk = (str(tmp_path / d) for d in ("c", "p", "chk"))
    dfc = spark.createDataFrame(
        rows_c, "user_id long, click_ts string, click_id long"
    ).withColumn("click_ts", F.to_timestamp("click_ts"))
    dfp = spark.createDataFrame(
        rows_p, "user_id long, purchase_ts string, purchase_id long"
    ).withColumn("purchase_ts", F.to_timestamp("purchase_ts"))
    dfc.write.parquet(src_c)
    dfp.write.parquet(src_p)
    sc = spark.readStream.schema(dfc.schema).parquet(src_c)
    sp = spark.readStream.schema(dfp.schema).parquet(src_p)
    # final watermark W = min(max click_ts, max purchase_ts) - 1h = 11:00
    joined = stream_stream_join(
        sc, sp, key="user_id", left_time="click_ts",
        right_time="purchase_ts", max_delay="1 hour",
        watermark="1 hour", how="left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_left_join_stream")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ss_left_join_stream").collect()
    }
    assert got == {(101, 201), (102, None)}

    import pytest as _pt

    with _pt.raises(ValueError, match="not supported"):
        stream_stream_join(
            sc, sp, key="user_id", left_time="click_ts",
            right_time="purchase_ts", how="right_outer",
        )


def test_stream_stream_full_join_cuts_both_sides(spark, tmp_path):
    """Full-outer stream-stream join: left orphans null-emit once the
    watermark STRICTLY passes left_ts + max_delay (the pinned left
    rule); right orphans once it strictly passes right_ts — their
    window end on the shared clock (a matching left row can be no
    later than the right row). Fixture pins both boundary cases
    (window end == final watermark → withheld) and the coalesced key
    on right-orphan rows."""
    from gdutils_spark.streaming import stream_stream_join

    rows_c = [
        (1, "2024-01-01 00:00:00", 101),  # matched by p201
        (2, "2024-01-01 00:00:00", 102),  # left orphan, closes 01:00 < W
        (5, "2024-01-01 10:00:00", 105),  # left orphan, closes 11:00 == W
        (4, "2024-01-01 12:00:00", 104),  # left orphan, open
    ]
    rows_p = [
        (1, "2024-01-01 00:30:00", 201),   # matched
        (7, "2024-01-01 00:30:00", 207),   # right orphan, 00:30 < W
        (8, "2024-01-01 11:00:00", 208),   # right orphan, 11:00 == W
        (9, "2024-01-01 11:30:00", 209),   # right orphan, 11:30 > W
        (99, "2024-01-01 12:00:00", 299),  # sets max purchase_ts
    ]
    src_c, src_p, chk = (str(tmp_path / d) for d in ("cf", "pf", "chkf"))
    dfc = spark.createDataFrame(
        rows_c, "user_id long, click_ts string, click_id long"
    ).withColumn("click_ts", F.to_timestamp("click_ts"))
    dfp = spark.createDataFrame(
        rows_p, "user_id long, purchase_ts string, purchase_id long"
    ).withColumn("purchase_ts", F.to_timestamp("purchase_ts"))
    dfc.write.parquet(src_c)
    dfp.write.parquet(src_p)
    sc = spark.readStream.schema(dfc.schema).parquet(src_c)
    sp = spark.readStream.schema(dfp.schema).parquet(src_p)
    # final watermark W = min(12:00, 12:00) - 1h = 11:00
    joined = stream_stream_join(
        sc, sp, key="user_id", left_time="click_ts",
        right_time="purchase_ts", max_delay="1 hour",
        watermark="1 hour", how="full_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_full_join_stream")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, click_id, purchase_id FROM ss_full_join_stream"
    ).collect()
    got = {(r.click_id, r.purchase_id) for r in rows}
    assert got == {(101, 201), (102, None), (None, 207)}
    # the coalesced key survives the right-orphan row
    assert {r.user_id for r in rows if r.click_id is None} == {7}


def test_stream_apply_cdc_versions_match_sequential_batches(spark, sf_smoke, tmp_path):
    """Streaming MERGE INTO: micro-batch application to the versioned
    snapshot must equal applying the same batches sequentially in batch
    mode (and the final version must reflect every delete/update/insert)."""
    from gdutils_spark.operators.cdc import apply_cdc
    from gdutils_spark.streaming import stream_apply_cdc

    o = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    b1 = o.where(k % 10 == 0).withColumn("op", F.lit("D")).withColumn(
        "batch", F.lit(0)
    )
    b2 = (
        o.where(k % 10 == 1)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        .withColumn("op", F.lit("U"))
        .withColumn("batch", F.lit(1))
    )
    src = str(tmp_path / "cdc_src")
    # two files → two micro-batches under maxFilesPerTrigger=1
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .drop("batch")
    )
    snap_dir = str(tmp_path / "snapshot")
    q = stream_apply_cdc(
        stream,
        snap_dir,
        str(tmp_path / "chk"),
        keys=["o_orderkey"],
        initial=o,
    )
    assert q.awaitTermination(120)
    import glob

    versions = sorted(glob.glob(snap_dir + "/v=*"))
    assert len(versions) == 2
    final = {
        r.o_orderkey: r.o_totalprice
        for r in spark.read.parquet(versions[-1]).collect()
    }
    # sequential batch-mode application (order of the two batches is
    # whichever the stream took; both touch disjoint keys so either
    # order gives the same final state)
    want_df = apply_cdc(
        apply_cdc(o, b1.drop("batch"), ["o_orderkey"]),
        b2.drop("batch"),
        ["o_orderkey"],
    )
    want = {r.o_orderkey: r.o_totalprice for r in want_df.collect()}
    assert final == want
    assert all(kk % 10 != 0 for kk in final)  # deletes applied


def test_snapshot_base_version_replay_and_partial_writes(spark, tmp_path):
    """Crash-replay semantics: a replayed batch id must base on its
    PREDECESSOR (never read the version it is about to overwrite), and
    an uncommitted partial write (no _SUCCESS) is never a base."""
    from gdutils_spark.streaming import snapshot_base_version

    snap = str(tmp_path / "snap")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    df.write.parquet(snap + "/v=0")   # committed (_SUCCESS written)
    df.write.parquet(snap + "/v=1")
    import os

    os.remove(snap + "/v=1/_SUCCESS")  # simulate a mid-write crash
    df.write.parquet(snap + "/v=2")
    # batch 2 replay: v=2 (its own output) ignored; v=1 partial ignored
    assert snapshot_base_version(spark, snap, before=2) == 0
    # batch 3: v=2 is committed and below → base
    assert snapshot_base_version(spark, snap, before=3) == 2
    # reader view (before = infinity)
    assert snapshot_base_version(spark, snap, before=1 << 60) == 2
    # empty dir
    assert snapshot_base_version(spark, str(tmp_path / "none"), before=5) is None


def test_stream_merge_sketch_hist_matches_batch(spark, tmp_path):
    """Incremental histogram maintenance: one parquet file per
    micro-batch, each merged onto the last committed version — the final
    register table equals the batch whole-corpus registers, and several
    versions exist (the merge path genuinely ran)."""
    import os

    from gdutils_spark.operators.sketches import hist_merge, hist_registers
    from gdutils_spark.streaming import latest_sketch, stream_merge_sketch

    src, chk, snap = (str(tmp_path / d) for d in ("src", "chk", "snap"))
    df = spark.range(300).select(
        F.col("id"), ((F.col("id") * 7 % 100).cast("double")).alias("v")
    )
    df.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_merge_sketch(
        stream,
        build=lambda b: hist_registers(b, "v", 0.0, 100.0, 20),
        merge=hist_merge,
        snapshot_dir=snap,
        checkpoint=chk,
    )
    assert q.awaitTermination(120)
    got = {(r.bin, r.cnt) for r in latest_sketch(spark, snap).collect()}
    want = {
        (r.bin, r.cnt) for r in hist_registers(df, "v", 0.0, 100.0, 20).collect()
    }
    assert got == want
    versions = [d for d in os.listdir(snap) if d.startswith("v=")]
    assert len(versions) >= 3  # one per file → merging actually happened


def test_stream_merge_sketch_generalizes_to_hll(spark, tmp_path):
    """The same maintainer runs any mergeable sketch: HLL registers
    maintained incrementally equal the batch whole-corpus registers."""
    from gdutils_spark.operators.sketches import hll_merge, hll_registers
    from gdutils_spark.streaming import latest_sketch, stream_merge_sketch

    src, chk, snap = (str(tmp_path / d) for d in ("hsrc", "hchk", "hsnap"))
    df = spark.range(500).select(
        F.lit("g").alias("grp_src"), F.col("id").cast("string").alias("v")
    )
    df.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_merge_sketch(
        stream,
        build=lambda b: hll_registers(b, "v", "grp_src"),
        merge=hll_merge,
        snapshot_dir=snap,
        checkpoint=chk,
    )
    assert q.awaitTermination(120)
    got = {
        (r.grp, r.bucket, r.reg) for r in latest_sketch(spark, snap).collect()
    }
    want = {
        (r.grp, r.bucket, r.reg)
        for r in hll_registers(df, "v", "grp_src").collect()
    }
    assert got == want


def test_stream_entity_summaries_drops_null_timestamps(spark):
    """NULL event timestamps are dropped like the batch F.min/F.max
    analogue (pandas' int64 view of NaT is the int64-min sentinel — it
    used to poison the running min and overflow the emitted timestamp);
    an entity with ONLY null timestamps emits nothing."""
    import os
    import tempfile

    src = tempfile.mkdtemp(prefix="stream_null_src_")
    chk = tempfile.mkdtemp(prefix="stream_null_chk_")
    rows = [
        ("a", "2024-01-01 00:00:00"),
        ("a", None),
        ("a", "2024-01-03 00:00:00"),
        ("b", None),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts_s string").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    df.write.mode("append").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    summ = stream_entity_summaries(
        stream, entity_col="user_id", time_col="ts", timeout_ms=None
    )
    q = (
        summ.writeStream.format("memory")
        .queryName("null_ts_summaries")
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r["entity"]: r["n_events"]
        for r in spark.sql("SELECT * FROM null_ts_summaries").collect()
    }
    assert got == {"a": 2}  # null row dropped; all-null entity b absent


def test_versioned_snapshot_protocol_guards(spark, tmp_path):
    """The versioned-snapshot hardening: stray v=* entries are skipped,
    a committed version is immutable under replay (skip, not overwrite),
    a vacuumed predecessor raises instead of silently rebuilding from
    the initial state, and a recreated checkpoint over existing history
    raises."""
    import os

    import pytest

    from gdutils_spark.streaming import (
        _resolve_base,
        _version_committed,
        snapshot_base_version,
    )

    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
        f"{snap}/v=0"
    )
    spark.createDataFrame([(2, "b")], "id long, v string").write.parquet(
        f"{snap}/v=1"
    )
    # stray entries must be skipped, not crash the listing
    os.makedirs(f"{snap}/v=latest", exist_ok=True)
    os.makedirs(f"{snap}/v=1.bak", exist_ok=True)
    assert snapshot_base_version(spark, snap, before=1 << 62) == 1
    assert snapshot_base_version(spark, snap, before=1) == 0
    assert _version_committed(spark, snap, 1)
    assert not _version_committed(spark, snap, 7)
    # normal replay base
    empty = spark.createDataFrame([], "id long, v string")
    base = _resolve_base(spark, snap, 2, None, empty)
    assert base.count() == 1
    # vacuumed predecessor: batch 5 with only v=0/v=1 present is fine
    # (highest committed < 5 is the base) — but a WIPED dir for a
    # non-zero batch raises
    import shutil

    gone = str(tmp_path / "gone")
    with pytest.raises(RuntimeError, match="versioned snapshot"):
        _resolve_base(spark, gone, 3, None, empty)
    # recreated checkpoint (batch 0) over existing history raises
    with pytest.raises(RuntimeError, match="versioned snapshot"):
        _resolve_base(spark, snap, 0, None, empty)
    # fresh start: batch 0, no history -> initial/empty
    assert _resolve_base(spark, gone, 0, None, empty).count() == 0


def test_stream_enrich_same_named_key_drops_duplicate(spark, stream_dirs):
    """Same-named join keys: the catalog's copy is dropped, so the
    output has ONE unambiguous key column."""
    from gdutils_spark.streaming import stream_enrich

    src, chk, events = stream_dirs
    catalog = events.select("user_id").distinct().withColumn(
        "segment", F.pmod(F.col("user_id"), F.lit(3))
    )
    stream = spark.readStream.schema(events.schema).parquet(src)
    enriched = stream_enrich(stream, catalog, "user_id", "user_id")
    assert enriched.columns.count("user_id") == 1
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_same_key")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    out = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(user_id) AS nk FROM enrich_same_key"
    ).collect()[0]
    assert out["n"] == events.count() and out["nk"] == out["n"]


def test_checkpoint_identity_guard_unit(spark, tmp_path):
    """_guard_checkpoint_identity state machine: fresh snapshot adopts
    the id; matching marker passes; mismatching marker over history
    raises; mismatching marker over EMPTY history re-adopts (stale
    marker from an aborted run protects nothing); marker missing over
    existing history raises (unprovable lineage)."""
    import json
    import os

    import pytest

    from gdutils_spark.streaming import (
        _IDENTITY_MARKER,
        _guard_checkpoint_identity,
    )

    chk = str(tmp_path / "chk")
    os.makedirs(chk)
    with open(chk + "/metadata", "w") as f:
        json.dump({"id": "run-A"}, f)
    snap = str(tmp_path / "snap")
    os.makedirs(snap)
    # fresh snapshot: adopt
    _guard_checkpoint_identity(spark, snap, chk)
    with open(f"{snap}/{_IDENTITY_MARKER}") as f:
        assert f.read() == "run-A"
    # same identity: pass — including a hand-written marker with the
    # trailing newline `echo` adds (the error message's adoption recipe)
    _guard_checkpoint_identity(spark, snap, chk)
    with open(f"{snap}/{_IDENTITY_MARKER}", "w") as f:
        f.write("run-A\n")
    _guard_checkpoint_identity(spark, snap, chk)
    # stale marker, EMPTY history: re-adopt silently
    with open(f"{snap}/{_IDENTITY_MARKER}", "w") as f:
        f.write("run-OLD")
    _guard_checkpoint_identity(spark, snap, chk)
    with open(f"{snap}/{_IDENTITY_MARKER}") as f:
        assert f.read() == "run-A"
    # commit a version, then recreate the checkpoint (new id): raise
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
        f"{snap}/v=0"
    )
    with open(chk + "/metadata", "w") as f:
        json.dump({"id": "run-B"}, f)
    with pytest.raises(RuntimeError, match="recreated over existing"):
        _guard_checkpoint_identity(spark, snap, chk)
    # marker missing over existing history: unprovable lineage, raise
    os.remove(f"{snap}/{_IDENTITY_MARKER}")
    with pytest.raises(RuntimeError, match="no identity marker"):
        _guard_checkpoint_identity(spark, snap, chk)
    # unreadable checkpoint metadata: degrade to the old protocol
    _guard_checkpoint_identity(spark, snap, str(tmp_path / "nochk"))


# Each versioned-snapshot writer below gives ``(start, batch)``:
# ``start(stream, snap, chk)`` starts the streaming writer, and
# ``batch(b1, b2)`` folds two change batches in batch mode, which the
# second committed version must equal.
def _cdc_writer(o):
    from gdutils_spark.streaming import stream_apply_cdc

    def start(stream, snap, chk):
        return stream_apply_cdc(stream, snap, chk, keys=["o_orderkey"], initial=o)

    def batch(b1, b2):
        from gdutils_spark.operators.cdc import apply_cdc

        return apply_cdc(
            apply_cdc(o, b1, ["o_orderkey"]), b2, ["o_orderkey"]
        )

    return start, batch


def _sketch_writer(o):
    from gdutils_spark.operators.sketches import hist_merge, hist_registers
    from gdutils_spark.streaming import stream_merge_sketch

    def build(df):
        return hist_registers(df, "o_totalprice", 0.0, 500_000.0, 20)

    def start(stream, snap, chk):
        return stream_merge_sketch(
            stream, build=build, merge=hist_merge, snapshot_dir=snap,
            checkpoint=chk,
        )

    def batch(b1, b2):
        return hist_merge(build(b1), build(b2))

    return start, batch


_SNAPSHOT_WRITERS = pytest.mark.parametrize(
    "writer", [_cdc_writer, _sketch_writer],
    ids=["stream_apply_cdc", "stream_merge_sketch"],
)


@_SNAPSHOT_WRITERS
def test_snapshot_writer_recreated_checkpoint_fails_not_drops(
    spark, sf_smoke, tmp_path, writer
):
    """The ADVICE r8 hole, end to end, for both versioned-snapshot
    writers: after a successful run, wiping the CHECKPOINT (not the
    snapshot) and streaming NEW rows must FAIL the query — before the
    identity marker, batch 0's rows were silently swallowed by the
    committed-version skip (v=0 existed from the old lineage) and the
    snapshot stayed stale with no error."""
    o = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    start, _ = writer(o)
    src, chk, snap = (str(tmp_path / d) for d in ("src", "chk", "snap"))
    b1 = o.where(F.col("o_orderkey") % 10 == 0).withColumn("op", F.lit("D"))
    b1.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    assert start(stream, snap, chk).awaitTermination(120)
    # operator error: recreate the checkpoint, keep the snapshot
    shutil.rmtree(chk)
    b2 = o.where(F.col("o_orderkey") % 10 == 1).withColumn("op", F.lit("D"))
    b2.coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(b1.schema).parquet(src)
    q2 = start(stream2, snap, chk)
    with pytest.raises(Exception, match="versioned snapshot"):
        q2.awaitTermination(120)


@_SNAPSHOT_WRITERS
def test_snapshot_writer_same_checkpoint_restart_appends(
    spark, sf_smoke, tmp_path, writer
):
    """The healthy restart path still works under the identity guard,
    for both versioned-snapshot writers: a SECOND run over the same
    checkpoint (same query id) picks up new files and appends the next
    version, which equals folding both batches in batch mode."""
    import glob

    o = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    start, batch = writer(o)
    src, chk, snap = (str(tmp_path / d) for d in ("src", "chk", "snap"))
    b1 = o.where(F.col("o_orderkey") % 10 == 0).withColumn("op", F.lit("D"))
    b1.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    assert start(stream, snap, chk).awaitTermination(120)
    b2 = o.where(F.col("o_orderkey") % 10 == 1).withColumn("op", F.lit("D"))
    b2.coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(b1.schema).parquet(src)
    assert start(stream2, snap, chk).awaitTermination(120)
    versions = sorted(glob.glob(snap + "/v=*"))
    assert len(versions) == 2
    final = spark.read.parquet(versions[-1])
    assert sorted(final.collect()) == sorted(batch(b1, b2).collect())


def test_stream_active_entities_exact_skips_null_entity(spark, tmp_path):
    # r12 latent-hunt regression: the exact path's dropDuplicates kept
    # one row for the NULL entity and counted it — diverging from the
    # approx path (approx_count_distinct skips NULLs) and the batch
    # count_distinct semantics
    import datetime as dt

    from gdutils_spark.streaming import stream_active_entities

    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    rows = [
        (dt.datetime(2024, 1, 1, 10), "u1"),
        (dt.datetime(2024, 1, 1, 11), "u1"),
        (dt.datetime(2024, 1, 1, 12), "u2"),
        (dt.datetime(2024, 1, 1, 13), None),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, user_id string")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        stream_active_entities(stream, exact=True)
        .writeStream.format("memory")
        .queryName("active_exact_null")
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM active_exact_null").collect()
    assert len(got) == 1 and got[0]["active_entities"] == 2


def test_rt_work_dirs_are_per_invocation(spark, sf_smoke, tmp_path, monkeypatch):
    """Two calls of one round-trip query get distinct scratch dirs, so the
    second cannot wipe the fixture the first one's lazy plan still reads."""
    import os

    from gdutils_spark.queries_rt import rt_csv_batch_daily

    monkeypatch.setenv("SPARK_GRAFT_RT_TMPDIR", str(tmp_path))
    first = rt_csv_batch_daily(spark, sf_smoke)
    second = rt_csv_batch_daily(spark, sf_smoke)
    dirs = os.listdir(tmp_path)
    assert len(dirs) == 2
    assert all(d.startswith("gdutils_rt_csv_batch_") for d in dirs)
    rows = sorted(first.collect())
    assert rows and rows == sorted(second.collect())


_RT_SCRIPT = """
import os, sys
import __spark_entry__ as se
from gdutils_spark.session import get_spark
spark = get_spark("rt-scratch", cpus=2)
assert se.queries()["rt_csv_batch_daily"](spark, sys.argv[1]).count() > 0
print(sorted(os.listdir(os.environ["SPARK_GRAFT_RT_TMPDIR"])))
print(sorted(os.listdir(os.environ["TMPDIR"])))
"""


def test_rt_work_dirs_removed_at_exit(sf_smoke, tmp_path):
    """The round-trip scratch and the package zip the driver adapter
    ships to executors live as long as the session may read them, and go
    at interpreter exit: a finished process leaves none."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rt, tmp = tmp_path / "rt", tmp_path / "tmp"
    rt.mkdir()
    tmp.mkdir()
    env = dict(os.environ, SPARK_GRAFT_RT_TMPDIR=str(rt), TMPDIR=str(tmp))
    out = subprocess.run(
        [sys.executable, "-c", _RT_SCRIPT, sf_smoke],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rt_live, tmp_live = out.stdout.strip().splitlines()[-2:]
    assert "gdutils_rt_csv_batch_" in rt_live
    assert "gdutils_spark_ship_" in tmp_live  # present while running
    assert os.listdir(rt) == []
    assert not [d for d in os.listdir(tmp) if d.startswith("gdutils_spark_ship_")]


def test_drain_stops_and_raises_on_timeout():
    """The drain's timeout path, without Spark: a query that has not
    finished within the bound is stopped, and the error names it."""
    from gdutils_spark.queries_rt import _drain

    class StuckQuery:
        stopped = False

        def awaitTermination(self, timeout):
            self.timeout = timeout
            return False

        def stop(self):
            self.stopped = True

    q = StuckQuery()
    with pytest.raises(
        TimeoutError, match="^rt_stream_dedup: streaming query did not finish$"
    ):
        _drain(q, "rt_stream_dedup")
    assert q.stopped and q.timeout == 300
