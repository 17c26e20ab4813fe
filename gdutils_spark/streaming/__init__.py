"""Structured Streaming analogues of the reference's re-polling patterns.

The reference has no streaming — its "recent data" flow is a cron that
re-runs a search with ``min_time = now-24h``
(``/root/reference/scripts/dac/search_datasets.py:21-42,89-92``). The same
pipeline shapes map onto Structured Streaming (SURVEY.md §2.9): the daily
profile-stats aggregate (A1) becomes a watermarked tumbling-window
aggregation; server-side ``&distinct()`` dedup (P14) becomes
``dropDuplicatesWithinWatermark``.

Scale notes: event-time windows + watermark bound the state store; the
aggregation is the same partial/final hash-agg as batch, incrementally
maintained. Output mode 'update' emits per-trigger deltas; 'append' waits
for the watermark to close a window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_daily_stats(
    stream: DataFrame,
    time_col: str = "ts",
    entity_col: str | None = None,
    value_col: str | None = "value",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming A1: daily (window, entity) counts + value stats with
    late-data handling. Mirrors
    ``groupby(date).agg(mean, size)`` (``/root/reference/gdutils/__init__.py:
    574-576``) as an incrementally-maintained windowed aggregate."""
    keys = [F.window(F.col(time_col), "1 day").alias("window")]
    if entity_col:
        keys.append(F.col(entity_col))
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col:
        aggs += [
            F.avg(value_col).alias("avg_value"),
            F.sum(value_col).alias("sum_value"),
        ]
    return stream.withWatermark(time_col, watermark).groupBy(*keys).agg(*aggs)


def stream_dedup(
    stream: DataFrame, keys: list[str], time_col: str = "ts", watermark: str = "1 day"
) -> DataFrame:
    """Streaming P14: exact dedup across micro-batches, state bounded by
    the watermark (SURVEY.md §7 trap 9)."""
    return stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        [*keys]
    )


def stream_entity_summaries(
    stream: DataFrame,
    entity_col: str = "dataset_id",
    time_col: str = "ts",
    timeout_ms: int | None = 30 * 60 * 1000,
) -> DataFrame:
    """Custom stateful operator: incrementally-maintained per-entity
    summary rows (first/last fix, event count) — the streaming analogue
    of the reference's per-deployment summary build
    (``/root/reference/gdutils/__init__.py:591-614``), which batch
    recomputes from scratch on every poll.

    ``applyInPandasWithState`` keeps one tiny state row per entity
    (bounded by live-entity cardinality, not event volume); a processing
    -time timeout FLUSHES entities that stop reporting — the final
    summary is emitted once more and the state evicted, so the quiet
    entity's data is never silently dropped. An entity that resumes
    after eviction starts a NEW epoch (fresh ``start_time``, ``n_events``
    from zero); consumers that want lifetime totals must aggregate
    emissions per ``(entity, start_time)`` epoch — ``max_by(n_events)``
    alone would keep a stale pre-eviction row as the "latest". Emits the
    updated summary on every trigger an entity received events.

    Rows with a NULL timestamp are DROPPED, the ``scd2_history`` rule —
    the batch analogue's ``F.min``/``F.max`` skip NULLs, and pandas'
    int64 view of NaT is the int64-min sentinel, which would poison the
    running min and overflow the emitted timestamp.

    ``timeout_ms=None`` disables the timeout (``NoTimeout``). Required
    for ``Trigger.AvailableNow`` drains: a pending processing-time
    timeout counts as schedulable work, so the engine keeps firing
    (empty) micro-batches to service re-armed timeouts and the query
    never terminates — timeouts are for genuinely continuous streams.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("entity", StringType()),
            StructField("start_time", TimestampType()),
            StructField("end_time", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
            StructField("n", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        def summary(start_us, end_us, n):
            return pd.DataFrame(
                {
                    "entity": [str(key[0])],
                    "start_time": [pd.Timestamp(start_us, unit="us")],
                    "end_time": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                }
            )

        if timeout_ms is not None and state.hasTimedOut:
            # final flush: emit the summary the entity accumulated, THEN
            # evict — removing silently would drop the quiet entity's
            # data on the floor
            start_us, end_us, n = state.get
            state.remove()
            yield summary(start_us, end_us, n)
            return
        start_us, end_us, n = state.get if state.exists else (None, None, 0)
        for pdf in pdfs:
            # NULL timestamps: pandas' int64 view of NaT is the int64-min
            # sentinel — it would poison min() and overflow pd.Timestamp;
            # drop such rows (the scd2_history rule, and what the batch
            # F.min/F.max analogue does)
            ts_ser = pd.to_datetime(pdf[time_col])
            ts_ser = ts_ser[ts_ser.notna()]
            if not len(ts_ser):
                continue
            ts = ts_ser.astype("int64") // 1000
            lo, hi = int(ts.min()), int(ts.max())
            start_us = lo if start_us is None else min(start_us, lo)
            end_us = hi if end_us is None else max(end_us, hi)
            n += len(ts_ser)
        if start_us is None:
            # only NULL-timestamp rows ever seen — nothing to summarize
            return
        state.update((start_us, end_us, n))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield summary(start_us, end_us, n)

    return stream.groupBy(entity_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def stream_sessions(
    stream: DataFrame,
    entity_col: str = "user_id",
    time_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 day",
    value_col: str | None = None,
) -> DataFrame:
    """Streaming analogue of ``operators.sessions.session_stats``:
    ``session_window`` merges events of one entity whose gaps stay
    *under* ``gap`` and emits per-session aggregates; watermark bounds
    the open-session state. Boundary nuance vs the batch operator: a gap
    of exactly ``gap`` closes the streaming session (merge requires
    ``diff < gap``) but keeps the batch session (split requires
    ``diff > gap``) — identical on data without exact-boundary gaps.
    """
    keys = [
        F.session_window(F.col(time_col), gap).alias("session"),
        F.col(entity_col),
    ]
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(time_col).alias("started_at"),
        F.max(time_col).alias("ended_at"),
    ]
    if value_col is not None:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value")
        )
    return stream.withWatermark(time_col, watermark).groupBy(*keys).agg(*aggs)


def stream_enrich(
    stream: DataFrame,
    catalog: DataFrame,
    stream_key: str,
    catalog_key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — the streaming analogue of the
    catalog joins J1/J5 (``/root/reference/gdutils/__init__.py:107-114``):
    each arriving observation picks up its deployment/catalog attributes.

    The static side is catalog-sized by construction, so Spark
    broadcasts it — no state store, no shuffle of the stream side. The
    join EXPRESSION is re-planned per micro-batch, but for a plain
    file-based catalog the FILE LISTING is frozen when the DataFrame is
    created: files appended to the path later never appear, and
    overwriting the path in place fails the next micro-batch on deleted
    files — a live-refreshing catalog needs a table format (Delta/
    Iceberg) or a query restart; don't rely on in-place file swaps.

    When the two key columns share a name, the catalog's copy is
    dropped from the output (the ``stream_stream_join`` convention) —
    otherwise the first downstream ``F.col(key)`` hits
    AMBIGUOUS_REFERENCE, and under ``how='left'`` the surviving
    right-side copy would be NULL for unmatched rows."""
    joined = stream.join(
        F.broadcast(catalog), stream[stream_key] == catalog[catalog_key], how
    )
    if stream_key == catalog_key:
        joined = joined.drop(catalog[catalog_key])
    return joined


def stream_to_partitioned_parquet(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    time_col: str = "ts",
    partition_col: str = "date",
):
    """Ingestion into the hive-partitioned staging layout
    (``sources.staging.stage_partitioned``): each micro-batch appends to
    ``path`` partitioned by event date, so batch queries over the staged
    table get partition pruning on time predicates — the reference's
    cron-poll-then-save loop (``/root/reference/scripts/dac/
    search_datasets.py:89-92``) as one query.

    The query drains what exists and stops (``availableNow``): each call
    is one poll of the loop. Returns the started ``StreamingQuery``
    (caller owns await). Append is idempotent per micro-batch via the
    checkpoint's batch-id tracking; exactly-once within one query
    lifetime."""
    with_date = stream.withColumn(partition_col, F.to_date(F.col(time_col)))
    return (
        with_date.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(partition_col)
        .trigger(availableNow=True)
        .start()
    )


def stream_media_features(stream: DataFrame) -> DataFrame:
    """Streaming multimodal ingest: the SAME Arrow-batched header-decode
    operator (``operators.multimodal.decode_image_features``) applied to
    a media stream. ``mapInPandas`` is stateless, so decode runs per
    micro-batch with zero streaming state, and the metadata filter
    (kind == 'image') prunes rows before any payload is touched — the
    shape of a training-data pipeline that featurizes while ingesting
    instead of staging terabytes of raw blobs first."""
    from gdutils_spark.operators.multimodal import decode_image_features

    return decode_image_features(stream)


def stream_active_entities(
    stream: DataFrame,
    time_col: str = "ts",
    entity_col: str = "user_id",
    window: str = "1 day",
    watermark: str = "1 day",
    exact: bool = False,
) -> DataFrame:
    """Streaming A4 ('any' deployment semantics): distinct active entities
    per window. Default: ``approx_count_distinct`` keeps state sublinear
    (one HLL++ sketch per open window). ``exact=True`` chains two
    stateful operators — watermarked ``dropDuplicates`` on
    (entity, window) followed by a windowed count — giving EXACT
    distincts with state bounded by live (entity, window) pairs; Spark
    won't plan ``count_distinct`` in a streaming aggregate directly, but
    the dedup→count chain is the supported equivalent (and, being
    deterministic, the oracle-comparable one)."""
    w = F.window(F.col(time_col), window).alias("window")
    if not exact:
        return (
            stream.withWatermark(time_col, watermark)
            .groupBy(w)
            .agg(F.approx_count_distinct(entity_col).alias("active_entities"))
        )
    # NULL entities must not count (r12 latent-hunt): dropDuplicates
    # keeps ONE row for the NULL entity, which the count would include —
    # while the approx path's approx_count_distinct and the batch
    # analogue's count_distinct both skip NULLs. Filter so the two
    # paths (and the oracle) agree on NULL-carrying streams.
    dedup = (
        stream.where(F.col(entity_col).isNotNull())
        .withWatermark(time_col, watermark)
        .select(F.col(entity_col).alias("_e"), F.col(time_col), w)
        .dropDuplicates(["_e", "window"])
    )
    return dedup.groupBy("window").agg(
        F.count(F.lit(1)).alias("active_entities")
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    max_delay: str = "1 hour",
    watermark: str = "1 day",
    how: str = "inner",
) -> DataFrame:
    """Event-time interval join of TWO streams (the attribution shape:
    e.g. purchases joined to the click that preceded them): rows match
    when keys are equal and ``right_time`` falls in
    ``[left_time, left_time + max_delay]``.

    Both sides carry watermarks AND the join condition carries time
    bounds — that pair is what lets Spark expire buffered rows, so state
    is bounded by (key cardinality × max_delay + watermark) instead of
    the whole stream history. Inner join → append mode: a match emits
    exactly once, when both sides have arrived. ``left_time`` /
    ``right_time`` must be distinct names (rename before calling) so the
    output is unambiguous; ``key`` must be same-named on both sides.

    ``how='left_outer'`` is the attribution report that ALSO keeps
    unmatched left rows (clicks that never converted): matches emit
    eagerly as in the inner join; an unmatched left row emits
    null-padded only once the global watermark passes
    ``left_time + max_delay`` — before that a matching right row could
    still arrive, so the row is provably unmatched only after its join
    window closes. Consequence a consumer must know: left rows whose
    window is still open when the stream (or an availableNow drain)
    ends are withheld, NOT emitted with nulls — the batch-equivalent
    result is the left join with that watermark cut applied to the
    unmatched rows.

    ``how='full_outer'`` additionally keeps unmatched RIGHT rows
    (purchases with no preceding click — the orphan side of the
    attribution audit). A right row's implied join window is
    ``[right_time − max_delay, right_time]`` on the left clock, so its
    null emission waits for the watermark to pass ``right_time`` (its
    window END on the shared clock); the left cut rule is unchanged.
    Output keeps ``key`` defined on whichever side is present
    (``coalesce`` — a bare ``l.key`` would be NULL on right-orphan
    rows). ``right_outer`` stays unsupported: it IS left_outer with the
    sides renamed, so rename instead of growing the matrix.
    """
    if how not in ("inner", "left_outer", "full_outer"):
        raise ValueError(
            f"stream_stream_join: how={how!r} not supported — use 'inner', "
            "'left_outer' or 'full_outer' (right_outer is left_outer with "
            "the sides renamed)"
        )
    l = left.withWatermark(left_time, watermark).alias("l")
    r = right.withWatermark(right_time, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_time}") >= F.col(f"l.{left_time}"))
        & (
            F.col(f"r.{right_time}")
            <= F.col(f"l.{left_time}") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    # select via the l/r alias qualifiers, NOT drop(r[key]): when both
    # sides derive from the same source stream (a self-join, e.g. two
    # filters of one event stream) Catalyst re-aliases one side's
    # attribute ids and the Column reference can resolve to the LEFT
    # key — which under left_outer silently yields the right side's
    # NULL key for unmatched rows
    if how == "full_outer":
        # the key must survive right-orphan rows, where l.key is NULL —
        # coalesced IN the key's original left-side position, so the
        # output column order is identical across how= modes
        kcol = F.coalesce(F.col(f"l.{key}"), F.col(f"r.{key}")).alias(key)
        lcols = [
            kcol if c == key else F.col(f"l.{c}") for c in left.columns
        ]
        rcols = [F.col(f"r.{c}") for c in right.columns if c != key]
        return l.join(r, cond, how).select(*lcols, *rcols)
    lcols = [F.col(f"l.{c}") for c in left.columns]
    rcols = [F.col(f"r.{c}") for c in right.columns if c != key]
    return l.join(r, cond, how).select(*lcols, *rcols)


def snapshot_base_version(sess, snapshot_dir: str, before: int) -> int | None:
    """Highest COMMITTED snapshot version strictly below ``before`` —
    the base a (possibly replayed) micro-batch merges onto. Versions at
    or past the replayed batch id are ignored (reading v=N while
    overwriting v=N throws, and a crash between the parquet commit and
    the checkpoint commit would otherwise loop forever), and a
    directory without the ``_SUCCESS`` marker is an uncommitted partial
    write — never a base. Hadoop FileSystem API, so any HDFS-compatible
    store works; external readers should use the same rule with
    ``before = infinity``."""
    jvm = sess._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    path = Path(snapshot_dir)
    fs = path.getFileSystem(sess._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return None
    best = None
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not name.startswith("v="):
            continue
        try:
            v = int(name.split("=", 1)[1])
        except ValueError:
            # a stray sibling (manual backup "v=3.bak", a "v=latest"
            # symlink) must not kill every subsequent micro-batch —
            # the marker/before guards below show this listing is
            # meant to tolerate unexpected directory contents
            continue
        if v >= before:  # replay: rebuild from the predecessor
            continue
        if not fs.exists(Path(f"{snapshot_dir}/{name}/_SUCCESS")):
            continue  # uncommitted partial write — never a base
        best = v if best is None or v > best else best
    return best


def _version_committed(sess, snapshot_dir: str, v: int) -> bool:
    """True iff ``snapshot_dir/v=<v>`` exists with its ``_SUCCESS``
    marker — i.e. the version's parquet commit is durable."""
    jvm = sess._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    marker = Path(f"{snapshot_dir}/v={v}/_SUCCESS")
    fs = marker.getFileSystem(sess._jsc.hadoopConfiguration())
    return bool(fs.exists(marker))


def _read_small_text(sess, path: str) -> str | None:
    """Contents of a tiny text file via the Hadoop FileSystem API (any
    HDFS-compatible store), or None if absent/unreadable."""
    try:
        jvm = sess._jvm
        Path = jvm.org.apache.hadoop.fs.Path
        p = Path(path)
        fs = p.getFileSystem(sess._jsc.hadoopConfiguration())
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            return str(
                jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            )
        finally:
            stream.close()
    except Exception:
        return None


def _checkpoint_query_id(sess, checkpoint: str) -> str | None:
    """The streaming query's PERSISTENT id from the checkpoint's
    ``metadata`` file — written by the engine at first start and stable
    across restarts of the SAME checkpoint, but regenerated when the
    checkpoint dir is deleted/recreated. That makes it exactly the
    lineage identity the versioned-snapshot protocol needs: same id ⇒
    this run's batch ids continue the history that produced the
    snapshot; new id ⇒ batch ids restarted from 0 over old history."""
    import json

    text = _read_small_text(sess, f"{checkpoint}/metadata")
    if text is None:
        return None
    try:
        return json.loads(text).get("id")
    except Exception:
        return None


_IDENTITY_MARKER = "_checkpoint_id"


def _guard_checkpoint_identity(sess, snapshot_dir: str, checkpoint: str):
    """Close the silent-drop hole the committed-version replay skip
    opens: with a RECREATED checkpoint (batch ids restart at 0) over a
    snapshot dir holding old history, ``_version_committed(batch_id)``
    is True for every replayed-looking id, so each new batch's changes
    would be dropped without error until ids pass the old history. The
    skip is only safe when the committed version was produced by THIS
    checkpoint lineage — so the first batch of a fresh snapshot persists
    the checkpoint's query id as ``<snapshot_dir>/_checkpoint_id``, and
    every run verifies it before trusting any committed version.

    Raises when the marker mismatches (checkpoint recreated, or two
    queries aimed at one snapshot dir) or is missing over existing
    history (unprovable lineage — pre-identity snapshot or wiped
    marker); a mismatching/missing marker over an EMPTY history is
    adopted silently (nothing to protect). No-op when the engine's
    checkpoint metadata is unreadable (degrades to the pre-identity
    protocol rather than failing healthy pipelines)."""
    identity = _checkpoint_query_id(sess, checkpoint)
    if identity is None:
        return
    marker = _read_small_text(sess, f"{snapshot_dir}/{_IDENTITY_MARKER}")
    if marker is not None:
        # tolerate a trailing newline from a hand-written marker (the
        # adoption recipe below says `echo` — its default adds one)
        marker = marker.strip()
    if marker == identity:
        return
    newest = snapshot_base_version(sess, snapshot_dir, before=1 << 62)
    if newest is not None:
        reason = (
            f"identity marker {marker!r} does not match this "
            f"checkpoint's query id {identity!r} — the checkpoint was "
            "recreated over existing history (batch ids restarted), or "
            "two queries share one snapshot dir"
            if marker is not None
            else "no identity marker next to existing committed history "
            "— the snapshot predates identity staging or the marker was "
            "wiped, so replay skips cannot be trusted"
        )
        raise RuntimeError(
            f"versioned snapshot {snapshot_dir}: {reason}; the "
            "committed-version replay skip would silently DROP new "
            "batches whose ids collide with old versions. Point the "
            "query at a fresh snapshot dir (or restore the original "
            "checkpoint; to adopt the history deliberately, run: "
            f"echo {identity} > {snapshot_dir}/{_IDENTITY_MARKER})"
        )
    jvm = sess._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    p = Path(f"{snapshot_dir}/{_IDENTITY_MARKER}")
    fs = p.getFileSystem(sess._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(identity, "utf-8"))
    finally:
        out.close()


def _resolve_base(sess, snapshot_dir: str, batch_id: int):
    """Shared base-resolution for the versioned-snapshot writers: the
    latest committed version below ``batch_id``, or ``None`` on a fresh
    history (the writer's fold picks its initial state). The two
    silent-history-loss holes are closed:

    * A missing PREDECESSOR for ``batch_id > 0`` (vacuumed too
      aggressively, or the snapshot dir wiped) means rebuilding from
      the initial state would silently discard every change batches
      ``0..batch_id-1`` applied — raise instead. Retention rule this
      implies: a version must survive until the NEXT checkpoint commit
      is durable; vacuum everything older freely.
    * A FRESH checkpoint (``batch_id == 0``) over a snapshot dir that
      already has committed versions means the batch-id lineage was
      reset (checkpoint dir recreated) — overwriting ``v=0`` in place
      would orphan the existing history under new ids; raise and make
      the operator choose a new snapshot dir (or restore the
      checkpoint).
    """
    v = snapshot_base_version(sess, snapshot_dir, batch_id)
    if v is not None:
        return sess.read.parquet(f"{snapshot_dir}/v={v}")
    newest = snapshot_base_version(sess, snapshot_dir, before=1 << 62)
    if batch_id > 0 or newest is not None:
        raise RuntimeError(
            f"versioned snapshot {snapshot_dir}: no committed base "
            f"version before batch {batch_id} (newest committed: "
            f"{newest}) — the predecessor was vacuumed before the "
            "checkpoint commit became durable, or the checkpoint dir "
            "was recreated over existing history; rebuilding from the "
            "initial state would silently discard applied batches"
        )
    return None


def _versioned_snapshot_writer(
    stream: DataFrame, snapshot_dir: str, checkpoint: str, fold
):
    """The versioned-snapshot protocol, owned once for every writer that
    maintains ``snapshot_dir/v=<batch_id>`` from a stream: each
    micro-batch resolves its base (the latest committed version below
    its id, or ``None`` on a fresh history; :func:`_resolve_base`),
    ``fold(batch, base) -> DataFrame`` builds the next version, and the
    result is written as ``v=<batch_id>`` (the micro-batch id is the
    commit id). Readers pick the highest committed version.

    * The checkpoint-identity guard runs once per run, BEFORE the
      committed-version skip: with a recreated checkpoint (batch ids
      restarted over old history) the skip would silently drop every new
      batch whose id collides with an old version
      (:func:`_guard_checkpoint_identity`).
    * A replayed batch whose version is already committed (the crash
      landed between the parquet commit and the checkpoint commit) is
      skipped: ``fold`` is a deterministic function of (base, batch
      rows), so the durable output is already correct, and a committed
      version stays immutable for concurrent readers.
    * A replayed batch whose version is uncommitted re-derives it from
      its predecessor; a half-written directory is never a base.

    The query drains what exists and stops (``availableNow``); returns
    the started ``StreamingQuery`` (caller owns await)."""
    identity_ok = []  # per-run memo: the lineage can't change mid-run

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        if not identity_ok:
            _guard_checkpoint_identity(sess, snapshot_dir, checkpoint)
            identity_ok.append(True)
        if _version_committed(sess, snapshot_dir, batch_id):
            return
        base = _resolve_base(sess, snapshot_dir, batch_id)
        fold(batch, base).write.mode("overwrite").parquet(
            f"{snapshot_dir}/v={batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_apply_cdc(
    changes: DataFrame,
    snapshot_dir: str,
    checkpoint: str,
    keys: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
    initial: DataFrame | None = None,
):
    """Continuous MERGE INTO: a CDC change stream maintains a VERSIONED
    parquet snapshot — each micro-batch applies
    :func:`~gdutils_spark.operators.cdc.apply_cdc` to the latest
    committed snapshot version (``initial``, or an empty table, on a
    fresh history) and commits ``snapshot_dir/v=<batch_id>`` through
    :func:`_versioned_snapshot_writer` (what a lakehouse table format
    does internally, with the micro-batch id as the commit id). Old
    versions are time travel until vacuumed.

    RETENTION RULE for vacuuming: a version must survive until the NEXT
    checkpoint commit is durable — vacuum anything older freely;
    vacuuming the immediate predecessor of an in-flight batch (or
    recreating the checkpoint dir over existing history) raises instead
    of silently rebuilding from ``initial`` and discarding every applied
    batch. Version listing goes through the Hadoop FileSystem API so any
    HDFS-compatible store works. Each version is a full copy-on-write
    snapshot — at 100 TB you'd partition the snapshot and rewrite only
    touched partitions; the merge itself already only shuffles on the
    key.

    Drains what exists and stops; returns the started ``StreamingQuery``
    (caller owns await).
    """
    from gdutils_spark.operators.cdc import apply_cdc

    payload = [c for c in changes.columns if c not in (op_col, seq_col)]

    def fold(batch: DataFrame, base: DataFrame | None) -> DataFrame:
        if base is None:
            base = batch.select(*payload).limit(0) if initial is None else initial
        return apply_cdc(base, batch, keys, op_col=op_col, seq_col=seq_col)

    return _versioned_snapshot_writer(changes, snapshot_dir, checkpoint, fold)


def stream_merge_sketch(
    stream: DataFrame,
    build,
    merge,
    snapshot_dir: str,
    checkpoint: str,
):
    """Continuous MERGEABLE-SKETCH maintenance: each micro-batch folds
    into its own sketch (``build(batch) -> DataFrame``) and merges with
    the latest committed sketch version (``merge(prev, cur) ->
    DataFrame``), committing ``snapshot_dir/v=<batch_id>`` — the
    streaming counterpart of the incremental-ingest story every sketch
    in ``operators/sketches.py`` is built for. Works unchanged for HLL
    registers (merge = :func:`~gdutils_spark.operators.sketches.hll_merge`),
    CMS counters (``cms_merge``), Bloom words (``bloom_merge``),
    histogram bins (``hist_merge``) and bottom-k samples — anything with
    an associative, idempotent-under-replay merge whose state is
    sketch-sized, so each micro-batch costs one batch scan plus
    sketch-sized work regardless of how much history the sketch
    summarizes.

    Crash-replay safety is the versioned-snapshot protocol shared with
    :func:`stream_apply_cdc` (:func:`_versioned_snapshot_writer`): a
    replayed batch re-merges onto its PREDECESSOR version, never its own
    partial output, and only ``_SUCCESS``-committed versions count as a
    base. NOTE the replay contract this imposes on ``build``/``merge``:
    the pair must be deterministic functions of the batch ROWS (true for
    every sketch here — md5 hashing, integer counters), so a replayed
    batch produces the identical sketch and the re-merge converges to
    the same version.

    Drains what exists and stops; returns the started ``StreamingQuery``
    (caller owns await).
    """

    def fold(batch: DataFrame, base: DataFrame | None) -> DataFrame:
        cur = build(batch)
        return cur if base is None else merge(base, cur)

    return _versioned_snapshot_writer(stream, snapshot_dir, checkpoint, fold)


def latest_sketch(spark, snapshot_dir: str):
    """Read the highest COMMITTED sketch version (the consistent-view
    rule every reader of the versioned-snapshot protocol follows)."""
    v = snapshot_base_version(spark, snapshot_dir, before=1 << 62)
    if v is None:
        raise FileNotFoundError(
            f"latest_sketch: no committed version under {snapshot_dir}"
        )
    return spark.read.parquet(f"{snapshot_dir}/v={v}")
