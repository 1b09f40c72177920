"""Structured Streaming jobs over the events table.

Each job reads the events parquet as a *stream* (file source), applies an
event-time windowed/stateful transform with a watermark, and runs with
``Trigger.AvailableNow`` into an in-memory sink — a real incremental
execution (micro-batched state store, watermark eviction) that terminates
when the backlog is drained, so results are comparable against the batch
twin in ``operators.events``.

In production the source line changes to ``readStream.format("kafka")`` and
the trigger to a processing-time cadence; the transform is identical.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType, TimestampType)

from walmart_project_etl_spark.operators.util import pins

EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def _read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet (schema must be declared —
    streaming sources do no inference)."""
    return (spark.readStream
            .schema(EVENTS_SCHEMA)
            .format("parquet")
            .load(path))


def _run_available_now(result: DataFrame, query_name: str,
                       output_mode: str = "complete") -> DataFrame:
    spark = result.sparkSession
    name = f"{query_name}_{uuid.uuid4().hex[:8]}"
    q = (result.writeStream
         .format("memory")
         .queryName(name)
         .outputMode(output_mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


def stream_tumbling_counts(spark: SparkSession, events_path: str,
                           window_duration: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts+sums with a watermark; availableNow drains the
    backlog and returns the final result as a batch DataFrame.

    Same window spec as ``operators.events.tumbling_window_agg`` — on a
    fully-drained bounded input the two agree exactly (no late data is
    beyond the watermark once everything is processed in order-of-files).
    """
    ev = _read_events_stream(spark, events_path).withWatermark("ts", watermark)
    agg = (ev.groupBy(F.window("ts", window_duration).alias("win"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum(F.col("value").cast("decimal(28,6)")), 2)
                 .cast("double").alias("sum_value")))
    out = _run_available_now(agg, "stream_tumbling")
    return out.select(F.col("win.start").alias("window_start"),
                      F.col("win.end").alias("window_end"),
                      "event_type", "n_events", "sum_value")


def stream_session_stats(spark: SparkSession, events_path: str,
                         gap: str = "30 minutes",
                         watermark: str = "2 hours") -> DataFrame:
    """STATEFUL SESSION WINDOWS over the event stream — Spark's native
    ``session_window`` dynamic-gap aggregation (state merges adjacent
    windows as events arrive; the watermark bounds how long an open
    session is kept). availableNow drains the backlog; complete mode
    emits the final merged sessions, so on bounded input the result
    equals batch sessionization.

    Boundary semantics: a session window spans [first_ts, last_ts+gap),
    so an event exactly ``gap`` after its predecessor starts a NEW
    session (half-open windows never overlap at equality) — the
    registered oracle's gaps-and-islands SQL uses ``>= gap``
    accordingly (the batch ``events_sessionization`` twin uses the
    lag-``>`` convention; both are standard, the boundary differs).

    Returns (user_id, session_start, n_events, duration_seconds,
    sum_value).
    """
    ev = _read_events_stream(spark, events_path).withWatermark("ts",
                                                               watermark)
    agg = (ev.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.min("ts").alias("__first"),
                F.max("ts").alias("__last"),
                F.round(F.sum(F.col("value").cast("decimal(28,6)")), 2)
                 .cast("double").alias("sum_value")))
    out = _run_available_now(agg, "stream_session")
    # microsecond-exact duration floor: truncating each ENDPOINT to
    # seconds (unix_timestamp) can over-count the span by 1s
    dur = ((F.unix_micros("__last") - F.unix_micros("__first"))
           / F.lit(1000000)).cast("long")
    return out.select("user_id",
                      F.col("__first").alias("session_start"),
                      "n_events",
                      dur.alias("duration_seconds"),
                      "sum_value")


def stream_latest_per_user(spark: SparkSession, events_path: str,
                           watermark: str = "2 hours") -> DataFrame:
    """Stateful latest-event-per-user via streaming max aggregation
    (last-value semantics pinned by (ts, event_id) max-struct)."""
    ev = _read_events_stream(spark, events_path).withWatermark("ts", watermark)
    agg = (ev.groupBy("user_id")
           .agg(F.max(F.struct("ts", "event_id", "event_type", "value"))
                 .alias("latest")))
    out = _run_available_now(agg, "stream_latest")
    return out.select("user_id",
                      F.col("latest.ts").alias("ts"),
                      F.col("latest.event_id").alias("event_id"),
                      F.col("latest.event_type").alias("event_type"),
                      F.col("latest.value").alias("value"))


def stream_enrich_tumbling(spark: SparkSession, events_path: str,
                           dim: DataFrame, dim_key: str, label_col: str,
                           stream_key,
                           window_duration: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Stream-static enrich: join the event stream to a BROADCAST static
    dimension (stateless — no watermark bookkeeping on the static side,
    no state store), then tumbling-window counts per dimension label.

    This is the canonical streaming star-join shape at scale: the dim is
    broadcast once per micro-batch, so the stream side never shuffles for
    the join; the only stateful operator is the windowed aggregation.

    ``stream_key`` is the stream-side join key — a ``Column`` expression
    over the event stream's columns (or a column name). It is matched
    against ``dim[dim_key]`` with a plain equi-join; there is no implicit
    key derivation (an inferred ``user_id % count(dim)`` mapping would be
    silently wrong for any filtered or surrogate-keyed dimension).
    An empty dimension raises rather than dropping every event.
    """
    if dim.isEmpty():
        raise ValueError("stream_enrich_tumbling: static dimension is empty "
                         "— the inner join would drop every event")
    key = F.col(stream_key) if isinstance(stream_key, str) else stream_key
    ev = _read_events_stream(spark, events_path).withWatermark("ts", watermark)
    enriched = (ev.withColumn("__k", key)
                .join(F.broadcast(dim.select(F.col(dim_key).alias("__k"),
                                             F.col(label_col))), "__k"))
    agg = (enriched.groupBy(F.window("ts", window_duration).alias("win"),
                            label_col)
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum(F.col("value").cast("decimal(28,6)")), 2)
                 .cast("double").alias("sum_value")))
    out = _run_available_now(agg, "stream_enrich")
    return out.select(F.col("win.start").alias("window_start"),
                      F.col("win.end").alias("window_end"),
                      label_col, "n_events", "sum_value")


def stream_upsert_latest(spark: SparkSession, events_path: str,
                         warehouse_root: str,
                         max_files_per_trigger: int = 2,
                         checkpoint_dir: str | None = None,
                         reset: bool | None = None,
                         batch_stats: list | None = None) -> DataFrame:
    """Streaming warehouse upsert: maintain a "latest event per user"
    dimension table incrementally with ``foreachBatch``.

    Each micro-batch is collapsed to its latest row per user, then merged
    into the warehouse table as ``latest_per_key(current ∪ batch)`` — a
    keyed upsert through the same ``Warehouse`` seam the batch SCD loads
    use (on Delta/Iceberg the body becomes a native ``MERGE``; nothing
    else changes). The merge is associative and order-independent, so the
    final table is identical for ANY micro-batch partitioning of the input
    — asserted here by forcing multiple batches via
    ``maxFilesPerTrigger`` and checking the result against the plain
    batch window query (the registered oracle).

    At scale: each micro-batch shuffles only its own rows (latest-per-key
    window) plus one keyed merge against the current dim; state lives in
    the warehouse table, not the state store, so there is nothing to
    watermark and restarts resume from the checkpoint.

    ``checkpoint_dir`` pointing at an EXISTING checkpoint is the restart
    path: the file source's commit log remembers which input files were
    already processed, so a re-invocation handles ONLY files that
    appeared since the last run and merges them into the existing table —
    the incremental daily-ingest shape (pinned by
    ``tests/test_streaming.py::test_stream_upsert_resumes_from_checkpoint``).
    ``reset`` defaults to dropping the target table only when there is NO
    existing checkpoint; on a restart the default keeps the table, and
    ``reset=True`` over a live checkpoint RAISES rather than silently
    losing every row the commit log already marked processed (the table
    would be rebuilt from post-restart files only — checkpoint state and
    table state must never diverge). A true from-scratch rerun deletes
    the checkpoint dir too. ``batch_stats``, when given, collects
    (batch_id, n_rows) per micro-batch (test/observability hook; adds one
    count job per batch).
    """
    import os
    import tempfile

    from walmart_project_etl_spark.operators.events import latest_event_per_key
    from walmart_project_etl_spark.sources.catalog import Warehouse

    has_checkpoint = (checkpoint_dir is not None and os.path.isdir(checkpoint_dir)
                      and bool(os.listdir(checkpoint_dir)))
    if reset is None:
        reset = not has_checkpoint
    if reset and has_checkpoint:
        raise ValueError(
            "reset=True with a non-empty checkpoint would drop the target "
            "table while the file-source commit log still marks old input "
            "files as processed — silent data loss. Delete the checkpoint "
            f"dir for a true from-scratch rerun: {checkpoint_dir}")

    wh = Warehouse(spark, warehouse_root)
    if reset:
        wh.drop("tgt", "user_latest")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_stats is not None:
            batch_stats.append((batch_id, batch_df.count()))
        batch_latest = latest_event_per_key(batch_df, ["user_id"])
        if wh.exists("tgt", "user_latest"):
            merged = latest_event_per_key(
                wh.read("tgt", "user_latest").unionByName(batch_latest),
                ["user_id"])
            wh.replace("tgt", "user_latest", merged)
        else:
            wh.write("tgt", "user_latest", batch_latest)

    ev = (spark.readStream
          .schema(EVENTS_SCHEMA)
          .option("maxFilesPerTrigger", max_files_per_trigger)
          .format("parquet")
          .load(events_path))
    ckpt = checkpoint_dir or os.path.join(
        tempfile.mkdtemp(prefix="wpe_stream_upsert_"), "ckpt")
    q = (ev.writeStream
         .foreachBatch(upsert)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return wh.read("tgt", "user_latest")


def stream_upsert_tx(spark: SparkSession, events_path: str,
                     table_root: str,
                     max_files_per_trigger: int = 2,
                     checkpoint_dir: str | None = None,
                     batch_stats: list | None = None) -> DataFrame:
    """EXACTLY-ONCE streaming upsert into the TRANSACTIONAL log table
    (``sources/txlog.TxTable``) — the latest-event-per-user dim
    maintained by per-micro-batch MERGE commits carrying
    ``txn=(app, batch_id)`` markers.

    ``foreachBatch`` is only at-least-once: a crash between the table
    write and the streaming checkpoint advance re-delivers the batch on
    restart, and a plain sink would double-apply it. Here the batch id
    is recorded in the TABLE's own commit log atomically with the data,
    so the re-delivered merge sees ``last_txn(app) >= batch_id`` and
    becomes a no-op — table state and stream progress cannot diverge.
    This is the public transactional-sink recipe (the table's log, not
    the engine, is the source of truth for what was applied); the
    Warehouse-based :func:`stream_upsert_latest` documents the
    non-transactional contrast.

    At scale each micro-batch costs one latest-per-key shuffle over the
    batch + a file-pruned merge (only files holding the batch's users
    rewrite) + one log commit.

    The default checkpoint location is DERIVED FROM ``table_root``
    (``<table_root>/_stream_ckpt``) so the stream's offsets and the
    table's txn markers stay paired: a fresh random checkpoint against an
    existing table would restart batch ids at 0 below ``last_txn(app)``,
    and the replay guard would silently skip micro-batches containing
    genuinely NEW data. Resuming against the same table root therefore
    resumes the same stream.
    """
    import os

    from walmart_project_etl_spark.operators.events import latest_event_per_key
    from walmart_project_etl_spark.sources.txlog import TxTable

    t = TxTable(spark, table_root)
    if not t.versions():
        t.create(spark.createDataFrame([], EVENTS_SCHEMA), "user_id")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_stats is not None:
            batch_stats.append((batch_id, batch_df.count()))
        # pinned per batch: read by the current-rows lookup (pruner or
        # semi-join) and again by the upsert fold — uncached each pass
        # replays the batch read + the latest-per-key window
        with pins() as pin:
            batch_latest = pin(latest_event_per_key(batch_df, ["user_id"]))
            # merge must keep the OLDER stored row when the batch's row
            # is not actually newer — fold in current rows for these
            # users. Cost-based read: the bloom/range-pruned key-set
            # read (read_matching) costs one extra driver job per batch
            # to collect the probes, which only pays once the table has
            # enough files for pruning to beat a full-scan semi-join —
            # the 100 TB regime. Small tables take the scan.
            # one log replay serves both the file count and the read
            users = batch_latest.select("user_id")
            meta, live = t._read_state(None)
            cur = (t._read_matching(meta, live, users) if len(live) > 16
                   else t._read_files(meta, live.values())
                   .join(users, "user_id", "semi"))
            upserts = latest_event_per_key(
                cur.unionByName(batch_latest), ["user_id"])
            t.merge_upsert(upserts,
                           txn=("stream_upsert_tx", int(batch_id)))

    ev = (spark.readStream
          .schema(EVENTS_SCHEMA)
          .option("maxFilesPerTrigger", max_files_per_trigger)
          .format("parquet")
          .load(events_path))
    ckpt = checkpoint_dir or os.path.join(table_root, "_stream_ckpt")
    q = (ev.writeStream
         .foreachBatch(upsert)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return t.snapshot()


def stream_partition_ingest(spark: SparkSession, events_path: str,
                            table_root: str,
                            max_files_per_trigger: int = 4,
                            compact_target_rows: int = 50_000) -> "object":
    """EXACTLY-ONCE streaming ingest into a PARTITIONED tx table, with
    per-batch hot-partition compaction — the canonical continuous-ingest
    loop of a partitioned lakehouse table:

    - the table is keyed on ``event_id`` and partitioned by
      ``event_type``; each micro-batch lands as ONE idempotent
      insert-only MERGE commit carrying a ``txn=(app, batch_id)``
      marker, so a re-delivered ``foreachBatch`` (restart, crash
      between table write and checkpoint advance) is a logged no-op;
    - after each batch, :meth:`TxTable.compact_partitions` bin-packs
      ONLY the partitions this batch touched (Delta's ``OPTIMIZE ...
      WHERE``) — maintenance cost tracks the hot partitions, and the
      cold ones' files are never read or rewritten.

    At 100 TB the shape per batch is: batch-sized shuffle + O(touched
    files) merge + one commit + hot-partition bin-pack. Returns the
    table handle; callers read via ``read_partitions``/``snapshot``."""
    import os

    from walmart_project_etl_spark.sources.txlog import TxTable

    t = TxTable(spark, table_root)
    if not t.versions():
        t.create(spark.createDataFrame([], EVENTS_SCHEMA), "event_id",
                 partition_by="event_type")

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # pinned per batch: the merge and the touched-partition probe
        # both read it — uncached, each replays the batch read + the
        # dropDuplicates shuffle
        with pins() as pin:
            batch = pin(batch_df.dropDuplicates(["event_id"]))
            t.merge_upsert(batch, txn=("stream_partition_ingest",
                                       int(batch_id)))
            touched = [r["event_type"] for r in
                       batch.select("event_type").distinct().collect()]
        if touched:
            t.compact_partitions(touched, target_rows=compact_target_rows)

    ev = (spark.readStream
          .schema(EVENTS_SCHEMA)
          .option("maxFilesPerTrigger", max_files_per_trigger)
          .format("parquet")
          .load(events_path))
    ckpt = os.path.join(table_root, "_stream_ckpt")
    q = (ev.writeStream
         .foreachBatch(ingest)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return t


def stream_stream_attribution_join(spark: SparkSession, events_path: str,
                                   watermark: str = "365 days",
                                   within: str = "1 hour",
                                   state_partitions: int | None = 8) -> DataFrame:
    """Watermarked stream-stream INNER join — view→click attribution: each
    ``view`` event joins the same user's ``click`` events that occur within
    ``within`` AFTER the view.

    Both inputs are streams (no static side), the canonical hard case of
    Structured Streaming: each side buffers rows in the state store until
    the other side's watermark passes the end of their match-eligibility
    window, which the time-bound join condition makes explicit — state is
    bounded by (watermark + within) × arrival rate, not by stream length.
    In production the watermark is the real out-of-orderness bound (hours);
    here it exceeds the corpus span so the drained availableNow run is
    byte-equal to the batch twin (file-source batches arrive in random ts
    order, and exactness requires that no row is evicted before drain).

    ``state_partitions`` sizes the state store: a stream-stream join keeps
    FOUR stores per shuffle partition (KeyToNumValues + KeyWithIndexToValue
    per side), each paying a commit per micro-batch — so the partition
    count should track expected state volume, not the batch-query default.
    Pass ``None`` to keep the session's shuffle-partition setting (what a
    production cluster with real state volume would do).
    """
    restore = None
    if state_partitions is not None:
        restore = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    ev = _read_events_stream(spark, events_path)
    views = (ev.where(F.col("event_type") == "view")
             .select(F.col("event_id").alias("view_id"), "user_id",
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", watermark))
    clicks = (ev.where(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("click_user"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    joined = views.join(
        clicks,
        F.expr(f"""user_id = click_user
                   AND click_ts >= view_ts
                   AND click_ts <= view_ts + INTERVAL {within}"""),
        "inner")
    try:
        return _run_available_now(
            joined.select("view_id", "click_id", "user_id",
                          "view_ts", "click_ts"),
            "stream_ssjoin", output_mode="append")
    finally:
        if restore is not None:
            spark.conf.set("spark.sql.shuffle.partitions", restore)


def stream_dedup_within_watermark(spark: SparkSession, events_path: str,
                                  watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: the incoming stream is doubled (self-union —
    simulating an at-least-once source that redelivers every event) and
    collapsed back with ``dropDuplicatesWithinWatermark`` keyed on
    event_id. State for an id is held only until the watermark passes its
    event time, so state size is bounded by (watermark × arrival rate) —
    the property that makes streaming dedup viable at 100 TB/day, unlike
    an unbounded ``dropDuplicates``."""
    ev = _read_events_stream(spark, events_path)
    doubled = ev.unionByName(ev)
    deduped = (doubled.withWatermark("ts", watermark)
               .dropDuplicatesWithinWatermark(["event_id"]))
    out = _run_available_now(
        deduped.select("event_id", "user_id", "event_type", "value"),
        "stream_dedup", output_mode="append")
    return out


def stream_mv_refresh(spark: SparkSession, source_root: str,
                      mv_root: str, group_cols: list, sum_col: str):
    """STREAMING materialized-view maintenance: the tx-table CDF
    Structured-Streaming source (``txlog_changes``) paces per-micro-
    batch refreshes of the aggregate MV — each batch folds exactly the
    source versions it delivered (``refresh_agg_mv(upto_version=...)``),
    so the MV advances commit-by-commit with the stream, every fold is
    exactly-once (the MV's own txn watermark), and a replayed batch is
    a logged no-op. The full lakehouse loop on this repo's primitives:
    CDF source → delta fold → conditional merge, all transactional.
    Returns the MV table handle after the backlog drains."""
    import os

    from walmart_project_etl_spark.operators.matview import refresh_agg_mv
    from walmart_project_etl_spark.sources.txlog import TxTable

    from .txsource import TxLogChangesDataSource

    spark.dataSource.register(TxLogChangesDataSource)
    src = TxTable(spark, source_root)
    feed = (spark.readStream.format("txlog_changes")
            .option("root", source_root).load())

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        hi = batch_df.agg(F.max("_commit_version")).first()[0]
        if hi is not None:
            refresh_agg_mv(spark, src, mv_root, group_cols, sum_col,
                           upto_version=int(hi))

    q = (feed.writeStream
         .foreachBatch(fold)
         .option("checkpointLocation",
                 os.path.join(mv_root, "_stream_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return TxTable(spark, mv_root)


def stream_replicate_table(spark: SparkSession, source_root: str,
                           replica_root: str):
    """CDC REPLICATION: follow a tx table's change feed with the
    Structured-Streaming source and apply every micro-batch to a
    REPLICA table with :meth:`TxTable.apply_changes` — one atomic
    commit per batch, exactly-once via the replica's txn marker (a
    replayed batch after restart is a logged no-op). The replica is a
    row-level copy that tracks the source for the cost of its CHANGES
    — the cross-region / dev-mirror pattern a 100 TB source table
    cannot afford as snapshot copies. The replica is created here
    (same schema + merge key, change feed enabled so replicas chain);
    returns its handle after the backlog drains.

    A RESTORE on the source raises ChangeFeedRestoredError through the
    stream (the feed does not row-track restores): recover by
    resyncing the replica from a source snapshot and restarting with a
    fresh checkpoint — the same recovery contract as
    operators/matview.refresh_agg_mv, which implements it."""
    import json as _json
    import os

    from pyspark.sql.types import StructType

    from walmart_project_etl_spark.sources.txlog import TxTable

    from .txsource import TxLogChangesDataSource

    spark.dataSource.register(TxLogChangesDataSource)
    src = TxTable(spark, source_root)
    meta = src._state()[0]
    replica = TxTable(spark, replica_root)
    if not replica.versions():
        schema = StructType.fromJson(_json.loads(meta["schema"]))
        replica.create(spark.createDataFrame([], schema),
                       meta["key_col"], change_feed=True)
    feed = (spark.readStream.format("txlog_changes")
            .option("root", source_root).load())

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        TxTable(spark, replica_root).apply_changes(
            batch_df, txn=(f"replica:{source_root}", int(batch_id)))

    q = (feed.writeStream
         .foreachBatch(apply)
         .option("checkpointLocation",
                 os.path.join(replica_root, "_stream_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return TxTable(spark, replica_root)


def stream_scd2_history(spark: SparkSession, source_root: str,
                        hist_root: str):
    """SCD2 HISTORY REPLICA: follow a tx table's change feed and
    maintain the full versioned-dimension history incrementally — the
    streaming twin of ``operators/scd2.py:scd2_from_changes``, with the
    same commit-version effective dating, so the result is IDENTICAL
    however the stream batches the commits (per-batch the events chain
    through one key-ordered window; across batches the first event of a
    key closes its pre-batch current row — an associative fold over the
    version-ordered feed).

    Per micro-batch: one window over the batch's events, one pruned
    read of the affected keys' CURRENT rows (key-bloom column index),
    and ONE merge (closed rows update in place via their (key,
    eff_from) surrogate, new versions insert) with a txn marker —
    exactly-once, replay-safe. History grows by O(changed rows) per
    batch; nothing ever rescans the source.

    Returns the history TxTable after the backlog drains.
    """
    import json as _json
    import os

    from pyspark.sql.types import StructType

    from walmart_project_etl_spark.sources.txlog import TxTable

    from .txsource import TxLogChangesDataSource

    spark.dataSource.register(TxLogChangesDataSource)
    src = TxTable(spark, source_root)
    meta = src._state()[0]
    key = meta["key_col"]
    schema = StructType.fromJson(_json.loads(meta["schema"]))
    attrs = [f.name for f in schema.fields if f.name != key]

    hist = TxTable(spark, hist_root)
    if not hist.versions():
        hschema = ("hk string, " + key + " " +
                   dict((f.name, f.dataType.simpleString())
                        for f in schema.fields)[key] + ", " +
                   ", ".join(f"{f.name} {f.dataType.simpleString()}"
                             for f in schema.fields if f.name != key) +
                   ", eff_from long, eff_to long, is_current boolean")
        hist.create(spark.createDataFrame([], hschema), "hk",
                    bloom_cols=[key])

    feed = (spark.readStream.format("txlog_changes")
            .option("root", source_root).load())

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        h = TxTable(spark, hist_root)
        evs = batch_df.where(F.col("_change_type").isin(
            "insert", "update_postimage", "delete"))
        w = Window.partitionBy(key).orderBy("_commit_version")
        # pinned per batch: the windowed events feed the affected-key
        # collect, the open-rows branch, and the close join — uncached
        # each pass replays the micro-batch source read + the window
        with pins() as pin:
            evs = pin(evs.withColumn("__next",
                                     F.lead("_commit_version").over(w)))
            opens = (evs.where(F.col("_change_type") != "delete")
                     .select(F.col(key), *[F.col(a) for a in attrs],
                             F.col("_commit_version").cast("long")
                              .alias("eff_from"),
                             F.col("__next").cast("long").alias("eff_to"),
                             F.col("__next").isNull().alias("is_current")))
            first_v = (evs.groupBy(key)
                       .agg(F.min("_commit_version").cast("long")
                            .alias("__first")))
            affected = [r[key] for r in first_v.collect()]  # batch-sized
            # current-row lookup: bloom-pruned point reads for a narrow
            # batch; a backfill-sized batch (or the first drain, when most
            # keys are new) does one scan+semi-join instead — 10^4 bloom
            # probes cost more than the scan they'd save
            if len(affected) <= 1000:
                cur = (h.read_col_in(key, affected)
                       .where(F.col("is_current")))
            else:
                cur = (h.snapshot().where(F.col("is_current"))
                       .join(first_v.select(key), key, "left_semi"))
            closed = (cur.drop("eff_to", "is_current", "hk")
                      .join(first_v, key)
                      .select(F.col(key), *[F.col(a) for a in attrs],
                              F.col("eff_from"),
                              F.col("__first").alias("eff_to"),
                              F.lit(False).alias("is_current")))
            upserts = closed.unionByName(opens).withColumn(
                "hk", F.md5(F.concat_ws(
                    "\x1f", F.col(key).cast("string"),
                    F.col("eff_from").cast("string"))))
            h.merge_upsert(
                upserts.select("hk", key, *attrs, "eff_from", "eff_to",
                               "is_current"),
                txn=(f"scd2:{source_root}", int(batch_id)))

    q = (feed.writeStream
         .foreachBatch(apply)
         .option("checkpointLocation",
                 os.path.join(hist_root, "_stream_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return TxTable(spark, hist_root)


def stream_psi_bucket_counts(spark: SparkSession, events_path: str,
                             edges: list[float], warehouse_root: str,
                             user_parity: int = 1,
                             max_files_per_trigger: int = 4,
                             checkpoint_dir: str | None = None) -> DataFrame:
    """STREAMING side of a PSI drift monitor: maintain the current
    population's bucket counts incrementally over real micro-batches.

    The reference distribution's decile ``edges`` are fixed up front
    (they come from the historical/batch side — the standard serving
    setup, where the monitor compares live traffic against a frozen
    training-time distribution). Each micro-batch buckets its own rows
    against those 9 literals (a codegen'd map, no shuffle beyond the
    tiny per-batch count) and writes the per-bucket counts as a DELTA
    keyed by its own ``batch_id`` (a ≤10-row parquet partition at
    ``psi_counts_deltas/batch=<id>``). The write is REPLAY-IDEMPOTENT:
    foreachBatch replays a micro-batch under the SAME batch_id after a
    crash between the sink write and the checkpoint commit, and the
    replay overwrites its own partition with identical content instead
    of double-adding (the failure mode of a read-add-replace sink).
    Addition is associative and commutative, so the final counts are
    identical for ANY micro-batch split of the input — which is what
    lets the registered oracle be the plain batch PSI.

    State is the delta directory, not the state store: nothing to
    watermark; a restart resumes from ``checkpoint_dir`` (pass one to
    make the run resumable — a fresh run with an existing checkpoint
    keeps the deltas already written and only processes what the
    checkpoint says is pending). At serving scale the deltas compact
    trivially (each is bucket-count-sized, never row-sized).

    NULL values are missingness, not distribution mass — excluded from
    the bucket counts (the psi_drift/ks_drift convention).

    Returns the accumulated (b, c) counts table, also materialized at
    ``tgt/psi_counts``.
    """
    from functools import reduce

    bucket = reduce(
        lambda acc, e: acc + F.when(F.col("value") >= F.lit(float(e)), 1)
        .otherwise(0), edges, F.lit(0))

    def batch_counts(batch_df: DataFrame) -> DataFrame:
        return (batch_df.where(F.col("value").isNotNull())
                .select(bucket.alias("b"))
                .groupBy("b")
                .agg(F.count(F.lit(1)).cast("long").alias("c")))

    return _stream_count_deltas(spark, events_path, warehouse_root,
                                "psi_counts", "b", batch_counts,
                                user_parity, max_files_per_trigger,
                                checkpoint_dir, "wpe_stream_psi_")


def stream_value_counts(spark: SparkSession, events_path: str,
                        warehouse_root: str, user_parity: int = 1,
                        max_files_per_trigger: int = 4,
                        checkpoint_dir: str | None = None) -> DataFrame:
    """STREAMING side of an exact-KS drift monitor: accumulate the
    current population's per-distinct-VALUE counts over real
    micro-batches — the sufficient statistic for the two-sample
    Kolmogorov-Smirnov ECDF (where PSI needs only ≤10 bucket counts,
    exact KS needs the value-grain histogram; state is bounded by the
    metric's distinct-value cardinality, NOT the row count — fine for
    discretized/quantized metrics, document the bound per metric).

    Same replay-idempotent sink as :func:`stream_psi_bucket_counts`
    (shared: :func:`_stream_count_deltas`): each micro-batch writes its
    (x, c) counts as a parquet delta keyed by its batch_id; a replayed
    batch overwrites its own partition instead of double-adding.
    Addition is associative, so the accumulated counts equal the batch
    counts for ANY micro-batch split — which is what lets the
    registered oracle be the plain batch KS.

    Returns the accumulated (x, c) counts table, also materialized at
    ``tgt/ks_value_counts``.
    """

    def batch_counts(batch_df: DataFrame) -> DataFrame:
        return (batch_df.select(F.col("value").alias("x"))
                .where(F.col("x").isNotNull())
                .groupBy("x")
                .agg(F.count(F.lit(1)).cast("long").alias("c")))

    return _stream_count_deltas(spark, events_path, warehouse_root,
                                "ks_value_counts", "x", batch_counts,
                                user_parity, max_files_per_trigger,
                                checkpoint_dir, "wpe_stream_ks_")


def stream_category_counts(spark: SparkSession, events_path: str,
                           warehouse_root: str, user_parity: int = 1,
                           max_files_per_trigger: int = 4,
                           checkpoint_dir: str | None = None) -> DataFrame:
    """STREAMING side of a chi-square homogeneity drift monitor:
    accumulate the current population's per-CATEGORY counts
    (``event_type``) over real micro-batches — the sufficient
    statistic for the 2×k contingency table (state is bounded by the
    category cardinality, the smallest of the three drift-state
    shapes: k rows vs KS/MWU's distinct-value grain).

    Same replay-idempotent sink as :func:`stream_psi_bucket_counts`
    (shared: :func:`_stream_count_deltas`): each micro-batch writes
    its (b, c) category counts as a parquet delta keyed by its
    batch_id; a replayed batch (crash between sink write and
    checkpoint commit) overwrites its own partition instead of
    double-adding. Addition is associative, so the accumulated counts
    equal the batch counts for ANY micro-batch split — which is what
    lets the registered oracle be the plain batch chi-square.

    NULL categories are missingness, not categories (the
    operators.cleaning convention) — excluded from the counts.

    Returns the accumulated (b, c) counts table, also materialized at
    ``tgt/chisq_category_counts``.
    """

    def batch_counts(batch_df: DataFrame) -> DataFrame:
        return (batch_df.select(F.col("event_type").alias("b"))
                .where(F.col("b").isNotNull())
                .groupBy("b")
                .agg(F.count(F.lit(1)).cast("long").alias("c")))

    return _stream_count_deltas(spark, events_path, warehouse_root,
                                "chisq_category_counts", "b",
                                batch_counts, user_parity,
                                max_files_per_trigger, checkpoint_dir,
                                "wpe_stream_chisq_")


def stream_feature_value_counts(spark: SparkSession, events_path: str,
                                warehouse_root: str, features: dict,
                                user_parity: int = 1,
                                max_files_per_trigger: int = 4,
                                checkpoint_dir: str | None = None
                                ) -> DataFrame:
    """STREAMING side of the MELTED multi-feature drift monitor: each
    micro-batch melts the given ``features`` (name → Column over the
    event row) into one (feature, value) frame and accumulates
    per-(feature, distinct value) counts — the sufficient statistic
    for per-feature exact-KS/MWU across a whole feature LIST, through
    ONE stream and one delta sink instead of one monitor per feature
    (the streaming twin of the batch melt: job count O(1) in the
    feature count). Values cast to double like the batch melt
    (order/tie-preserving to 15 significant digits — the rank
    statistics' only dependence).

    Same replay-idempotent batch-keyed delta sink as every count
    monitor here (:func:`_stream_count_deltas`, composite (f, x)
    key); addition is associative, so the accumulated counts equal
    the batch counts for ANY micro-batch split and the registered
    oracle is the plain batch statistic. State is bounded by the sum
    of the features' distinct-value cardinalities.

    Returns the accumulated (f, x, c) counts table, also materialized
    at ``tgt/feature_value_counts``.
    """

    def batch_counts(batch_df: DataFrame) -> DataFrame:
        pairs = F.array(*[
            F.struct(F.lit(n).alias("f"), c.cast("double").alias("x"))
            for n, c in features.items()])
        return (batch_df.select(F.explode(pairs).alias("s"))
                .select("s.f", "s.x")
                .where(F.col("x").isNotNull())
                .groupBy("f", "x")
                .agg(F.count(F.lit(1)).cast("long").alias("c")))

    return _stream_count_deltas(spark, events_path, warehouse_root,
                                "feature_value_counts", ["f", "x"],
                                batch_counts, user_parity,
                                max_files_per_trigger, checkpoint_dir,
                                "wpe_stream_multikv_")


def stream_embedding_norm_counts(spark: SparkSession, emb_path: str,
                                 warehouse_root: str,
                                 vec_expr=None,
                                 vec_parity: int = 1,
                                 max_files_per_trigger: int = 2,
                                 checkpoint_dir: str | None = None
                                 ) -> DataFrame:
    """STREAMING side of the embedding NORM drift monitor: accumulate
    per-distinct-‖v‖ counts over real micro-batches of an embeddings
    file stream — the exact-KS sufficient statistic for the norm
    distribution (the cheap first-alarm that catches an embedding-model
    version bump or a normalization bug before anyone inspects pair
    geometry). The norm is a narrow sequential-fold map per row
    (``similarity.dot``), computed INSIDE each micro-batch — no vector
    state is ever stored, only the (norm, count) frame, bounded by the
    norm's distinct-value cardinality.

    ``vec_expr`` optionally replaces the raw double-cast vector (e.g.
    a drift-injection transform in the fixture, or a projection/prefix
    in production). Same replay-idempotent batch-keyed delta sink as
    every count monitor here (:func:`_stream_count_deltas`); addition
    is associative, so the accumulated counts equal the batch counts
    for ANY micro-batch split — which is what lets the registered
    oracle be the plain batch KS over norms.

    Returns the accumulated (x, c) counts table, also materialized at
    ``tgt/emb_norm_counts``.
    """
    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)

    from walmart_project_etl_spark.operators.similarity import (_as_double,
                                                                dot)

    emb_schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    v = _as_double(F.col("embedding")) if vec_expr is None else vec_expr

    def batch_counts(batch_df: DataFrame) -> DataFrame:
        return (batch_df.select(F.sqrt(dot(v, v)).alias("x"))
                .where(F.col("x").isNotNull())
                .groupBy("x")
                .agg(F.count(F.lit(1)).cast("long").alias("c")))

    return _stream_count_deltas(spark, emb_path, warehouse_root,
                                "emb_norm_counts", "x", batch_counts,
                                vec_parity, max_files_per_trigger,
                                checkpoint_dir, "wpe_stream_embnorm_",
                                schema=emb_schema,
                                parity_col="vec_id")


def _stream_count_deltas(spark: SparkSession, events_path: str,
                         warehouse_root: str, table: str, key_col: str,
                         batch_counts, user_parity: int,
                         max_files_per_trigger: int,
                         checkpoint_dir: str | None,
                         ckpt_prefix: str,
                         schema=None,
                         parity_col: str = "user_id") -> DataFrame:
    """Shared replay-idempotent count-accumulator sink: stream the
    parity-filtered source (``schema``/``parity_col`` default to the
    events table; the embedding monitors pass their own), reduce each
    micro-batch to a (key, c) count frame via ``batch_counts``, and
    write it as a parquet delta keyed by the batch_id — a replayed
    micro-batch (crash between sink write and checkpoint commit)
    overwrites ITS OWN partition with identical content instead of
    double-adding into a running total. The final table is the per-key
    sum over all deltas.
    """
    import os
    import tempfile

    from walmart_project_etl_spark.sources.catalog import Warehouse

    wh = Warehouse(spark, warehouse_root)
    wh.drop("tgt", table)
    deltas_root = wh.path("tgt", f"{table}_deltas")
    if checkpoint_dir is None:
        ckpt = os.path.join(tempfile.mkdtemp(prefix=ckpt_prefix), "ckpt")
    else:
        ckpt = checkpoint_dir
    if not os.path.exists(ckpt):
        # fresh run: stale deltas from a prior (different-checkpoint)
        # run would double-count — the checkpoint owns the delta dir
        wh.drop("tgt", f"{table}_deltas")

    def add_counts(batch_df: DataFrame, batch_id: int) -> None:
        batch_counts(batch_df).write.mode("overwrite").parquet(
            os.path.join(deltas_root, f"batch={int(batch_id)}"))

    ev = (spark.readStream
          .schema(EVENTS_SCHEMA if schema is None else schema)
          .option("maxFilesPerTrigger", max_files_per_trigger)
          .format("parquet")
          .load(events_path)
          .where(F.col(parity_col) % 2 == user_parity))
    q = (ev.writeStream
         .foreachBatch(add_counts)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
    total = (spark.read.option("basePath", deltas_root)
             .parquet(deltas_root)
             .groupBy(*key_cols)
             .agg(F.sum("c").cast("long").alias("c")))
    wh.write("tgt", table, total)
    return wh.read("tgt", table)
