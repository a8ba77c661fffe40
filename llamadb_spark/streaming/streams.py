"""Structured Streaming operators (SURVEY §2 #41): readStream over
the events parquet, watermarked tumbling-window aggregation, memory
sink test harness.

The batch twins in operators/events.py define the semantics the
DuckDB oracles verify; these streaming forms are verified by
equivalence tests (availableNow over the same files must reproduce
the batch result exactly).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from llamadb_spark.session import read_parquet, stage

#: (events file, its mtime and size, mode, sentinel_days) -> drop dir.
_DROP_DIRS: dict[tuple, str] = {}
_DROP_LOCK = threading.Lock()


def _drop_dir(src: str, mode: str, sentinel_days: int | None, fill) -> str:
    """The drop directory a file stream over ``src`` reads: made and
    filled (``fill(drop_dir)``) once per process for each version of
    the file, mode and ``sentinel_days``, and removed at interpreter
    exit. The stream only lists and reads the directory, so every
    stream over the same file shares it."""
    st = os.stat(src)
    key = (os.path.realpath(src), st.st_mtime_ns, st.st_size, mode, sentinel_days)
    with _DROP_LOCK:
        if key not in _DROP_DIRS:
            drop_dir = tempfile.mkdtemp(prefix=f"llamadb_events_{mode}_")
            atexit.register(shutil.rmtree, drop_dir, True)
            fill(drop_dir)
            _DROP_DIRS[key] = drop_dir
        return _DROP_DIRS[key]


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table. In production this
    is a Kafka/file-drop source; the parquet file source has the
    same incremental semantics (new files = new micro-batches).

    FileStreamSource requires a directory (a drop-dir of arriving
    files); the test fixture is a single parquet file, so stage a
    temp dir with a symlink to it (one per file, ``_drop_dir``).

    The stream schema must be declared up front (no inference on a
    file stream), and the dataset's ts encoding has two variants
    (TIMESTAMP(NANOS)-as-long, TIMESTAMP_NTZ micros) — so take the
    schema from a one-off batch read of the same file (footer-only,
    no data scan) and normalize ts exactly like queries/events.py.
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    src = f"{sf_dir}/events.parquet"
    drop_dir = _drop_dir(
        src, "stream", None, lambda d: os.symlink(src, f"{d}/events-00000.parquet")
    )
    schema = read_parquet(spark, src).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop_dir)
    )
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, LongType):
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(ts_type, TimestampNTZType):
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _stage_sentinels_pyarrow(
    src: str, drop_dir: str, sentinel_days: int, base_mtime: float
) -> bool:
    """Write the two one-row sentinel files with pyarrow directly —
    max(ts) from the parquet footer statistics, the template row from
    the file's first page — so staging costs zero Spark jobs. Returns
    False (caller falls back to the Spark path) when any row group
    lacks ts statistics. Field overrides mirror the Spark path
    exactly: user_id/event_id = -1, event_type = 'sentinel', ts =
    max + (sentinel_days + j) days in the file's own encoding."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(src)
        names = pf.schema_arrow.names
        ts_idx = names.index("ts")
        mx = None
        for g in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(g).column(ts_idx).statistics
            if st is None or not st.has_min_max:
                return False
            mx = st.max if mx is None else max(mx, st.max)
        if mx is None:
            return False
        template = next(pf.iter_batches(batch_size=1))
        ts_type = pf.schema_arrow.field("ts").type
        for j in range(2):
            if pa.types.is_integer(ts_type):
                far = int(mx) + (sentinel_days + j) * 86_400_000_000_000
            else:
                import datetime as dt

                far = mx + dt.timedelta(days=sentinel_days + j)
            cols = []
            for name in names:
                f = pf.schema_arrow.field(name)
                if name == "ts":
                    cols.append(pa.array([far], type=f.type))
                elif name in ("user_id", "event_id"):
                    cols.append(pa.array([-1], type=f.type))
                elif name == "event_type":
                    cols.append(pa.array(["sentinel"], type=f.type))
                else:
                    cols.append(template.column(names.index(name)))
            dst = f"{drop_dir}/events-9999{j}-sentinel.parquet"
            pq.write_table(
                pa.Table.from_arrays(cols, schema=pf.schema_arrow), dst
            )
            os.utime(dst, (base_mtime + 1 + j, base_mtime + 1 + j))
        return True
    except Exception:  # noqa: BLE001 — any surprise → Spark fallback
        return False


def read_events_stream_unordered(
    spark: SparkSession, sf_dir: str, sentinel_days: int = 8000
) -> DataFrame:
    """read_events_stream plus END-OF-STREAM WATERMARK SENTINELS for
    the stateful operators on the event-time reorder skeleton
    (transitions/sessions/cep, reorder.py): two far-future events
    under the reserved SENTINEL_USER (-1) are staged as extra files
    after the events file. The first (read in the SAME micro-batch as
    the data, see files_per_trigger below) advances the global
    watermark past every real timestamp; the second is the data batch
    during which the now-expired event-time flush timers actually
    fire (availableNow runs no trailing no-data batch for timers).
    Sentinels are built in the RAW file schema (one template row with
    overridden id/ts columns), so both ts encodings normalize
    identically to the main file; the operators drop SENTINEL_USER
    rows on their output side (an input filter would be pushed below
    the EventTimeWatermark node and starve the watermark).
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    src = f"{sf_dir}/events.parquet"
    batch = read_parquet(spark, src)
    # r11: TWO files per trigger, so the FIRST sentinel rides in the
    # data batch. Batch 1 (events + sentinel-0) buffers everything
    # (the SPARK-24634 lagged watermark is still unset during batch
    # 1, exactly as when the sentinel arrived separately); batch 2
    # (sentinel-1) observes the now-advanced watermark, fires every
    # event-time flush timer and emits the full output. Two stateful
    # micro-batches instead of three — one applyInPandasWithState
    # round (shuffle + Python workers + 32 state-store commits) cut
    # per drain, byte-identical output (all real events were already
    # buffered before any flush in both forms).
    files_per_trigger = 2
    schema = batch.schema
    ts_type = schema["ts"].dataType

    def fill(drop_dir: str) -> None:
        os.symlink(src, f"{drop_dir}/events-00000.parquet")
        base_mtime = os.path.getmtime(src)
        # The sentinels are staged WITHOUT Spark jobs. max(ts) comes
        # from the parquet FOOTER statistics (at corpus scale a
        # batch.agg(max) is a full column scan; footers are O(row
        # groups)), and the two one-row sentinel files are written
        # directly with pyarrow from a one-row template batch. Falls
        # back to the Spark path below when any footer lacks ts
        # statistics.
        if _stage_sentinels_pyarrow(src, drop_dir, sentinel_days, base_mtime):
            return
        # raw-encoding far-future timestamps (nanos-as-long vs ts)
        mx = batch.agg(F.max("ts").alias("m")).collect()[0]["m"]
        for j in range(2):
            if isinstance(ts_type, LongType):
                far = lit(int(mx) + (sentinel_days + j) * 86_400_000_000_000)
            else:
                import datetime as dt

                far = lit(mx + dt.timedelta(days=sentinel_days + j))
            overrides = {
                "user_id": lit(-1).cast(schema["user_id"].dataType),
                "event_id": lit(-1).cast(schema["event_id"].dataType),
                "event_type": lit("sentinel"),
                "ts": far.cast(ts_type),
            }
            sentinel = batch.limit(1).select(
                *[
                    overrides.get(f.name, F.col(f.name)).alias(f.name)
                    for f in schema.fields
                ]
            )
            dst = f"{drop_dir}/events-9999{j}-sentinel.parquet"
            with tempfile.TemporaryDirectory(prefix="llamadb_sentinel_") as staged:
                sentinel.write.mode("overwrite").parquet(staged)
                part = next(
                    f for f in os.listdir(staged) if f.endswith(".parquet")
                )
                shutil.copyfile(os.path.join(staged, part), dst)
            os.utime(dst, (base_mtime + 1 + j, base_mtime + 1 + j))

    drop_dir = _drop_dir(src, "ooostream", sentinel_days, fill)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(drop_dir)
    )
    if isinstance(ts_type, LongType):
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(ts_type, TimestampNTZType):
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_counts_stream(
    events: DataFrame,
    width: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling (or, with `slide`, sliding) window
    aggregate — the streaming twin of operators/events
    windowed_counts / sliding_windowed_counts. The watermark bounds
    state: windows older than max(event time) - watermark are
    finalized and evicted, so state size is O(active windows), not
    O(stream)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide or width).alias("w"), "event_type")
        .agg(
            F.count(lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_window_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked NATIVE session-window aggregate — the streaming
    twin of operators/events session_window_agg. Session windows
    merge as events arrive; a session finalizes (and its state is
    evicted) once the watermark passes its end, so state is bounded
    by active sessions per key, not stream length."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            col("sw.start").alias("session_start"),
            col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def user_totals_tws_stream(events: DataFrame) -> DataFrame:
    """Per-user RUNNING totals via transformWithState (Spark 4's
    arbitrary-stateful API, the successor to applyInPandasWithState):
    a ValueState cell per user accumulates (n_events, total_value)
    across micro-batches; each batch emits the updated running row.
    Compared to applyInPandasWithState, state here is typed and
    composable (value/list/map cells, timers) instead of one opaque
    tuple — this operator is the minimal value-state pattern.

    ENVIRONMENT NOTE: the transformWithState state protocol speaks
    protobuf between the JVM and a Python driver worker; in a
    container without google.protobuf the query fails at
    initialization (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE).
    The equivalence test skips in that case and
    sessionize_stream's applyInPandasWithState remains the
    exercised stateful path.

    State is O(distinct users); at 100 TB you bound it with a timer
    (handleExpiredTimer) or key TTL — omitted here because the test
    corpus is finite.

    Output (update mode): (user_id, n_events, total_value) — the
    latest running totals for users seen in each micro-batch.
    """
    from typing import Iterator

    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n_events long, total_value double"
            )

        def handleInputRows(
            self, key, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            n, total = 0, 0.0
            if self._state.exists():
                n, total = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 6)],
                }
            )

        def close(self) -> None:
            # required StatefulProcessor hook; no resources to release
            # (state lives in the store, nothing opened in init)
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType="user_id long, n_events long, total_value double",
            outputMode="Update",
            timeMode="None",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming deduplication with bounded state:
    dropDuplicatesWithinWatermark keeps the first arrival per key and
    evicts key state once the watermark passes — O(keys within the
    watermark horizon) state, not O(stream). The exact-dedup twin of
    the batch d01 operator for infinite inputs.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def _purchase_view_interval_join(
    events: DataFrame, lag: str, watermark: str, how: str
) -> DataFrame:
    p = events.filter(col("event_type") == "purchase").select(
        col("user_id").alias("p_user"),
        col("event_id").alias("purchase_id"),
        col("ts").alias("p_ts"),
        col("value").alias("purchase_value"),
    ).withWatermark("p_ts", watermark)
    v = events.filter(col("event_type") == "view").select(
        col("user_id").alias("v_user"),
        col("event_id").alias("view_id"),
        col("ts").alias("v_ts"),
    ).withWatermark("v_ts", watermark)
    return p.join(
        v,
        F.expr(
            f"p_user = v_user AND v_ts <= p_ts AND v_ts >= p_ts - INTERVAL {lag}"
        ),
        how,
    ).select("p_user", "purchase_id", "p_ts", "purchase_value", "view_id", "v_ts")


def purchases_with_recent_views_stream(
    events: DataFrame, lag: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's views in the preceding `lag`. Both sides are watermarked
    and the join condition bounds event-time distance, so Spark can
    evict view state older than watermark+lag — the state-bounded
    form of a stream-stream join (an unbounded-condition join would
    keep both sides forever). Inner join ⇒ matches emit in the same
    micro-batch; watermarks only gate state eviction.
    """
    return _purchase_view_interval_join(events, lag, watermark, "inner")


def purchases_without_recent_views_stream(
    events: DataFrame, lag: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — abandoned-cart shape:
    every purchase emits, with NULL view columns when no view
    preceded it within `lag`.

    State-eviction semantics differ from the inner join in the one
    way that matters operationally: MATCHED rows emit in the same
    micro-batch, but a NULL (unmatched) row can only emit once the
    view-side watermark passes the purchase's event time — before
    that, a matching view could still arrive, so the purchase sits in
    state. Consequence: null results trail the stream by the
    watermark delay, and the trailing `watermark` of purchases at
    end-of-stream emits only when a later batch (or Spark's no-data
    micro-batch) advances the watermark past them.
    """
    return _purchase_view_interval_join(events, lag, watermark, "left_outer")


def drain(q, timeout_s: int) -> None:
    """The one wait for a finite (availableNow) query: block until it
    terminates, stopping it either way. Raises ``TimeoutError`` if it
    has not terminated within ``timeout_s``, so a caller never reads a
    partly drained sink. No operator in the package arms a
    processing-time timer, so every availableNow query terminates on
    its own once its source is consumed."""
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(
                f"{q.name or q.id}: stream not drained within {timeout_s} s"
            )
    finally:
        if q.isActive:
            q.stop()


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    timeout_s: int = 120,
    no_data_batch: bool = True,
) -> DataFrame:
    """Drain a (finite) stream into an in-memory table with
    availableNow and return the result as a DataFrame. Test harness
    only — production sinks are parquet/Kafka/Delta via writeStream.

    ``no_data_batch=False`` disables Spark's trailing no-data
    micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``)
    for THIS query (r11): a full stateful pass (~2 s of
    applyInPandasWithState shuffle + state commits at sf0.1) whose
    only purpose is to let watermark-gated operators flush after the
    last data batch. Keep the default for watermarked APPEND
    aggregations (their final windows emit in that batch); pass
    False when every row is already flushed by an in-data-batch
    event-time timer (the sentinel-driven transitions drain)."""
    spark = stream_df.sparkSession
    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(conf_key, "true")
    if not no_data_batch:
        spark.conf.set(conf_key, "false")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        # the query captured the conf at start; restore immediately
        if not no_data_batch:
            spark.conf.set(conf_key, prev)
    drain(q, timeout_s)
    return spark.table(name)


def daily_rollup_stream(events: DataFrame) -> DataFrame:
    """CHAINED stateful operators in one streaming query: hourly
    windowed counts re-aggregated into daily totals — two stateful
    aggregations back to back, the pre-aggregation cascade every
    metrics pipeline wants (the 1-hour state finalizes a window on
    watermark passage and feeds it straight into the 1-day state, no
    intermediate sink or second job). Needs Spark 3.4+'s
    multiple-stateful-operator support and the window-of-window
    grouping (F.window over the window struct column).

    Scale: the second aggregation's input is hourly-grain (24·types
    rows/day), so its state is tiny regardless of event volume — the
    cascade is why you chain rather than re-scan raw events at daily
    grain.
    """
    hourly = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(lit(1)).alias("n_1h"))
    )
    daily = hourly.groupBy(
        F.window(col("window"), "1 day"), "event_type"
    ).agg(F.sum("n_1h").alias("n_events"))
    return daily.select(
        col("window.start").alias("day_start"), "event_type", "n_events"
    )


def run_with_progress(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    timeout_s: int = 120,
) -> tuple[DataFrame, dict]:
    """Drain a finite stream like run_to_memory, but also aggregate
    the per-micro-batch StreamingQueryProgress into an operability
    summary — the numbers a production stream is monitored by:

    - input_rows: total rows ingested across micro-batches
    - rows_dropped_late: state-operator rows dropped because they
      arrived behind the watermark (THE late-data accounting metric;
      silently-dropped data is the classic streaming correctness
      trap, surfaced here per batch)
    - state_rows: final state-store row count
    - n_batches: micro-batches executed
    - state_store_metric_keys: custom state-store metric names (how
      you confirm which provider — HDFS-backed vs RocksDB — actually
      served the query)

    Returns (result DataFrame, metrics dict).

    Progress-buffer cap: ``q.recentProgress`` keeps only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` entries (default
    100), which would silently undercount input_rows /
    rows_dropped_late on streams with >100 micro-batches — the exact
    metric this function exists to surface. The conf is raised around
    the run (listener delivery is asynchronous, so a listener could
    miss trailing batches after awaitTermination; a deep synchronous
    buffer cannot). n_batches_capped flags the (now ~unreachable)
    truncation case instead of letting it pass silently.
    """
    spark = stream_df.sparkSession
    cap_key = "spark.sql.streaming.numRecentProgressUpdates"
    cap = 100_000
    prev_cap = spark.conf.get(cap_key, None)
    spark.conf.set(cap_key, str(cap))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        drain(q, timeout_s)
        progresses = [p for p in q.recentProgress if p is not None]
    finally:
        if prev_cap is None:
            spark.conf.unset(cap_key)
        else:
            spark.conf.set(cap_key, prev_cap)
    dropped = 0
    state_rows = 0
    metric_keys: set[str] = set()
    for p in progresses:
        for op in p.get("stateOperators", []):
            dropped += op.get("numRowsDroppedByWatermark", 0)
            state_rows = max(state_rows, op.get("numRowsTotal", 0))
            metric_keys |= set(op.get("customMetrics", {}).keys())
    metrics = {
        "input_rows": sum(p.get("numInputRows", 0) for p in progresses),
        "rows_dropped_late": dropped,
        "state_rows": state_rows,
        "n_batches": len(progresses),
        "n_batches_capped": len(progresses) >= cap,
        "state_store_metric_keys": sorted(metric_keys),
    }
    return stream_df.sparkSession.table(name), metrics


def enriched_counts_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join + rollup: the streaming twin of
    operators/events.enrich_events. The static side is planned as a
    broadcast against every micro-batch (re-resolved per batch, so a
    slowly-changing dim picks up updates); no stream-side state is
    needed for a stream-static inner join — only the downstream
    aggregation holds state.
    """
    return (
        events.join(F.broadcast(dim), col("user_id") == col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


def topk_users_stream_foreachbatch(
    events: DataFrame, name: str, k: int = 5, timeout_s: int = 120
) -> DataFrame:
    """Streaming top-k via foreachBatch — the standard pattern for
    sinks/logic Structured Streaming can't express declaratively
    (ranked truncation, MERGE upserts, multi-table writes).

    The stream maintains per-(event_type, user) totals in update
    mode; each micro-batch's updated rows flow into foreachBatch,
    which re-ranks against a driver-registered running-state view and
    overwrites the top-k table. State stays bounded: the streaming agg
    holds (type × user) totals, the batch hook only ever sees deltas
    plus the k-row leaderboard.

    Returns the final top-k DataFrame after draining (availableNow).
    """
    totals = events.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 6).alias("total_value")
    )
    spark = events.sparkSession
    state_tbl = f"{name}_state"
    spark.sql(f"DROP VIEW IF EXISTS {state_tbl}")
    # with the in-memory catalog a previous session's managed-table
    # directory can outlive its catalog entry (same cleanup as
    # sources.catalog.write_bucketed_table)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/{name.lower()}", ignore_errors=True)

    def _rank_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        s = batch_df.sparkSession
        if s.catalog.tableExists(state_tbl):
            # updated rows replace their key's previous totals
            prev = s.table(state_tbl)
            merged = (
                prev.join(
                    batch_df.select("event_type", "user_id"),
                    ["event_type", "user_id"],
                    "left_anti",
                )
                .unionByName(batch_df)
            )
        else:
            merged = batch_df
        # staged: the rank below and the next batch both read it, and
        # the next batch's state plan starts from these blocks instead
        # of nesting this one
        merged, _ = stage(merged)
        merged.createOrReplaceTempView(state_tbl)
        w = Window.partitionBy("event_type").orderBy(
            col("total_value").desc(), col("user_id")
        )
        (
            merged.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(col("rank") <= k)
            .write.mode("overwrite")
            .saveAsTable(name)
        )

    q = (
        totals.writeStream.outputMode("update")
        .foreachBatch(_rank_batch)
        .trigger(availableNow=True)
        .start()
    )
    drain(q, timeout_s)
    return spark.table(name)
