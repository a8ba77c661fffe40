"""Structured Streaming tests: the streaming windowed aggregate over
the events files must reproduce the batch operator exactly
(availableNow drains the finite source)."""

from __future__ import annotations

import pytest

from llamadb_spark.operators.events import windowed_counts
from llamadb_spark.queries.events import _events
from llamadb_spark.streaming import (
    read_events_stream,
    run_to_memory,
    windowed_counts_stream,
)


def test_stream_matches_batch(spark, sf_dir):
    stream = windowed_counts_stream(read_events_stream(spark, sf_dir))
    got = run_to_memory(stream, "win_counts_test")
    batch = windowed_counts(_events(spark, sf_dir))

    key = lambda r: (r.window_start, r.event_type)  # noqa: E731
    got_rows = {key(r): (r.n_events, r.total_value) for r in got.collect()}
    batch_rows = {key(r): (r.n_events, r.total_value) for r in batch.collect()}
    assert got_rows == batch_rows
    assert len(got_rows) > 0


def test_stateful_sessionize_closes_sessions(spark, sf_dir):
    """Stateful sessionization over the events file stream: every
    session the batch sessionizer finds is emitted, each user's last
    one included — the sentinel-advanced watermark closes it by event
    time."""
    from llamadb_spark.operators.events import sessionize
    from llamadb_spark.streaming.sessions import sessionize_stream
    from llamadb_spark.streaming.streams import read_events_stream_unordered

    stream = sessionize_stream(
        read_events_stream_unordered(spark, sf_dir), gap_minutes=30,
        watermark_delay="7000 days",
    )
    got = run_to_memory(stream, "sessions_test", output_mode="append")
    batch = sessionize(_events(spark, sf_dir), gap_minutes=30)

    got_rows = {
        (r.user_id, r.session_seq): (r.n_events, round(r.total_value, 6))
        for r in got.collect()
    }
    expected = {
        (r.user_id, r.session_seq): (r.n_events, round(r.total_value, 6))
        for r in batch.collect()
    }
    assert got_rows == expected
    assert len(got_rows) > 0


def test_stream_dedup_matches_batch_distinct(spark, sf_dir):
    """Watermarked streaming dedup: one row per (user_id, event_type)
    key, keys identical to the batch distinct over the same file."""
    from llamadb_spark.streaming import dedup_stream, read_events_stream

    got = run_to_memory(
        dedup_stream(read_events_stream(spark, sf_dir)),
        "dedup_stream_test",
        output_mode="append",
    )
    got_keys = [(r.user_id, r.event_type) for r in got.collect()]
    batch_keys = {
        (r.user_id, r.event_type)
        for r in _events(spark, sf_dir).select("user_id", "event_type").distinct().collect()
    }
    assert len(got_keys) == len(set(got_keys))  # exactly one row per key
    assert set(got_keys) == batch_keys


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Interval self-join purchases←views: the streaming inner join
    must emit exactly the batch join's (purchase, view) pairs."""
    import pyspark.sql.functions as F

    from llamadb_spark.streaming import (
        purchases_with_recent_views_stream,
        read_events_stream,
    )

    got = run_to_memory(
        purchases_with_recent_views_stream(read_events_stream(spark, sf_dir)),
        "ssjoin_test",
        output_mode="append",
    )
    got_pairs = {(r.purchase_id, r.view_id) for r in got.collect()}

    ev = _events(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    batch_pairs = {
        (r.purchase_id, r.view_id)
        for r in p.join(
            v,
            F.expr(
                "p_user = v_user AND v_ts <= p_ts "
                "AND v_ts >= p_ts - INTERVAL 1 hour"
            ),
        ).collect()
    }
    assert got_pairs == batch_pairs
    assert len(got_pairs) > 0


def test_sliding_stream_matches_batch(spark, sf_dir):
    from llamadb_spark.operators.events import sliding_windowed_counts

    stream = windowed_counts_stream(
        read_events_stream(spark, sf_dir), slide="30 minutes"
    )
    got = run_to_memory(stream, "slide_counts_test")
    batch = sliding_windowed_counts(_events(spark, sf_dir), slide="30 minutes")
    key = lambda r: (r.window_start, r.event_type)  # noqa: E731
    got_rows = {key(r): (r.n_events, r.total_value) for r in got.collect()}
    batch_rows = {key(r): (r.n_events, r.total_value) for r in batch.collect()}
    assert got_rows == batch_rows and len(got_rows) > 0


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    """Stream-static join twin: the enriched rollup computed over the
    drained stream must equal the batch operator's result, and the
    static side must plan as a broadcast against each micro-batch."""
    from llamadb_spark.operators.events import enrich_events
    from llamadb_spark.streaming import enriched_counts_stream

    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    stream = enriched_counts_stream(read_events_stream(spark, sf_dir), dim)
    got = run_to_memory(stream, "enrich_test")
    batch = enrich_events(_events(spark, sf_dir), dim)

    key = lambda r: (r.c_mktsegment, r.event_type)  # noqa: E731
    got_rows = {key(r): (r.n_events, r.total_value) for r in got.collect()}
    batch_rows = {key(r): (r.n_events, r.total_value) for r in batch.collect()}
    assert got_rows == batch_rows and len(got_rows) > 0


def test_rate_zscore_is_standardized(spark, sf_dir):
    """Within each event_type the z-scores must have ~zero mean and
    unit variance (they're a standardization of the bucket counts)."""
    import pyspark.sql.functions as F

    from llamadb_spark.operators.events import event_rate_zscore

    # hour buckets: at sf0.001 minute buckets are almost all count=1
    # (zero variance -> no z); hours have real count spread
    z = event_rate_zscore(_events(spark, sf_dir), bucket="hour")
    stats = (
        z.filter(F.col("z").isNotNull())
        .groupBy("event_type")
        .agg(F.avg("z").alias("mu"), F.stddev_samp("z").alias("sd"))
        .collect()
    )
    # types with <2 buckets (or zero variance) legitimately have no
    # z-scores; the populated ones must be standardized
    assert len(stats) > 0
    for r in stats:
        assert abs(r.mu) < 1e-6 and abs(r.sd - 1.0) < 1e-3


def test_foreachbatch_topk_matches_batch(spark, sf_dir):
    """foreachBatch top-k over the drained stream must equal the
    batch top_users_per_type result."""
    from llamadb_spark.operators.events import top_users_per_type
    from llamadb_spark.streaming.streams import topk_users_stream_foreachbatch

    got = topk_users_stream_foreachbatch(
        read_events_stream(spark, sf_dir), name="topk_fb_test", k=5
    )
    batch = top_users_per_type(_events(spark, sf_dir), k=5)
    key = lambda r: (r.event_type, r.rank)  # noqa: E731
    got_rows = {key(r): (r.user_id, r.total_value) for r in got.collect()}
    batch_rows = {key(r): (r.user_id, r.total_value) for r in batch.collect()}
    assert got_rows == batch_rows and len(got_rows) > 0


def test_native_session_window_stream_matches_batch(spark, sf_dir):
    """Native session_window streaming twin: sessions the stream
    finalizes (watermark passed) must agree with the batch
    session_window_agg; each user's last session may stay open, so
    compare on the closed prefix."""
    from llamadb_spark.operators.events import session_window_agg
    from llamadb_spark.streaming.streams import (
        read_events_stream,
        session_window_stream,
    )

    stream = session_window_stream(read_events_stream(spark, sf_dir))
    got = run_to_memory(stream, "native_sessions_test", output_mode="append")
    batch = session_window_agg(_events(spark, sf_dir))

    key = lambda r: (r.user_id, r.session_start)  # noqa: E731
    got_rows = {key(r): (r.n_events, round(r.total_value, 6)) for r in got.collect()}

    # append mode emits a session once the watermark passes its end;
    # the final watermark is max(event time) - 2h, so any session
    # ending inside that trailing horizon stays open — not only each
    # user's last.
    import datetime

    import pyspark.sql.functions as F

    max_ts = _events(spark, sf_dir).agg(F.max("ts")).collect()[0][0]
    wm = max_ts - datetime.timedelta(hours=2)
    expected = {
        key(r): (r.n_events, round(r.total_value, 6))
        for r in batch.collect()
        if r.session_end <= wm
    }
    assert len(got_rows) > 0
    assert got_rows == expected


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


import pytest as _pytest  # noqa: E402


@_pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's state protocol needs google.protobuf, "
    "absent from this container (applyInPandasWithState covers the "
    "stateful path; see streams.py docstring)",
)
def test_transform_with_state_totals_match_batch(spark, sf_dir):
    """transformWithState running totals: after the availableNow run
    drains every micro-batch, the LAST update per user must equal the
    batch aggregate over the same file."""
    import pyspark.sql.functions as F

    from llamadb_spark.streaming.streams import (
        read_events_stream,
        user_totals_tws_stream,
    )

    stream = user_totals_tws_stream(read_events_stream(spark, sf_dir))
    got = run_to_memory(stream, "tws_totals_test", output_mode="update")
    # update mode emits one row per user per micro-batch; the single
    # input file means exactly one batch → already final
    got_rows = {
        r.user_id: (r.n_events, round(r.total_value, 6)) for r in got.collect()
    }
    batch = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("tv"),
        )
    )
    batch_rows = {r.user_id: (r.n, round(r.tv, 6)) for r in batch.collect()}
    assert len(got_rows) > 0
    assert got_rows == batch_rows


def test_stream_stream_left_outer_join_matches_batch(spark, sf_dir):
    """LEFT OUTER interval join: matched pairs must equal the batch
    inner join exactly; NULL rows are sandwiched — every emitted null
    is genuinely unmatched in batch, and every unmatched purchase old
    enough that the final watermark provably passed it (p_ts <
    max_ts - watermark - 1h margin) MUST have been emitted (i.e.
    state eviction actually fires, via Spark's no-data micro-batch)."""
    import datetime

    import pyspark.sql.functions as F

    from llamadb_spark.streaming import (
        purchases_without_recent_views_stream,
        read_events_stream,
        run_to_memory,
    )

    got = run_to_memory(
        purchases_without_recent_views_stream(
            read_events_stream(spark, sf_dir), lag="1 hour",
            watermark="30 minutes",
        ),
        "ssleftjoin_test",
        output_mode="append",
    ).collect()
    got_matched = {(r.purchase_id, r.view_id) for r in got if r.view_id is not None}
    got_nulls = {r.purchase_id for r in got if r.view_id is None}

    ev = _events(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    cond = F.expr(
        "p_user = v_user AND v_ts <= p_ts AND v_ts >= p_ts - INTERVAL 1 hour"
    )
    batch_matched = {
        (r.purchase_id, r.view_id) for r in p.join(v, cond).collect()
    }
    assert got_matched == batch_matched

    unmatched = p.join(v, cond, "left_anti")
    batch_unmatched = {r.purchase_id for r in unmatched.collect()}
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(hours=1, minutes=30)
    old_unmatched = {
        r.purchase_id
        for r in unmatched.filter(F.col("p_ts") < F.lit(horizon)).collect()
    }
    assert got_nulls <= batch_unmatched  # no false nulls, ever
    assert old_unmatched <= got_nulls, (
        "watermark passed these unmatched purchases but no null row "
        f"was emitted: {sorted(old_unmatched - got_nulls)[:5]}"
    )
    assert old_unmatched, "no evictable unmatched purchases — vacuous"


def test_cep_stream_matches_batch(spark, sf_dir):
    """Stateful streaming CEP (A -> no-N -> B within T): the match
    set over the full file stream must equal the batch operator's."""
    from llamadb_spark.operators.events import cep_sequence_matches
    from llamadb_spark.streaming.cep import cep_matches_stream
    from llamadb_spark.streaming.streams import (
        read_events_stream_unordered,
        run_to_memory,
    )

    got = run_to_memory(
        cep_matches_stream(
            read_events_stream_unordered(spark, sf_dir),
            watermark_delay="7000 days",
        ),
        "cep_stream_test",
        output_mode="append",
    )
    got_rows = {
        (r.user_id, r.match_id, r.gap_us) for r in got.collect()
    }
    batch_rows = {
        (r.user_id, r.match_id, r.gap_us)
        for r in cep_sequence_matches(_events(spark, sf_dir)).collect()
    }
    assert got_rows == batch_rows
    assert len(batch_rows) > 0


def test_transition_stream_matches_batch(spark, sf_dir):
    """Stateful streaming transition extraction (last event type per
    user key): the per-pair step counts over the full file
    stream must equal the batch e21 lag operator's counts, and the
    e24 query key (stream drain + Markov aggregation) must reproduce
    e21's full matrix row for row."""
    from llamadb_spark.queries.events import (
        e21_transition_matrix,
        e24_transition_stream,
    )
    from llamadb_spark.streaming.streams import (
        read_events_stream_unordered,
        run_to_memory,
    )
    from llamadb_spark.streaming.transitions import transitions_stream

    steps = run_to_memory(
        transitions_stream(
            read_events_stream_unordered(spark, sf_dir),
            watermark_delay="7000 days",
        ),
        "transitions_steps_test",
        output_mode="append",
    )
    got_steps = {}
    for r in steps.collect():
        k = (r.prev_type, r.next_type)
        got_steps[k] = got_steps.get(k, 0) + 1

    batch = {
        (r.prev_type, r.next_type): r.n
        for r in e21_transition_matrix(spark, sf_dir).collect()
    }
    assert got_steps == batch
    assert len(batch) > 0

    e24 = {
        (r.prev_type, r.next_type): (r.n, r.p_next)
        for r in e24_transition_stream(spark, sf_dir).collect()
    }
    e21 = {
        (r.prev_type, r.next_type): (r.n, r.p_next)
        for r in e21_transition_matrix(spark, sf_dir).collect()
    }
    assert e24 == e21


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Kill a checkpointed stream after its first micro-batch,
    restart it from the same checkpoint, and assert the final sink
    holds each input row exactly once — the exactly-once restart
    contract a production deployment relies on.

    The events file is split into 4 drop files (maxFilesPerTrigger=1
    → 4 micro-batches); run 1 is stopped after one batch commits,
    run 2 resumes from the checkpoint and drains the rest."""
    import time as _time

    from pyspark.sql import functions as F

    src_dir = str(tmp_path / "drops")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "ts")
    ev.repartition(4).write.parquet(src_dir)

    def start():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = start()
    deadline = _time.time() + 60
    while _time.time() < deadline:
        if any(
            b["numInputRows"] > 0 for b in [q.lastProgress] if b
        ) and q.lastProgress["batchId"] >= 0:
            break
        _time.sleep(0.2)
    q.stop()  # kill mid-stream: some batches committed, some not

    q2 = start()
    deadline = _time.time() + 120
    while _time.time() < deadline:
        p = q2.lastProgress
        if p and p["numInputRows"] == 0 and p["batchId"] > 0:
            break
        _time.sleep(0.3)
    q2.stop()

    got = spark.read.parquet(out)
    n_in = ev.count()
    assert got.count() == n_in  # no loss, no duplicates
    assert got.select("event_id").distinct().count() == n_in


def test_late_rows_accounted_by_watermark(spark, tmp_path):
    """Operability: rows arriving behind the watermark are DROPPED by
    the stateful dedup operator — run_with_progress must surface the
    drop count (the silent-data-loss trap made visible).

    Empirically verified Spark semantics this test encodes: the
    watermark a micro-batch FILTERS with lags its progress-reported
    value by one batch (batch N filters with the watermark committed
    after batch N-1's planning), so the first stale file right after
    the fresh one still slips through; the SECOND stale file is
    dropped and counted. Windowed aggregations also never count
    late rows in numRowsDroppedByWatermark (they enter state and are
    immediately evicted) — only dedup / session-window / join
    operators account them, which is why this test uses the
    dropDuplicatesWithinWatermark path."""
    import datetime as dt
    import time

    from pyspark.sql import Row

    from llamadb_spark.streaming.streams import run_with_progress

    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    base = dt.datetime(2024, 1, 10, 12, 0, 0)

    def write_file(name, rows):
        spark.createDataFrame(
            [Row(event_id=i, ts=t, user_id=1, event_type="view", value=1.0)
             for i, t in enumerate(rows)]
        ).coalesce(1).write.mode("overwrite").parquet(str(drop_dir / name))

    # batch 1: fresh events -> watermark advances to max(ts) - 2h
    write_file("f1", [base + dt.timedelta(minutes=m) for m in range(0, 180, 30)])
    time.sleep(1.2)  # file-source batches follow modification order
    # batch 2: stale, but filtered with the pre-advance watermark
    write_file("f2", [base - dt.timedelta(hours=10)])
    time.sleep(1.2)
    # batch 3: stale AND behind the now-applied watermark -> dropped
    write_file("f3", [base - dt.timedelta(hours=11),
                      base - dt.timedelta(hours=12)])

    schema = spark.read.parquet(str(drop_dir / "f1")).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir) + "/*")
    )
    dedup = raw.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )
    result, metrics = run_with_progress(dedup, "late_acct_test")

    assert metrics["input_rows"] == 9
    assert metrics["n_batches"] >= 3
    assert metrics["rows_dropped_late"] == 2
    # exactly the two batch-3 rows are missing from the sink
    assert result.count() == 7


def test_rocksdb_state_store_matches_batch(spark, sf_dir):
    """The RocksDB state-store provider (disk-backed, bounded memory
    — the 100 TB-state configuration) must produce the identical
    windowed aggregate, and the progress metrics must prove RocksDB
    actually served the query."""
    from llamadb_spark.operators.events import windowed_counts
    from llamadb_spark.queries.events import _events
    from llamadb_spark.streaming.streams import run_with_progress

    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = windowed_counts_stream(read_events_stream(spark, sf_dir))
        got, metrics = run_with_progress(
            stream, "rocksdb_test", output_mode="complete"
        )
        batch = windowed_counts(_events(spark, sf_dir))
        key_fn = lambda r: (r.window_start, r.event_type)  # noqa: E731
        got_rows = {key_fn(r): (r.n_events, r.total_value) for r in got.collect()}
        batch_rows = {key_fn(r): (r.n_events, r.total_value) for r in batch.collect()}
        assert got_rows == batch_rows
        assert any("rocksdb" in k.lower() for k in metrics["state_store_metric_keys"])
    finally:
        spark.conf.set(key, saved)


def test_chained_stateful_rollup_matches_batch(spark, sf_dir):
    """Two stateful aggregations chained in ONE streaming query
    (hourly window -> daily rollup, Spark's multiple-stateful-
    operator support): the append-mode result must equal the batch
    two-level aggregation exactly."""
    import pyspark.sql.functions as F

    from llamadb_spark.streaming.streams import daily_rollup_stream

    stream = daily_rollup_stream(read_events_stream(spark, sf_dir))
    got = run_to_memory(stream, "daily_rollup_test", output_mode="append")

    ev = _events(spark, sf_dir)
    batch = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_1h"))
        .groupBy(F.window(F.col("window"), "1 day"), "event_type")
        .agg(F.sum("n_1h").alias("n_events"))
        .select(F.col("window.start").alias("day_start"), "event_type", "n_events")
    )
    key = lambda r: (r.day_start, r.event_type)  # noqa: E731
    got_rows = {key(r): r.n_events for r in got.collect()}
    batch_rows = {key(r): r.n_events for r in batch.collect()}
    # append mode emits only watermark-closed days; every emitted day
    # must match the batch value, and only the final (still-open) day
    # per event type may be missing
    assert got_rows
    assert all(batch_rows[k] == v for k, v in got_rows.items())
    n_types = len({k[1] for k in batch_rows})
    assert len(got_rows) >= len(batch_rows) - n_types


def test_ivm_stream_matches_recompute(spark, tmp_path):
    """Streaming incremental view maintenance: draining a changelog
    file stream through the foreachBatch IVM sink must leave the
    versioned MV equal to a full recompute of the final snapshot;
    each micro-batch commits exactly one MV version stamped with its
    batch id, and a replayed batch is a no-op (the exactly-once
    ledger is the version directory itself)."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from llamadb_spark.sources.versioned import (
        read_version,
        version_changelog,
        versions,
        write_version,
    )
    from llamadb_spark.streaming.ivm import (
        apply_changelog_batch,
        committed_batches,
        ivm_group_agg_stream,
    )

    base = str(tmp_path / "ivm_base")
    schema = "id long, grp string, val double"
    write_version(spark.createDataFrame([], schema), base)  # v0: empty
    write_version(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0)], schema
        ),
        base,
    )  # v1
    write_version(
        spark.createDataFrame(
            # id=1 updates in place, id=2 moves a->b, id=3 deleted
            # (b loses one), id=4 inserts into new group c
            [(1, "a", 11.0), (2, "b", 20.0), (4, "c", 7.0)], schema
        ),
        base,
    )  # v2

    log01 = version_changelog(spark, base, 0, 1, key_cols=["id"])
    log12 = version_changelog(spark, base, 1, 2, key_cols=["id"])

    # stage the two changelogs as ordered file drops (one file = one
    # micro-batch; mtimes force batch order)
    drop = tmp_path / "ivm_drop"
    drop.mkdir()
    for i, log in enumerate((log01, log12)):
        staged = str(tmp_path / f"stage{i}")
        log.coalesce(1).write.parquet(staged)
        part = next(
            f for f in os.listdir(staged) if f.endswith(".parquet")
        )
        dst = str(drop / f"{i:02d}-changelog.parquet")
        shutil.copyfile(os.path.join(staged, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema(log01.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    mv_path = str(tmp_path / "ivm_mv")
    mv = ivm_group_agg_stream(stream, mv_path, "grp", "val")

    got = {r.grp: (r.n_rows, r.total) for r in mv.collect()}
    want = {
        r.grp: (r.n_rows, r.total)
        for r in read_version(spark, base, 2)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("val").alias("total"))
        .collect()
    }
    assert set(got) == set(want)
    for g in want:
        assert got[g][0] == want[g][0]
        assert abs(got[g][1] - want[g][1]) < 1e-6

    # one MV version per micro-batch, each stamped with its batch id
    assert versions(mv_path) == [0, 1]
    assert committed_batches(mv_path) == {0: 0, 1: 1}

    # replaying an already-committed batch must be a no-op
    apply_changelog_batch(spark, log01, 0, mv_path, "grp", "val")
    assert versions(mv_path) == [0, 1]
    after = {
        r.grp: (r.n_rows, r.total)
        for r in read_version(spark, mv_path).collect()
    }
    assert after == got


def _jobs_between_markers(spark, fn):
    """(fn(), Spark jobs fn ran), counted as the job-id gap between
    two one-job markers: micro-batches run on the stream's own thread
    and do not inherit the caller's job group."""
    import uuid

    sc = spark.sparkContext

    def marker():
        group = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            spark.range(1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        (job,) = sc.statusTracker().getJobIdsForGroup(group)
        return job

    before = marker()
    out = fn()
    return out, marker() - before - 1


#: Spark jobs of the two-batch ingest_dedup drain below: batch 0
#: meets an empty corpus and probes nothing, no read of a version
#: this process committed runs Spark's schema-inference job, and batch
#: 1's probe plans no hot-shingle guard (its staged corpus index holds
#: fewer docs than the cap)
INGEST_DEDUP_DRAIN_JOBS = 10


def test_ingest_dedup_stream_gates_cross_batch_duplicates(spark, tmp_path):
    """Streaming ingest dedup: batch 2's near-duplicate of a batch-1
    document must be matched against the ALREADY-ACCEPTED corpus and
    gated out; non-duplicates from both batches land in the corpus;
    batch ids are stamped per corpus version (exactly-once ledger)."""
    import os
    import shutil

    from llamadb_spark.sources.versioned import versions
    from llamadb_spark.streaming.ingest_dedup import ingest_dedup_stream
    from llamadb_spark.streaming.ivm import committed_batches

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs1 = [
        (1, base),
        (2, "one two three four five six seven eight nine ten"),
    ]
    docs2 = [
        (3, base + " extra"),             # near-dup of doc 1
        (4, "completely different words nothing shared here at all ok"),
    ]
    schema = "doc_id long, text string"
    drop = tmp_path / "doc_drop"
    drop.mkdir()
    for i, rows in enumerate((docs1, docs2)):
        staged = str(tmp_path / f"docs_stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staged)
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        dst = str(drop / f"{i:02d}-docs.parquet")
        shutil.copyfile(os.path.join(staged, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    (corpus, matches), jobs = _jobs_between_markers(
        spark,
        lambda: ingest_dedup_stream(
            stream,
            str(tmp_path / "corpus"),
            str(tmp_path / "matches"),
            threshold=0.5,
        ),
    )
    # the drain plus its final reads (under remembered schemas)
    assert jobs == INGEST_DEDUP_DRAIN_JOBS
    kept = sorted(r.doc_id for r in corpus.collect())
    assert kept == [1, 2, 4]  # doc 3 gated as a near-dup of doc 1
    m = {(r.doc_id, r.match_id) for r in matches.collect()}
    assert m == {(3, 1)}
    # one corpus version per micro-batch, stamped with its batch id
    assert versions(str(tmp_path / "corpus")) == [0, 1]
    assert committed_batches(str(tmp_path / "corpus")) == {0: 0, 1: 1}


def test_ivm_first_base_is_an_empty_local_relation(
    spark, tmp_path, monkeypatch
):
    """The first MV version is built over an empty LocalRelation, not
    a Python-RDD scan (``createDataFrame([])``), which schedules one
    empty task per default partition on every read."""
    from llamadb_spark.sources import versioned
    from llamadb_spark.streaming import ivm

    log_path = str(tmp_path / "log")
    spark.createDataFrame(
        [(1, "insert", None, ("a", 1.0))], _CHANGELOG_SCHEMA
    ).write.parquet(log_path)
    committed = []
    real_commit = versioned.write_version

    def capture(df, path, batch_id=None):
        committed.append(df)
        return real_commit(df, path, batch_id)

    monkeypatch.setattr(versioned, "write_version", capture)
    ivm.apply_changelog_batch(
        spark, spark.read.parquet(log_path), 0, str(tmp_path / "mv"),
        "grp", "val",
    )
    (mv,) = committed
    plans = mv._jdf.queryExecution().toString()
    assert "LogicalRDD" not in plans and "ExistingRDD" not in plans
    assert [(r.grp, r.n_rows, r.total) for r in mv.collect()] == [
        ("a", 1, 1.0)
    ]


def test_ivm_stream_checkpoint_resume_and_ledger_replay(spark, tmp_path):
    """IVM durability: (1) a checkpointed drain applies only NEW
    changelog files on re-invocation (restart-resume), and (2) losing
    the checkpoint entirely — the at-least-once disaster case where
    Spark replays the whole source — changes nothing, because every
    replayed batch finds its id in the version ledger and skips."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from llamadb_spark.sources.versioned import (
        read_version,
        version_changelog,
        versions,
        write_version,
    )
    from llamadb_spark.streaming.ivm import ivm_group_agg_stream

    base = str(tmp_path / "ivmck_base")
    schema = "id long, grp string, val double"
    write_version(spark.createDataFrame([], schema), base)
    write_version(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 5.0)], schema
        ),
        base,
    )
    write_version(
        spark.createDataFrame(
            [(1, "a", 11.0), (2, "b", 5.0), (3, "c", 2.0)], schema
        ),
        base,
    )
    log01 = version_changelog(spark, base, 0, 1, key_cols=["id"])
    log12 = version_changelog(spark, base, 1, 2, key_cols=["id"])

    drop = tmp_path / "ivmck_drop"
    drop.mkdir()

    def stage(i, log):
        staged = str(tmp_path / f"ivmck_stage{i}")
        log.coalesce(1).write.parquet(staged)
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        dst = str(drop / f"{i:02d}-log.parquet")
        shutil.copyfile(os.path.join(staged, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    def run():
        return ivm_group_agg_stream(
            spark.readStream.schema(log01.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop)),
            mv_path,
            "grp",
            "val",
            checkpoint_dir=str(tmp_path / "ivmck_ckpt"),
        )

    mv_path = str(tmp_path / "ivmck_mv")
    stage(0, log01)
    run()
    assert versions(mv_path) == [0]

    # restart with the same checkpoint: only the NEW file is applied
    stage(1, log12)
    mv = run()
    assert versions(mv_path) == [0, 1]
    want = {
        r.grp: (r.n_rows, r.total)
        for r in read_version(spark, base, 2)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("val").alias("total"))
        .collect()
    }
    got = {r.grp: (r.n_rows, r.total) for r in mv.collect()}
    assert got == want

    # checkpoint loss: full source replay, every batch id already in
    # the ledger -> nothing re-applies, MV identical
    shutil.rmtree(str(tmp_path / "ivmck_ckpt"))
    mv2 = ivm_group_agg_stream(
        spark.readStream.schema(log01.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop)),
        mv_path,
        "grp",
        "val",
        checkpoint_dir=str(tmp_path / "ivmck_ckpt2"),
    )
    assert versions(mv_path) == [0, 1]
    assert {r.grp: (r.n_rows, r.total) for r in mv2.collect()} == want


def test_ivm_ledger_survives_vacuum(spark, tmp_path):
    """Retention must not forget exactly-once history: vacuum deletes
    old MV snapshot directories (and with them their in-directory
    _ivm_batch markers), but first copies the markers into the
    append-only _batches ledger at the table root. A checkpoint-loss
    full replay after vacuum therefore still skips every committed
    batch instead of double-applying vacuumed ones."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from llamadb_spark.sources.versioned import (
        read_version,
        vacuum,
        version_changelog,
        versions,
        write_version,
    )
    from llamadb_spark.streaming.ivm import (
        committed_batches,
        ivm_group_agg_stream,
    )

    base = str(tmp_path / "ivmvac_base")
    schema = "id long, grp string, val double"
    write_version(spark.createDataFrame([], schema), base)
    write_version(
        spark.createDataFrame([(1, "a", 10.0), (2, "b", 5.0)], schema), base
    )
    write_version(
        spark.createDataFrame(
            [(1, "a", 11.0), (2, "b", 5.0), (3, "c", 2.0)], schema
        ),
        base,
    )
    log01 = version_changelog(spark, base, 0, 1, key_cols=["id"])
    log12 = version_changelog(spark, base, 1, 2, key_cols=["id"])

    drop = tmp_path / "ivmvac_drop"
    drop.mkdir()
    for i, log in enumerate((log01, log12)):
        staged = str(tmp_path / f"ivmvac_stage{i}")
        log.coalesce(1).write.parquet(staged)
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        dst = str(drop / f"{i:02d}-log.parquet")
        shutil.copyfile(os.path.join(staged, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    def replay(ckpt):
        return ivm_group_agg_stream(
            spark.readStream.schema(log01.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop)),
            mv_path,
            "grp",
            "val",
            checkpoint_dir=str(tmp_path / ckpt),
        )

    mv_path = str(tmp_path / "ivmvac_mv")
    replay("ck1")
    assert committed_batches(mv_path) == {0: 0, 1: 1}

    # production retention cadence: keep only the newest snapshot —
    # v=0 (and its in-directory marker) is deleted, ledger keeps it
    assert vacuum(mv_path, keep_last=1) == [0]
    assert versions(mv_path) == [1]
    assert committed_batches(mv_path) == {0: 0, 1: 1}

    # checkpoint loss -> full source replay; batch 0 must skip via
    # the ledger (before the fix it re-applied, double-counting)
    mv = replay("ck2")
    assert versions(mv_path) == [1]
    want = {
        r.grp: (r.n_rows, r.total)
        for r in read_version(spark, base, 2)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("val").alias("total"))
        .collect()
    }
    assert {r.grp: (r.n_rows, r.total) for r in mv.collect()} == want


def _stage_drop(spark, tmp_path, tag, schema, batches):
    """Stage each batch as one parquet file, oldest first by mtime, and
    return a factory of the file stream that reads them one file per
    micro-batch (the pinned batch boundaries a replay relies on)."""
    import os
    import shutil

    drop = tmp_path / f"{tag}_drop"
    drop.mkdir()
    for i, rows in enumerate(batches):
        staged = str(tmp_path / f"{tag}_stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staged)
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        dst = str(drop / f"{i:02d}-batch.parquet")
        shutil.copyfile(os.path.join(staged, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop))
        )

    return stream


def _emb(seed, flip=0.0):
    """Deterministic 16-d vector; ``flip`` adds a small perturbation
    that keeps the cosine to the unflipped vector near 1."""
    import math

    v = [math.sin(seed * 37 + i) for i in range(16)]
    if flip:
        v = [x + flip * math.cos(seed + j) for j, x in enumerate(v)]
    return v


_DOC = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_SPAN1 = "alpha bravo charlie delta echo foxtrot golf hotel india"
_SPAN4 = "one two three UNIQUE tail content here totally new"
_CHROME = "CHROME LINE"
_DOCS_SCHEMA = "doc_id long, text string"
_CHANGELOG_SCHEMA = (
    "id long, change string, _old struct<grp:string,val:double>, "
    "_new struct<grp:string,val:double>"
)


def _ids_and_matches(id_col):
    def check(result):
        corpus, matches = result
        assert sorted(r[id_col] for r in corpus.collect()) == [1, 2, 4]
        assert {(r[id_col], r.match_id) for r in matches.collect()} == {
            (3, 1)
        }

    return check


def _check_lines(result):
    corpus, index = result
    assert {r.doc_id: r.clean_text for r in corpus.collect()} == {
        1: _CHROME + "\nbody-a",
        2: "body-b",
    }
    assert index.count() == 3  # chrome, body-a, body-b


def _check_mv(mv):
    assert {r.grp: (r.n_rows, r.total) for r in mv.collect()} == {
        "a": (1, 11.0),
        "c": (1, 2.0),
    }


def _gated_case(kind):
    """One gated stream: (schema, three batches, drain(stream, root),
    its table paths under ``root`` in the gate's commit order, and the
    check of a drain of the first two batches)."""
    from llamadb_spark.streaming.ingest_dedup import ingest_dedup_stream
    from llamadb_spark.streaming.ingest_embed_dedup import (
        ingest_embed_dedup_stream,
    )
    from llamadb_spark.streaming.ingest_line_dedup import (
        ingest_line_dedup_stream,
    )
    from llamadb_spark.streaming.ingest_span_dedup import (
        ingest_span_dedup_stream,
    )
    from llamadb_spark.streaming.ivm import ivm_group_agg_stream

    def at(root, *names):
        return [str(root / n) for n in names]

    return {
        "ingest_dedup": (
            _DOCS_SCHEMA,
            [
                [(1, _DOC), (2, "one two three four five six seven eight")],
                [(3, _DOC + " extra"), (4, "unrelated fresh tokens only here")],
                [(5, "a third drop of entirely new words")],
            ],
            lambda s, root: ingest_dedup_stream(
                s, *at(root, "corpus", "matches"), threshold=0.5
            ),
            lambda root: at(root, "matches", "corpus"),
            _ids_and_matches("doc_id"),
        ),
        "ingest_line_dedup": (
            _DOCS_SCHEMA,
            [
                [(1, _CHROME + "\nbody-a")],
                [(2, _CHROME + "\nbody-b")],
                [(3, "body-c")],
            ],
            lambda s, root: ingest_line_dedup_stream(
                s, *at(root, "corpus", "index")
            ),
            lambda root: at(root, "corpus", "index"),
            _check_lines,
        ),
        "ingest_span_dedup": (
            _DOCS_SCHEMA,
            [
                [(1, _SPAN1), (2, "one two three four five six seven")],
                # 3: excerpt of doc 1; 4 shares only a short run
                [(3, "X-" + _SPAN1[5:50] + "-Y"), (4, _SPAN4)],
                [(5, "Z~" + _SPAN4[4:46] + "~Q")],
            ],
            lambda s, root: ingest_span_dedup_stream(
                s, *at(root, "corpus", "matches"), min_len=30
            ),
            lambda root: at(root, "matches", "corpus"),
            _ids_and_matches("doc_id"),
        ),
        "ingest_embed_dedup": (
            "vec_id long, embedding array<double>, label string",
            [
                [(1, _emb(1), "a"), (2, _emb(2), "a")],
                [(3, _emb(1, flip=0.01), "b"), (4, _emb(9), "b")],
                [(5, _emb(5), "c")],
            ],
            lambda s, root: ingest_embed_dedup_stream(
                s, *at(root, "corpus", "matches"), threshold=0.95
            ),
            lambda root: at(root, "matches", "corpus"),
            _ids_and_matches("vec_id"),
        ),
        "ivm": (
            _CHANGELOG_SCHEMA,
            [
                [
                    (1, "insert", None, ("a", 10.0)),
                    (2, "insert", None, ("b", 5.0)),
                ],
                [
                    (1, "update", ("a", 10.0), ("a", 11.0)),
                    (2, "delete", ("b", 5.0), None),
                    (3, "insert", None, ("c", 2.0)),
                ],
                [(3, "update", ("c", 2.0), ("a", 1.0))],
            ],
            lambda s, root: ivm_group_agg_stream(
                s, *at(root, "mv"), "grp", "val"
            ),
            lambda root: at(root, "mv"),
            _check_mv,
        ),
    }[kind]


_INGEST_KINDS = [
    "ingest_dedup",
    "ingest_line_dedup",
    "ingest_span_dedup",
    "ingest_embed_dedup",
]


@pytest.mark.parametrize("kind", _INGEST_KINDS + ["ivm"])
def test_gate_crash_after_first_commit_replays_exactly_once(
    spark, tmp_path, monkeypatch, kind
):
    """A real crash inside the exactly-once gate: batch 1 raises right
    after its FIRST table commit, so the first table holds the batch
    and every later table does not. A full replay with no checkpoint
    must skip batch 0, recompute batch 1 against the pre-batch bases,
    commit only the missing tables, and leave every table equal to an
    uncrashed run's with exactly one version per batch."""
    from llamadb_spark.sources import versioned
    from llamadb_spark.sources.versioned import read_version, versions
    from llamadb_spark.streaming import ivm

    schema, batches, drain, tables_at, check = _gated_case(kind)
    stream = _stage_drop(spark, tmp_path, "crash", schema, batches[:2])

    def snapshot(tables):
        return [
            {
                v: sorted(map(str, read_version(spark, t, v).collect()))
                for v in versions(t)
            }
            for t in tables
        ]

    clean = tables_at(tmp_path / "clean")
    check(drain(stream(), tmp_path / "clean"))
    want = snapshot(clean)

    real_commit = versioned.write_version

    def crash_after_commit(df, path, batch_id=None):
        v = real_commit(df, path, batch_id)
        if batch_id == 1:
            raise RuntimeError("injected crash after a commit")
        return v

    tables = tables_at(tmp_path / "crashed")
    monkeypatch.setattr(versioned, "write_version", crash_after_commit)
    with pytest.raises(Exception, match="injected crash"):
        drain(stream(), tmp_path / "crashed")
    monkeypatch.undo()
    first, *rest = tables
    assert ivm.committed_batches(first) == {0: 0, 1: 1}
    for t in rest:
        assert ivm.committed_batches(t) == {0: 0}

    check(drain(stream(), tmp_path / "crashed"))
    for t in tables:
        assert versions(t) == [0, 1]
        assert ivm.committed_batches(t) == {0: 0, 1: 1}
    assert snapshot(tables) == want


@pytest.mark.parametrize(
    "kind", ["ingest_dedup", "ingest_span_dedup", "ingest_embed_dedup"]
)
def test_first_batch_logs_the_probe_schema_without_a_probe(
    spark, tmp_path, kind
):
    """Batch 0 meets an empty corpus and probes nothing: its matches
    version is an empty frame of the probe's declared schema. That
    schema must be the one batch 1's real probe writes, so the log of
    both versions reads under one remembered schema, with no Spark
    job."""
    from llamadb_spark.sources.versioned import read_version
    from llamadb_spark.streaming.ivm import read_log

    schema, batches, drain, tables_at, _ = _gated_case(kind)
    stream = _stage_drop(spark, tmp_path, "first", schema, batches[:2])
    drain(stream(), tmp_path)
    matches, _corpus = tables_at(tmp_path)
    v0, v1 = (read_version(spark, matches, v) for v in (0, 1))
    assert v0.count() == 0 and v1.count() > 0
    assert v0.schema == v1.schema
    log, jobs = _jobs_between_markers(spark, lambda: read_log(spark, matches))
    assert jobs == 0
    assert log.schema == v1.schema
    assert log.count() == v1.count()


@pytest.mark.parametrize("kind", _INGEST_KINDS)
def test_ingest_vacuumed_base_replay_fails_clearly(spark, tmp_path, kind):
    """A half-committed replay that needs a version of the probed
    table older than the vacuum horizon must fail with the remedy,
    not crash inside the parquet reader."""
    import os
    import shutil

    from llamadb_spark.sources.versioned import vacuum
    from llamadb_spark.streaming.ivm import committed_batches

    schema, batches, drain, tables_at, _ = _gated_case(kind)
    stream = _stage_drop(spark, tmp_path, "vb", schema, batches)
    first, probed = tables_at(tmp_path)
    drain(stream(), tmp_path)
    assert committed_batches(probed) == {0: 0, 1: 1, 2: 2}

    # batch 2's probed-table commit SURVIVED but the first table's
    # commit was lost, and the probed table's pre-batch snapshot v=1
    # has since been vacuumed (its batch marker kept in the root
    # _batches ledger). Recomputing batch 2 needs v=1.
    shutil.rmtree(os.path.join(first, "v=2"))
    with open(os.path.join(first, "_latest"), "w") as fh:
        fh.write("1")
    assert vacuum(probed, keep_last=1) == [0, 1]
    with pytest.raises(Exception, match="which has been vacuumed"):
        drain(stream(), tmp_path)


def test_gated_drain_fails_loudly(spark, tmp_path):
    """A drain that outlives ``timeout_s`` raises instead of handing
    back partly ingested tables, and reading a log with no committed
    batch raises (not an ``assert``, which ``python -O`` strips)."""
    import time

    from llamadb_spark.streaming.ivm import gated_drain, read_log

    stream = _stage_drop(spark, tmp_path, "slow", _DOCS_SCHEMA, [[(1, "x")]])

    def slow_step(batch_df, base):
        time.sleep(4)
        return [batch_df]

    with pytest.raises(TimeoutError):
        gated_drain(
            stream(), [str(tmp_path / "t")], slow_step,
            name="gate_timeout", timeout_s=1,
        )
    assert not [q for q in spark.streams.active if q.name == "gate_timeout"]
    with pytest.raises(RuntimeError, match="no committed batches"):
        read_log(spark, str(tmp_path / "never_written"))


def _slow_events_stream(spark, tmp_path, tag):
    """A one-batch events stream whose ``value`` passes through a
    pandas UDF that sleeps 5 s: no drain finishes within 1 s."""
    import pyspark.sql.functions as F

    stream = _stage_drop(
        spark, tmp_path, tag, "event_type string, user_id long, value double",
        [[("view", 1, 1.0), ("buy", 2, 2.0)]],
    )

    @F.pandas_udf("double")
    def slow(v):
        import time

        time.sleep(5)
        return v

    return stream().withColumn("value", slow("value"))


def test_topk_foreachbatch_drain_fails_loudly(spark, tmp_path):
    """A foreachBatch top-k drain that outlives ``timeout_s`` raises
    instead of handing back the partial leaderboard."""
    from llamadb_spark.streaming.streams import topk_users_stream_foreachbatch

    before = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError):
        topk_users_stream_foreachbatch(
            _slow_events_stream(spark, tmp_path, "slow_topk"),
            name="topk_timeout", k=2, timeout_s=1,
        )
    assert {q.id for q in spark.streams.active} <= before


def test_run_to_memory_drain_fails_loudly(spark, tmp_path):
    """A memory-sink drain that has not terminated by ``timeout_s``
    raises instead of returning the rows committed so far."""
    before = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError):
        run_to_memory(
            _slow_events_stream(spark, tmp_path, "slow_mem"),
            "mem_timeout", output_mode="append", timeout_s=1,
        )
    assert {q.id for q in spark.streams.active} <= before


def _stage_shuffled_events(
    spark, tmp_path, n_files=3, tag="ooo", cols=None
):
    """Stage the sf0.001 events table as n interleaved files (file i
    holds event_id % n == i — every file spans the WHOLE timeline, so
    consecutive micro-batches are massively out of event-time order)
    plus far-future watermark sentinel files (user_id = -1)."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from llamadb_spark.queries.events import _events

    ev = _events(spark, "/root/testdata/sf0.001").select(
        *(cols or ["user_id", "event_id", "event_type", "ts"])
    )
    drop = tmp_path / f"{tag}_drop"
    drop.mkdir()
    for i in range(n_files):
        staged = str(tmp_path / f"{tag}_stage{i}")
        ev.filter(F.col("event_id") % n_files == i).coalesce(1).write.parquet(
            staged
        )
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        dst = str(drop / f"{i:02d}-events.parquet")
        shutil.copyfile(os.path.join(staged, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    # sentinels: two far-future events (user_id = -1). The first
    # advances the global watermark past every real timestamp; the
    # second is a data batch processed AFTER that advancement, which
    # is when the expired flush timers actually fire (availableNow
    # does not run a trailing no-data batch for timers).
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime as dt

    for j in range(2):
        svals = {
            "user_id": -1, "event_id": -1, "event_type": "x",
            "value": 0.0, "ts": max_ts + dt.timedelta(days=8000 + j),
        }
        sentinel = spark.createDataFrame(
            [tuple(svals[f.name] for f in ev.schema.fields)],
            schema=ev.schema,
        )
        staged = str(tmp_path / f"{tag}_sentinel{j}")
        sentinel.coalesce(1).write.parquet(staged)
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        dst = str(drop / f"{n_files + j:02d}-sentinel.parquet")
        shutil.copyfile(os.path.join(staged, part), dst)
        os.utime(dst, (1_000_000 + n_files + j,) * 2)
    return ev, str(drop), ev.schema


def test_transitions_stream_out_of_order_batches(spark, tmp_path):
    """VERDICT r05 robustness gap: deliver the events table as 3
    SHUFFLED micro-batches (every batch spans the full timeline) and
    the watermark-buffered transitions operator must still reproduce
    the batch lag exactly — no ordered-arrival assumption."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from llamadb_spark.streaming.streams import run_to_memory
    from llamadb_spark.streaming.transitions import transitions_stream

    ev, drop, schema = _stage_shuffled_events(spark, tmp_path, tag="tr")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    steps = transitions_stream(stream, watermark_delay="7000 days")
    got = {
        (r.user_id, r.prev_type, r.next_type, r.ts)
        for r in run_to_memory(
            steps, "tr_ooo", output_mode="append"
        ).collect()
    }

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r.user_id, r.prev_type, r.next_type, r.ts)
        for r in ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
            "ts",
        )
        .filter(F.col("prev_type").isNotNull())
        .collect()
    }
    assert got == want


def test_sessionize_stream_out_of_order_batches(spark, tmp_path):
    """Watermark-buffered sessionization over 3 shuffled micro-
    batches must reproduce the batch sessionizer EXACTLY — including
    each user's final session, which closes by event-time once the
    sentinel-advanced watermark passes its gap horizon (not by
    wall-clock idleness)."""
    from llamadb_spark.operators.events import sessionize
    from llamadb_spark.queries.events import _events
    from llamadb_spark.streaming.sessions import sessionize_stream
    from llamadb_spark.streaming.streams import run_to_memory

    ev, drop, schema = _stage_shuffled_events(
        spark, tmp_path, tag="se", cols=["user_id", "event_id", "value", "ts"]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    out = sessionize_stream(
        stream, gap_minutes=30, watermark_delay="7000 days"
    )
    got = {
        (r.user_id, r.session_seq): (
            r.session_start, r.session_end, r.n_events,
            round(r.total_value, 6),
        )
        for r in run_to_memory(out, "se_ooo", output_mode="append").collect()
    }
    batch = {
        (r.user_id, r.session_seq): (
            r.session_start, r.session_end, r.n_events,
            round(r.total_value, 6),
        )
        for r in sessionize(
            _events(spark, "/root/testdata/sf0.001"), gap_minutes=30
        ).collect()
    }
    assert got == batch
    assert len(got) > 0


def test_cep_stream_out_of_order_batches(spark, tmp_path):
    """Watermark-buffered CEP (A → ¬N → B within T) over 3 shuffled
    micro-batches must emit exactly the batch operator's matches."""
    from llamadb_spark.operators.events import cep_sequence_matches
    from llamadb_spark.queries.events import _events
    from llamadb_spark.streaming.cep import cep_matches_stream
    from llamadb_spark.streaming.streams import run_to_memory

    ev, drop, schema = _stage_shuffled_events(spark, tmp_path, tag="ce")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    out = cep_matches_stream(stream, watermark_delay="7000 days")
    got = {
        (r.user_id, r.match_id, r.trigger_ts, r.target_ts, r.gap_us)
        for r in run_to_memory(out, "ce_ooo", output_mode="append").collect()
    }
    batch = {
        (r.user_id, r.match_id, r.trigger_ts, r.target_ts, r.gap_us)
        for r in cep_sequence_matches(
            _events(spark, "/root/testdata/sf0.001")
        ).collect()
    }
    assert got == batch
    assert len(got) > 0


def test_ingest_embed_dedup_stream_gates_and_persists_signatures(
    spark, tmp_path
):
    """Streaming embedding ingest dedup (#266): batch 2's near-dup of
    a batch-1 vector is matched against the ALREADY-ACCEPTED corpus
    via the PERSISTED bucket signatures (the corpus is never
    re-hashed at probe time) and gated out; per-table exactly-once
    ledger stamped like ingest_dedup."""
    import json
    import math
    import os
    import shutil

    from llamadb_spark.operators.similarity import LSH_PLANE_SEED
    from llamadb_spark.sources.versioned import versions
    from llamadb_spark.streaming.ingest_embed_dedup import (
        ingest_embed_dedup_stream,
    )
    from llamadb_spark.streaming.ivm import committed_batches

    d = 16

    def vec(seed, flip=0.0):
        # deterministic unit-ish vectors; flip adds a small
        # perturbation that keeps cosine near 1
        base = [math.sin(seed * 37 + i) for i in range(d)]
        if flip:
            base = [
                x + flip * math.cos(seed + j) for j, x in enumerate(base)
            ]
        return base

    b1 = [(1, vec(1), "a"), (2, vec(2), "a")]
    b2 = [(3, vec(1, flip=0.01), "b"), (4, vec(9), "b")]  # 3 ~ dup of 1
    schema = "vec_id long, embedding array<double>, label string"
    drop = tmp_path / "emb_drop"
    drop.mkdir()
    for i, rows in enumerate((b1, b2)):
        staged = str(tmp_path / f"emb_stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staged)
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        dst = str(drop / f"{i:02d}-emb.parquet")
        shutil.copyfile(os.path.join(staged, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    corpus_path = str(tmp_path / "emb_corpus")
    matches_path = str(tmp_path / "emb_matches")
    corpus, matches = ingest_embed_dedup_stream(
        stream, corpus_path, matches_path, threshold=0.95
    )
    assert sorted(r.vec_id for r in corpus.collect()) == [1, 2, 4]
    m = {(r.vec_id, r.match_id) for r in matches.collect()}
    assert m == {(3, 1)}
    assert all(r.cos >= 0.95 for r in matches.collect())
    # signatures persisted with the corpus (probe never re-hashes),
    # stamped with the LSH parameters and plane-seed family
    assert "buckets" in corpus.columns
    with open(os.path.join(corpus_path, "_lsh_params")) as fh:
        assert json.load(fh) == {
            "num_planes": 6,
            "num_tables": 40,
            "plane_seed": LSH_PLANE_SEED,
        }
    assert versions(corpus_path) == [0, 1]
    assert committed_batches(corpus_path) == {0: 0, 1: 1}
    assert committed_batches(matches_path) == {0: 0, 1: 1}


def _stage_late_events(spark, tmp_path, tag, cols=None, n_late=40):
    """Bounded-delay fixture (VERDICT r06 #1 — the DROP half of the
    out-of-order contract): file 0 carries the whole sf0.001 events
    table EXCEPT the n_late earliest rows; file 1 delivers those
    earliest rows afterwards, so their disorder (~29 days) vastly
    exceeds a bounded watermark delay of 2 hours and Spark's standard
    watermark filter must drop every one of them; files 2-3 are the
    usual far-future flush sentinels. Returns (kept events frame,
    late row count, drop dir, schema).

    Drop determinism: the watermark when file 1 arrives is
    max(ts of file 0) - delay (one-batch watermark lag, file order
    pinned by maxFilesPerTrigger=1 + lexicographic names); the late
    rows sit ~29 days earlier, nowhere near the boundary."""
    import datetime as dt
    import os
    import shutil

    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from llamadb_spark.queries.events import _events

    ev = _events(spark, "/root/testdata/sf0.001").select(
        *(cols or ["user_id", "event_id", "event_type", "ts"])
    )
    # the n_late globally-earliest rows (deterministic ts,event_id
    # order); row-bounded Window exemption: 1000 rows at sf0.001
    ranked = ev.withColumn(
        "_rk",
        F.row_number().over(Window.orderBy("ts", "event_id")),
    )
    late = ranked.filter(F.col("_rk") <= n_late).drop("_rk")
    kept = ranked.filter(F.col("_rk") > n_late).drop("_rk")

    drop = tmp_path / f"{tag}_drop"
    drop.mkdir()

    def _stage(df, idx, name):
        staged = str(tmp_path / f"{tag}_stage_{name}")
        df.coalesce(1).write.parquet(staged)
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        dst = str(drop / f"{idx:02d}-{name}.parquet")
        shutil.copyfile(os.path.join(staged, part), dst)
        os.utime(dst, (1_000_000 + idx,) * 2)

    _stage(kept, 0, "bulk")
    _stage(late, 1, "late")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    for j in range(2):
        svals = {
            "user_id": -1, "event_id": -1, "event_type": "x",
            "value": 0.0, "ts": max_ts + dt.timedelta(days=8000 + j),
        }
        sentinel = spark.createDataFrame(
            [tuple(svals[f.name] for f in ev.schema.fields)],
            schema=ev.schema,
        )
        _stage(sentinel, 2 + j, f"sentinel{j}")
    return kept.localCheckpoint(), n_late, str(drop), ev.schema


def test_transitions_stream_drops_beyond_bounded_delay(spark, tmp_path):
    """With watermark_delay='2 hours', rows arriving ~29 days behind
    the watermark must be DROPPED (counted by
    numRowsDroppedByWatermark), and the emitted transitions must
    equal the batch operator over the surviving subset exactly."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from llamadb_spark.streaming.streams import run_with_progress
    from llamadb_spark.streaming.transitions import transitions_stream

    kept, n_late, drop, schema = _stage_late_events(
        spark, tmp_path, tag="trl"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    late_acc = spark.sparkContext.accumulator(0)
    steps = transitions_stream(
        stream, watermark_delay="2 hours", late_counter=late_acc
    )
    out, metrics = run_with_progress(steps, "trl_late", output_mode="append")
    got = {
        (r.user_id, r.prev_type, r.next_type, r.ts) for r in out.collect()
    }

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r.user_id, r.prev_type, r.next_type, r.ts)
        for r in kept.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
            "ts",
        )
        .filter(F.col("prev_type").isNotNull())
        .collect()
    }
    assert got == want
    # round-8 corrected contract: the JVM late filter runs with the
    # PREVIOUS batch's watermark (SPARK-24634 two-watermark
    # semantics); these late rows arrive in the first batch after the
    # bulk, when the lagged filter is still at 0, so the JVM metric
    # stays 0 and the operator drops in-function via the accumulator
    assert metrics["rows_dropped_late"] == 0
    assert late_acc.value == n_late


def test_sessionize_stream_drops_beyond_bounded_delay(spark, tmp_path):
    """Bounded-delay sessionization: late rows dropped, sessions ==
    batch sessionizer over the surviving subset (numbering included)."""
    from llamadb_spark.operators.events import sessionize
    from llamadb_spark.streaming.sessions import sessionize_stream
    from llamadb_spark.streaming.streams import run_with_progress

    kept, n_late, drop, schema = _stage_late_events(
        spark, tmp_path, tag="sel",
        cols=["user_id", "event_id", "value", "ts"],
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    late_acc = spark.sparkContext.accumulator(0)
    out_df = sessionize_stream(
        stream, gap_minutes=30, watermark_delay="2 hours",
        late_counter=late_acc,
    )
    out, metrics = run_with_progress(out_df, "sel_late", output_mode="append")
    got = {
        (r.user_id, r.session_seq): (
            r.session_start, r.session_end, r.n_events,
            round(r.total_value, 6),
        )
        for r in out.collect()
    }
    batch = {
        (r.user_id, r.session_seq): (
            r.session_start, r.session_end, r.n_events,
            round(r.total_value, 6),
        )
        for r in sessionize(kept, gap_minutes=30).collect()
    }
    assert got == batch
    assert len(got) > 0
    # round-8 corrected contract: the JVM late filter runs with the
    # PREVIOUS batch's watermark (SPARK-24634 two-watermark
    # semantics); these late rows arrive in the first batch after the
    # bulk, when the lagged filter is still at 0, so the JVM metric
    # stays 0 and the operator drops in-function via the accumulator
    assert metrics["rows_dropped_late"] == 0
    assert late_acc.value == n_late


def test_cep_stream_drops_beyond_bounded_delay(spark, tmp_path):
    """Bounded-delay CEP: late rows dropped, matches == batch
    operator over the surviving subset."""
    from llamadb_spark.operators.events import cep_sequence_matches
    from llamadb_spark.streaming.cep import cep_matches_stream
    from llamadb_spark.streaming.streams import run_with_progress

    kept, n_late, drop, schema = _stage_late_events(
        spark, tmp_path, tag="cel"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    late_acc = spark.sparkContext.accumulator(0)
    out_df = cep_matches_stream(
        stream, watermark_delay="2 hours", late_counter=late_acc
    )
    out, metrics = run_with_progress(out_df, "cel_late", output_mode="append")
    got = {
        (r.user_id, r.match_id, r.trigger_ts, r.target_ts, r.gap_us)
        for r in out.collect()
    }
    batch = {
        (r.user_id, r.match_id, r.trigger_ts, r.target_ts, r.gap_us)
        for r in cep_sequence_matches(kept).collect()
    }
    assert got == batch
    assert len(got) > 0
    # round-8 corrected contract: the JVM late filter runs with the
    # PREVIOUS batch's watermark (SPARK-24634 two-watermark
    # semantics); these late rows arrive in the first batch after the
    # bulk, when the lagged filter is still at 0, so the JVM metric
    # stays 0 and the operator drops in-function via the accumulator
    assert metrics["rows_dropped_late"] == 0
    assert late_acc.value == n_late


def test_ingest_embed_dedup_lsh_param_stamp_guard(spark, tmp_path):
    """ADVICE r06 (boundary refined per ADVICE r07): persisted bucket
    signatures are only valid under the parameters that wrote them —
    once a corpus version is committed, a run with different
    (num_planes, num_tables) must fail loudly at start, not silently
    probe incomparable signatures."""
    import json
    import os

    import pytest

    from llamadb_spark.operators.similarity import LSH_PLANE_SEED
    from llamadb_spark.sources.versioned import write_version
    from llamadb_spark.streaming.ivm import stamp_params

    def lsh(num_planes, num_tables):
        return {
            "num_planes": num_planes,
            "num_tables": num_tables,
            "plane_seed": LSH_PLANE_SEED,
        }

    corpus_path = str(tmp_path / "stamp_corpus")
    stamp_params(corpus_path, "lsh", lsh(6, 40))
    with open(os.path.join(corpus_path, "_lsh_params")) as fh:
        assert json.load(fh) == {
            "num_planes": 6,
            "num_tables": 40,
            "plane_seed": LSH_PLANE_SEED,
        }
    # same params: fine (idempotent)
    stamp_params(corpus_path, "lsh", lsh(6, 40))
    write_version(spark.range(1), corpus_path)
    # different params on a committed corpus: refused with the remedy
    with pytest.raises(ValueError, match="LSH params"):
        stamp_params(corpus_path, "lsh", lsh(8, 40))


def test_ingest_span_dedup_gates_on_duplicated_mass(spark, tmp_path):
    """Streaming span-ingest dedup (#271): batch 2's doc that is
    mostly an excerpt of an ACCEPTED batch-1 doc is gated (duplicated
    mass over the per-mille gate); a doc sharing only a sub-L run is
    accepted; batch 3 dedups against batch 2's accepted docs via the
    PERSISTED gram postings; exactly-once ledgers stamped."""
    import json
    import os
    import shutil

    from llamadb_spark.sources.versioned import versions
    from llamadb_spark.streaming.ingest_span_dedup import (
        ingest_span_dedup_stream,
    )
    from llamadb_spark.streaming.ivm import committed_batches

    base1 = "alpha bravo charlie delta echo foxtrot golf hotel india"
    base2 = "one two three four five six seven eight nine ten eleven"
    b1 = [(1, base1), (2, base2)]
    # 3: guarded excerpt of doc 1 (most of its text duplicated)
    # 4: shares only a short (<L) fragment with doc 2 -> accepted
    b2 = [
        (3, "X-" + base1[5:50] + "-Y"),
        (4, "one two three UNIQUE tail content here totally new"),
    ]
    # 5: excerpt of doc 4 (accepted in batch 2) -> gated via the
    # postings persisted WITH batch 2's corpus version
    b3 = [(5, "Z~" + b2[1][1][4:46] + "~Q")]
    schema = "doc_id long, text string"
    drop = tmp_path / "span_drop"
    drop.mkdir()
    for i, rows in enumerate((b1, b2, b3)):
        staged = str(tmp_path / f"span_stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staged)
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        dst = str(drop / f"{i:02d}-docs.parquet")
        shutil.copyfile(os.path.join(staged, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    corpus_path = str(tmp_path / "span_corpus")
    matches_path = str(tmp_path / "span_matches")
    corpus, matches = ingest_span_dedup_stream(
        stream, corpus_path, matches_path,
        min_len=30, dup_permille_gate=500,
    )
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 2, 4]
    m = {(r.doc_id, r.match_id) for r in matches.collect()}
    assert m == {(3, 1), (5, 4)}
    for r in matches.collect():
        assert r.dup_permille >= 500
        assert 0 < r.dup_chars <= r.doc_len
    # postings persisted with the corpus (probe never re-hashes text),
    # stamped with the gram length and hash family
    assert "gram_hashes" in corpus.columns
    with open(os.path.join(corpus_path, "_span_params")) as fh:
        assert json.load(fh) == {"min_len": 30, "gram_hash": "xxhash64"}
    assert versions(corpus_path) == [0, 1, 2]
    assert committed_batches(corpus_path) == {0: 0, 1: 1, 2: 2}
    assert committed_batches(matches_path) == {0: 0, 1: 1, 2: 2}


@pytest.mark.parametrize("op", ["transitions", "cep", "sessions"])
def test_watermark_boundary_contract(spark, tmp_path, op):
    """The late-drop contract of the reorder skeleton
    (streaming/reorder.py), for each operator on it. Staging: batch 0
    plants A(view, ts=T0, id=2) plus a wm-driver at T0+1h (delay 1h,
    so the eviction watermark lands exactly on T0); batch 1 runs the
    operator for the user while wm == T0 (E, a purchase at T0+20min)
    — an inclusive flush would emit A here, the strict flush holds
    it; batch 2 delivers B(error, ts=T0, id=1), same timestamp as A,
    lower event_id. B would change every operator's output: one more
    transition, a negation that kills the view → purchase match, a
    third event in the session.

    Measured semantics this test pins (Spark 4.1.2):
    - The JVM late filter DOES run for applyInPandasWithState, with
      the PREVIOUS batch's watermark and an INCLUSIVE boundary:
      B (ts == lagged wm) never reaches the function and is counted
      in numRowsDroppedByWatermark.
    - Rows at the CURRENT watermark are admitted and held, never
      dropped in-function (late accumulator stays 0).
    - Output equals the batch operator over the JVM-surviving rows
      {A, E}, in (ts, event_id) order — asserted from the operator's
      own strict flush, not from the complement of two inclusive
      boundaries."""
    import datetime as dt
    import os
    import shutil

    import pyspark.sql.functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )
    from pyspark.sql.window import Window

    from llamadb_spark.operators.events import cep_sequence_matches, sessionize
    from llamadb_spark.streaming.cep import cep_matches_stream
    from llamadb_spark.streaming.sessions import sessionize_stream
    from llamadb_spark.streaming.streams import run_with_progress
    from llamadb_spark.streaming.transitions import transitions_stream

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("ts", TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    h = dt.timedelta(hours=1)
    batches = [
        # wm after this batch: (T0+1h) - 1h = T0 exactly
        [(7, 2, "view", 1.0, t0), (-1, -10, "x", 0.0, t0 + h)],
        # runs fn for user 7 while wm == T0; A(ts == wm) must be HELD
        [
            (7, 5, "purchase", 2.0, t0 + dt.timedelta(minutes=20)),
            (-1, -11, "x", 0.0, t0 + h),
        ],
        # boundary arrival: ts == the LAGGED watermark -> JVM-dropped
        [(7, 1, "error", 4.0, t0), (-1, -12, "x", 0.0, t0 + h)],
        # far-future sentinels: advance wm, then fire flush timers
        [(-1, -13, "x", 0.0, t0 + dt.timedelta(days=9000))],
        [(-1, -14, "x", 0.0, t0 + dt.timedelta(days=9001))],
    ]
    drop = tmp_path / "wmb_drop"
    drop.mkdir()
    for i, rows in enumerate(batches):
        staged = str(tmp_path / f"wmb_stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staged)
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        dst = str(drop / f"{i:02d}-events.parquet")
        shutil.copyfile(os.path.join(staged, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    late_acc = spark.sparkContext.accumulator(0)
    kw = {"watermark_delay": "1 hour", "late_counter": late_acc}

    def batch_transitions(df):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return df.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
            "ts",
        ).filter(F.col("prev_type").isNotNull())

    stream_op, batch_op = {
        "transitions": (transitions_stream, batch_transitions),
        "cep": (cep_matches_stream, cep_sequence_matches),
        "sessions": (
            lambda df, **kw: sessionize_stream(df, gap_minutes=30, **kw),
            lambda df: sessionize(df, gap_minutes=30),
        ),
    }[op]
    out, metrics = run_with_progress(
        stream_op(stream, **kw), f"wmb_boundary_{op}", output_mode="append"
    )
    got = {tuple(r) for r in out.collect()}
    # B was swallowed by the JVM's lagged inclusive filter before the
    # function ever saw it — the surviving rows are A and E
    surviving = spark.createDataFrame(
        [r for b in batches for r in b if r[0] == 7 and r[1] != 1], schema
    )
    want = {
        tuple(r) for r in batch_op(surviving).select(*out.columns).collect()
    }
    assert got == want
    assert want
    # the JVM counted B; the in-function path dropped nothing (rows
    # at the CURRENT watermark are held, not dropped)
    assert metrics["rows_dropped_late"] == 1
    assert late_acc.value == 0


def test_transitions_idle_eviction_counts_from_the_last_fold(spark, tmp_path):
    """A user's chain survives an event-time gap longer than
    IDLE_TIMEOUT_MS when the watermark reaches that gap only after the
    earlier event was folded: idleness is counted from the fold, so
    the later event still pairs with the earlier one, as in the batch
    lag. User 7's A (T0) is flushed in batch 2 at wm = T0+7h; B
    (T0+7.5h) arrives in batch 3, when the watermark has passed
    A + 6 h but not the fold + 6 h."""
    import datetime as dt

    from llamadb_spark.streaming.streams import run_to_memory
    from llamadb_spark.streaming.transitions import (
        IDLE_TIMEOUT_MS,
        transitions_stream,
    )

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    assert dt.timedelta(milliseconds=IDLE_TIMEOUT_MS) < 7 * h
    stream = _stage_drop(
        spark, tmp_path, "idle",
        "user_id long, event_id long, event_type string, ts timestamp",
        [
            [(7, 1, "a", t0), (8, 10, "x", t0)],
            # user 8 drives the watermark to T0+7h (delay 1h)
            [(8, 11, "x", t0 + 8 * h)],
            # user 7's flush timer fires: A folded at wm = T0+7h
            [(8, 12, "x", t0 + 8 * h)],
            [(7, 2, "b", t0 + 7.5 * h), (8, 13, "x", t0 + 8 * h)],
            [(-1, -1, "x", t0 + dt.timedelta(days=9000))],
            [(-1, -2, "x", t0 + dt.timedelta(days=9001))],
        ],
    )
    out = run_to_memory(
        transitions_stream(stream(), watermark_delay="1 hour"),
        "idle_fold", output_mode="append",
    )
    got = {
        (r.prev_type, r.next_type) for r in out.collect() if r.user_id == 7
    }
    assert got == {("a", "b")}


@pytest.mark.parametrize("op", ["transitions", "cep", "sessions"])
def test_stateful_function_loads_without_the_package(
    spark, tmp_path, monkeypatch, op
):
    """cloudpickle ships the function each stateful operator hands to
    applyInPandasWithState to the Python workers. It must load where
    this package cannot be imported (working directory outside the
    tree, no PYTHONPATH), as on a worker the package was never
    installed on: anything it reaches by module reference fails there
    with ModuleNotFoundError."""
    import os
    import subprocess
    import sys

    import pyspark.sql.functions as F
    from pyspark import cloudpickle
    from pyspark.sql.group import GroupedData

    from llamadb_spark.streaming.cep import cep_matches_stream
    from llamadb_spark.streaming.sessions import sessionize_stream
    from llamadb_spark.streaming.transitions import transitions_stream

    handed = []
    real = GroupedData.applyInPandasWithState

    def capture(self, func, *args, **kwargs):
        handed.append(func)
        return real(self, func, *args, **kwargs)

    monkeypatch.setattr(GroupedData, "applyInPandasWithState", capture)
    events = spark.readStream.format("rate").load().select(
        F.col("value").alias("user_id"),
        F.col("value").alias("event_id"),
        F.lit("view").alias("event_type"),
        F.col("value").cast("double").alias("value"),
        F.col("timestamp").alias("ts"),
    )
    operator = {
        "transitions": transitions_stream,
        "cep": cep_matches_stream,
        "sessions": sessionize_stream,
    }[op]
    operator(events, watermark_delay="1 hour")
    (fn,) = handed

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    loaded = subprocess.run(
        [
            sys.executable, "-c",
            "import pickle, sys; "
            "assert callable(pickle.loads(sys.stdin.buffer.read()))",
        ],
        input=cloudpickle.dumps(fn),
        cwd=tmp_path,
        env=env,
        capture_output=True,
        timeout=120,
    )
    assert loaded.returncode == 0, loaded.stderr.decode()[-2000:]


def test_param_stamp_restampable_until_first_commit(spark, tmp_path):
    """ADVICE r07: a first run that fails before committing anything
    must not pin a still-empty corpus to its parameters — the stamp
    is rewritable while versions() is empty, immutable afterwards.
    The stamp also carries the seed/hash-family identifier."""
    import json
    import os

    import pytest

    from llamadb_spark.operators.similarity import LSH_PLANE_SEED
    from llamadb_spark.sources.versioned import write_version
    from llamadb_spark.streaming.ivm import stamp_params

    def lsh(num_planes, num_tables):
        return {
            "num_planes": num_planes,
            "num_tables": num_tables,
            "plane_seed": LSH_PLANE_SEED,
        }

    def span(min_len):
        return {"min_len": min_len, "gram_hash": "xxhash64"}

    emb_corpus = str(tmp_path / "emb_corpus")
    stamp_params(emb_corpus, "lsh", lsh(6, 40))
    # no committed versions yet: different params restamp, no error
    stamp_params(emb_corpus, "lsh", lsh(8, 16))
    with open(os.path.join(emb_corpus, "_lsh_params")) as fh:
        stamped = json.load(fh)
    assert stamped["num_planes"] == 8
    assert "plane_seed" in stamped  # seed family is part of validity
    # first commit pins the stamp
    write_version(spark.range(1), emb_corpus)
    stamp_params(emb_corpus, "lsh", lsh(8, 16))  # match ok
    with pytest.raises(ValueError, match="not comparable"):
        stamp_params(emb_corpus, "lsh", lsh(6, 40))

    span_corpus = str(tmp_path / "span_corpus")
    stamp_params(span_corpus, "span", span(30))
    stamp_params(span_corpus, "span", span(40))  # restamp while empty
    with open(os.path.join(span_corpus, "_span_params")) as fh:
        stamped = json.load(fh)
    assert stamped == {"min_len": 40, "gram_hash": "xxhash64"}
    write_version(spark.range(1), span_corpus)
    with pytest.raises(ValueError, match="not comparable"):
        stamp_params(span_corpus, "span", span(30))


def test_ingest_line_dedup_stream_three_batch_gating(spark, tmp_path):
    """Streaming line dedup (VERDICT r08 #6 — d25's C4 keep-first at
    ingest time): cross-batch duplicate lines are stripped against
    the persisted line-hash index, intra-batch keep-first holds by
    (doc_id, line_no), and replaying the whole drop is idempotent
    (ledger-gated, corpus versions unchanged)."""
    import os
    import shutil

    from llamadb_spark.sources.versioned import versions
    from llamadb_spark.streaming.ingest_line_dedup import (
        ingest_line_dedup_stream,
    )

    hdr = "SITE CHROME"
    batches = [
        # batch 0: doc 1 intro-duces the chrome line + body b1
        [(1, hdr + "\nbody-one"), (2, "body-two\nbody-three")],
        # batch 1: doc 3 repeats the chrome line (cross-batch dup) +
        # docs 3 and 4 share a NEW line (intra-batch: doc 3 line 1
        # is the keeper, doc 4's copy strips)
        [(3, hdr + "\nshared-new"), (4, "shared-new\nbody-four")],
        # batch 2: everything already seen -> fully stripped doc
        [(5, hdr + "\nshared-new")],
    ]
    schema = "doc_id long, text string"
    drop = tmp_path / "doc_drop"
    drop.mkdir()
    for i, rows in enumerate(batches):
        staged = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            staged
        )
        part = next(
            f for f in os.listdir(staged) if f.endswith(".parquet")
        )
        dst = str(drop / f"{i:02d}-docs.parquet")
        shutil.copyfile(os.path.join(staged, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop))
        )
        return ingest_line_dedup_stream(
            stream, str(tmp_path / "corpus"), str(tmp_path / "lindex")
        )

    corpus, index = run()
    rows = {r.doc_id: r for r in corpus.collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    assert rows[1].clean_text == hdr + "\nbody-one"
    assert rows[2].clean_text == "body-two\nbody-three"
    # cross-batch: doc 3 loses the chrome line, keeps its new line
    assert rows[3].clean_text == "shared-new"
    assert (rows[3].n_lines, rows[3].n_removed) == (2, 1)
    # intra-batch keep-first: doc 4's copy of shared-new strips
    assert rows[4].clean_text == "body-four"
    # batch 2: fully stripped doc survives as an empty clean_text row
    assert rows[5].clean_text == "" and rows[5].n_removed == 2
    # one corpus + index version per micro-batch
    assert versions(str(tmp_path / "corpus")) == [0, 1, 2]
    assert versions(str(tmp_path / "lindex")) == [0, 1, 2]
    # index holds exactly the distinct first-occurrence lines
    assert index.count() == 6  # hdr, body-one..four, shared-new

    # replay the identical drop: every batch id is in both ledgers,
    # so nothing recommits — corpus and index unchanged
    corpus2, index2 = run()
    assert versions(str(tmp_path / "corpus")) == [0, 1, 2]
    assert {(r.doc_id, r.clean_text) for r in corpus2.collect()} == {
        (r.doc_id, r.clean_text) for r in corpus.collect()
    }
    assert index2.count() == 6


def test_unordered_drain_is_two_microbatches(spark, sf_dir):
    """r11 regression guard: the sentinel-driven transitions drain
    must complete in exactly TWO stateful micro-batches (data +
    first sentinel together via maxFilesPerTrigger=2, then the
    second-sentinel batch in which the event-time timers fire) with
    no trailing no-data batch (run_to_memory(no_data_batch=False)).
    Each extra batch is a full applyInPandasWithState round."""
    from llamadb_spark.streaming.streams import (
        drain,
        read_events_stream_unordered,
    )
    from llamadb_spark.streaming.transitions import transitions_stream

    steps = transitions_stream(
        read_events_stream_unordered(spark, sf_dir),
        watermark_delay="7000 days",
    )
    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    try:
        q = (
            steps.writeStream.format("memory")
            .queryName("drain_batch_probe")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(conf_key, prev)
    drain(q, 120)
    batch_ids = {p["batchId"] for p in q.recentProgress}
    assert batch_ids == {0, 1}, f"expected 2 micro-batches, got {sorted(batch_ids)}"
    # and the drain produced output (timers actually fired in batch 1)
    assert spark.table("drain_batch_probe").count() > 0


def test_event_stream_drop_dirs_are_shared(spark, sf_dir, tmp_path, monkeypatch):
    """Building e24's stream twice stages one drop directory, not one
    per build, and the second drain over it returns the same matrix.
    The ordered stream shares its own directory the same way."""
    import tempfile

    from llamadb_spark.queries.events import e24_transition_stream
    from llamadb_spark.streaming import streams

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(streams, "_DROP_DIRS", {}, raising=False)

    def drops():
        return sorted(p.name for p in tmp_path.glob("llamadb_events_*"))

    runs = [
        sorted(tuple(r) for r in e24_transition_stream(spark, sf_dir).collect())
        for _ in range(2)
    ]
    assert runs[0] == runs[1] and runs[0]
    assert len(drops()) == 1, drops()
    for _ in range(2):
        read_events_stream(spark, sf_dir)
    assert len(drops()) == 2, drops()
