"""The event-time reorder skeleton under the stateful event operators
(cep.py, sessions.py, transitions.py): one applyInPandasWithState that
buffers each user's events until the watermark passes them and hands
them to the operator in exact (ts, event_id) order. Each operator
keeps only its logic, an ``advance`` over ready rows and an
``expire`` rule for a drained buffer; the event-time model is
Dataflow's (Akidau et al., VLDB 2015).

End-of-stream flush rides the event-time timer: the drain stages
far-future sentinel events under ``SENTINEL_USER`` that advance the
global watermark past every buffered row
(streams.read_events_stream_unordered).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import StructType, TimestampType

#: user_id reserved for the end-of-stream watermark sentinels.
SENTINEL_USER = -1


def reorder_buffered(
    events: DataFrame,
    cols: tuple[str, ...],
    advance,
    expire,
    out_schema: StructType,
    carry_schema: str,
    watermark_delay: str,
    late_counter=None,
) -> DataFrame:
    """Run ``advance``/``expire`` per user_id over events reordered by
    event time.

    - ``cols``: the payload columns besides ``event_id`` and ``ts``.
      Rows reach the operator as ``(ts_us, event_id, *cols)`` tuples,
      times in epoch microseconds.
    - ``advance(carry, ready) -> (carry, out)`` folds the ready rows,
      sorted, into the carry (``None`` for a user never seen, else a
      tuple of ``carry_schema``'s fields) and returns output rows:
      ``out_schema``'s fields after ``user_id``, timestamps as µs.
    - ``expire(carry, wm_us) -> (carry | None, out, timer_us)`` runs
      once the buffer is drained: it returns the carry to keep
      (``None`` evicts the user), extra output rows, and the event
      time the next timer fires behind. While rows are held, the
      timer is the oldest held row's.

    State per user is the carry plus the held rows, so it is bounded
    by that user's events inside the watermark horizon (delay x
    rate), not by stream volume. Any arrival order whose disorder is
    bounded by ``watermark_delay`` gives the batch operator's output.

    Late-drop contract (measured by the watermark boundary test in
    tests/test_streaming.py): Spark's JVM late filter DOES run for
    applyInPandasWithState, with the two-watermark semantics of
    SPARK-24634. In batch N it drops rows with ts <= the PREVIOUS
    batch's watermark (inclusive boundary, counted in
    numRowsDroppedByWatermark), while ``getCurrentWatermarkMs`` inside
    the function reports the CURRENT (eviction) watermark, one batch
    ahead. A row behind the eviction watermark but ahead of the
    lagged filter IS handed to the function, and folding it in after
    later rows were emitted would break stream = batch, so the
    skeleton drops it here (ts strictly behind the current
    watermark), counted by ``late_counter``. Total late drops =
    numRowsDroppedByWatermark (JVM, lagged horizon) + late_counter
    (this one-batch window). The flush boundary is strict to match
    the drop boundary: a held row AT the watermark waits until the
    watermark strictly passes it, so a same-ts arrival can never be
    folded in after rows it precedes by (ts, event_id).
    """
    names = out_schema.fieldNames()
    ts_out = [
        f.name for f in out_schema.fields
        if isinstance(f.dataType, TimestampType)
    ]
    nb = 2 + len(cols)
    buf_schema = ", ".join(
        ["buf_eid array<long>", "buf_us array<long>"]
        + [
            f"buf_{c} array<{events.schema[c].dataType.simpleString()}>"
            for c in cols
        ]
    )

    # Everything the function below calls is local to this closure,
    # so cloudpickle ships it by value and Python workers never import
    # this package.
    def _us(ts: pd.Series) -> list[int]:
        return ts.values.astype("datetime64[us]").astype("int64").tolist()

    def fn(key, pdfs, state):
        (user_id,) = key
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        carry, merged = None, []
        if state.exists:
            st = state.get
            carry = tuple(st[:-nb])
            b_eid, b_us, *b_cols = st[-nb:]
            merged = list(zip(b_us, b_eid, *b_cols))
        n_late = 0
        for pdf in pdfs:
            for row in zip(
                _us(pdf["ts"]),
                pdf["event_id"].tolist(),
                *(pdf[c].tolist() for c in cols),
            ):
                if row[0] < wm_us:
                    n_late += 1
                else:
                    merged.append(row)
        if n_late and late_counter is not None:
            late_counter.add(n_late)
        merged.sort()
        ready = [r for r in merged if r[0] < wm_us]
        held = merged[len(ready):]
        carry, out = advance(carry, ready)
        if held:
            timer_us = held[0][0]
        else:
            carry, extra, timer_us = expire(carry, wm_us)
            out = out + extra
        if carry is None:
            if state.exists:
                state.remove()
        else:
            state.update(
                (
                    *carry,
                    [r[1] for r in held],
                    [r[0] for r in held],
                    *([r[i] for r in held] for i in range(2, nb)),
                )
            )
            state.setTimeoutTimestamp(max(timer_us // 1000, wm_ms) + 1)
        if out:
            pdf = pd.DataFrame(out, columns=names[1:])
            pdf.insert(0, names[0], user_id)
            for c in ts_out:
                pdf[c] = pd.to_datetime(pdf[c], unit="us")
            yield pdf

    # Sentinels are filtered on the OUTPUT side: an input filter on
    # user_id is pushed by Catalyst below the EventTimeWatermark node
    # (it does not reference the event-time column), and then the
    # sentinel rows never reach the watermark tracker.
    return (
        events.withWatermark("ts", watermark_delay)
        .select("user_id", "event_id", *cols, "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=f"{carry_schema}, {buf_schema}",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        .filter(F.col("user_id") != SENTINEL_USER)
    )
