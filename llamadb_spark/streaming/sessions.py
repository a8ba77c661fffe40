"""Stateful streaming sessionization (SURVEY §2 #42, streaming form)
on the event-time reorder skeleton (reorder.py) — the custom-stateful
escape hatch when windowed aggregation can't express the semantics
(gap-based sessions have data-dependent window boundaries).

Carry per user_id: (session_seq, session_start, last_ts, n_events,
total_value), plus the skeleton's buffer of events still ahead of the
watermark. A session closes when an event arrives more than the gap
after last_ts, or by event time once the watermark passes
last_ts + gap (no event can extend it any more).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from llamadb_spark.streaming.reorder import reorder_buffered

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_seq", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    *,
    watermark_delay: str,
    late_counter=None,
) -> DataFrame:
    """Gap-based sessions over a stream keyed by user_id. For any
    arrival order with disorder ≤ ``watermark_delay`` the sessions
    equal the batch sessionizer's, numbering included (seq persists
    in the carry across closes); rows later than the delay are
    dropped (see reorder_buffered).

    State-size tradeoff (deliberate): a user with no buffered events
    and no open session keeps a carry whose only live field is
    ``session_seq``, with the timer parked far out and re-armed on
    each fire. Evicting it would restart that user's numbering at 0
    on return, breaking the stream≡batch session_seq contract. State
    therefore grows with TOTAL distinct users ever seen (one short
    tuple each), the same O(distinct keys) footprint as any per-key
    streaming aggregate.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def advance(carry, ready):
        seq, start_us, last_us, n, total = carry or (0, -1, -1, 0, 0.0)
        closed = []
        for t, _eid, v in ready:
            if start_us < 0:
                start_us, last_us, n, total = t, t, 1, float(v)
            elif t - last_us > gap_us:
                closed.append((seq, start_us, last_us, n, total))
                seq, start_us, last_us, n, total = seq + 1, t, t, 1, float(v)
            else:
                last_us, n, total = t, n + 1, total + float(v)
        return (seq, start_us, last_us, n, total), closed

    def expire(carry, wm_us):
        seq, start_us, last_us, _n, _total = carry
        if start_us < 0:
            # no open session: keep seq, park the timer far out
            return carry, [], wm_us + 48 * gap_us
        if wm_us < last_us + gap_us:
            return carry, [], last_us + gap_us
        return (seq + 1, -1, -1, 0, 0.0), [carry], wm_us + 48 * gap_us

    return reorder_buffered(
        events, ("value",), advance, expire, SESSION_SCHEMA,
        "session_seq long, start_us long, last_us long, n_events long, "
        "total_value double",
        watermark_delay, late_counter,
    )
