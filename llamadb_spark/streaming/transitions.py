"""Streaming event-transition extraction (SURVEY §2 #240, the
streaming twin of queries/events.py e21_transition_matrix's lag
step): emit one (prev_type, next_type) row per consecutive event pair
in each user's timeline, incrementally across micro-batches, on the
event-time reorder skeleton (reorder.py).

A windowed aggregation can't express this: the pair couples each
event to the PREVIOUS one across micro-batch boundaries, so the
operator carries, per active user, the last event's type, plus the
skeleton's buffer of events still ahead of the watermark. A user is
evicted once the watermark has advanced IDLE_TIMEOUT_MS since the
operator last folded one of their events; a later event starts a
fresh chain.

The downstream Markov aggregation (counts + row-normalized
probabilities) is an ordinary groupBy over the emitted steps;
queries/events.py e24_transition_stream drains this stream and
aggregates, giving a full value-hash oracle against the batch e21
SQL (stream ≡ batch, driver-attested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from llamadb_spark.streaming.reorder import reorder_buffered

TRANSITIONS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("prev_type", StringType()),
        StructField("next_type", StringType()),
        StructField("ts", TimestampType()),
    ]
)

#: Idle eviction, in event time: a user is dropped from the state
#: store once the watermark has advanced this far since the operator
#: last folded one of their events. Counting from the fold, not from
#: the event's own time, keeps the chain of a user whose buffered
#: events were flushed late.
IDLE_TIMEOUT_MS = 6 * 3600 * 1000


def transitions_stream(
    events: DataFrame, watermark_delay: str, late_counter=None
) -> DataFrame:
    """Per-user consecutive event-type pairs, keyed on user_id. Each
    event that HAS a predecessor emits one row: the row set of the
    batch operator's lag-over-(ts, event_id) step, for any arrival
    order with disorder ≤ ``watermark_delay``. Rows later than the
    delay are dropped (see reorder_buffered)."""
    idle_us = IDLE_TIMEOUT_MS * 1000

    def advance(carry, ready):
        # '' = no predecessor yet; -1 = idle deadline not yet armed
        last_type, idle_at_us = carry or ("", -1)
        out = []
        for t, _eid, etype in ready:
            if last_type:
                out.append((last_type, etype, t))
            last_type, idle_at_us = etype, -1
        return (last_type, idle_at_us), out

    def expire(carry, wm_us):
        last_type, idle_at_us = carry
        if idle_at_us < 0:
            idle_at_us = wm_us + idle_us
        elif wm_us >= idle_at_us:
            return None, [], None
        return (last_type, idle_at_us), [], idle_at_us

    return reorder_buffered(
        events, ("event_type",), advance, expire, TRANSITIONS_SCHEMA,
        "last_type string, idle_at_us long", watermark_delay, late_counter,
    )
