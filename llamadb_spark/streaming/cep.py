"""Stateful streaming CEP (SURVEY §2 #178, streaming form): the
event-time twin of operators/events.cep_sequence_matches
(A → ¬N → B within T). Windowed aggregation can't express it — the
match condition couples THREE event types with an ordering/negation
constraint — so it runs on the reorder skeleton (reorder.py), like
sessionization.

Carry per user_id: (last_trigger_us, last_negation_us), two longs,
plus the skeleton's buffer of events still ahead of the watermark.
A user is evicted once the buffer is drained and the watermark has
passed the last trigger by `within` (such a trigger can never match
again). Matches are emitted in the micro-batch whose watermark passes
the target event.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from llamadb_spark.streaming.reorder import reorder_buffered

CEP_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("match_id", LongType()),
        StructField("trigger_ts", TimestampType()),
        StructField("target_ts", TimestampType()),
        StructField("gap_us", LongType()),
    ]
)


def cep_matches_stream(
    events: DataFrame,
    trigger: str = "view",
    target: str = "purchase",
    negation: str = "error",
    within_seconds: int = 1800,
    *,
    watermark_delay: str,
    late_counter=None,
) -> DataFrame:
    """Streaming pattern-with-negation matches, keyed on user_id. For
    any arrival order with disorder ≤ ``watermark_delay`` the output
    rows equal the batch operator's over the events the stream has
    seen — asserted stream≡batch in tests/test_streaming.py. Rows
    later than the delay are dropped (see reorder_buffered)."""
    within_us = within_seconds * 1_000_000

    def advance(carry, ready):
        # -1 encodes "never seen" (state tuples can't hold NULLs
        # portably)
        trig_us, neg_us = carry or (-1, -1)
        out = []
        for t, eid, etype in ready:
            if (
                etype == target
                and trig_us >= 0
                and t - trig_us <= within_us
                and neg_us < trig_us  # -1 sentinel = no negation
            ):
                out.append((eid, trig_us, t, t - trig_us))
            # state transitions AFTER the match check: the batch
            # operator's window frame excludes the current row
            if etype == trigger:
                trig_us = t
            elif etype == negation:
                neg_us = t
        return (trig_us, neg_us), out

    def expire(carry, wm_us):
        trig_us, _neg_us = carry
        if trig_us >= 0 and wm_us <= trig_us + within_us:
            # trigger still inside its match window: keep it
            return carry, [], trig_us + within_us
        return None, [], None

    return reorder_buffered(
        events, ("event_type",), advance, expire, CEP_SCHEMA,
        "trig_us long, neg_us long", watermark_delay, late_counter,
    )
