"""Streaming incremental view maintenance: a live changelog stream
keeps a per-group aggregate ("materialized view") current without
ever rescanning the base table — the foreachBatch twin of
sources/versioned.py maintain_group_agg (SURVEY §2 #218), closing
the loop from batch IVM to continuous IVM.

Shape: each micro-batch of changelog rows (key cols + change +
`_old`/`_new` structs, the version_changelog contract) is applied to
the previous aggregate via retraction/addition deltas, and the new
aggregate is committed as the next VERSION of a versioned table —
so the MV itself gets time travel, version diffs, and atomic
reader-safe commits for free (readers of version v are untouched
while v+1 is being written; the manifest flips last).

Exactly-once: foreachBatch is at-least-once — a driver crash between
the sink commit and the stream checkpoint replays the batch — so the
batch id is recorded INSIDE the version directory before the
manifest flip. The directory is invisible to readers until the flip,
which makes {aggregate data + batch id} one atomic commit; a
replayed batch finds its id among committed versions and skips
(the standard idempotent-foreachBatch ledger, here with zero extra
commit phases). An orphaned v=N directory from a crash before the
flip is invisible to readers and cleared on the next commit attempt.
``gated_drain`` is the one place that rule lives: this MV and the
four ingest-dedup streams all drain through it.

Scale: per-batch cost is |changes| + |MV| (the MV is group-
cardinality-sized — at 100 TB of facts a per-group rollup is
typically MBs, and the delta join is groups-touched-bounded). The
base table is never read.

Reference parity: llamadb has no materialized views (no CREATE VIEW
in sqlsyntax/ast.rs); this is pipeline infrastructure for the
analytics surface, same rationale as versioned tables.
"""

from __future__ import annotations

import json
import os
import warnings
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from llamadb_spark.session import empty_frame, read_parquet
from llamadb_spark.sources import versioned
from llamadb_spark.streaming.streams import drain


def committed_batches(mv_path: str) -> dict[int, int]:
    """batch_id -> MV version for every committed batch: the union of
    in-directory markers (retained versions) and the append-only
    ``_batches`` ledger at the table root, into which
    versioned.vacuum copies a doomed version's marker before deleting
    the directory. The ledger survives retention, so a checkpoint-
    loss replay still skips batches whose snapshots were vacuumed
    (bounded by total commit count — one short line per batch).

    Replay caveat (documented contract): skip-on-replay assumes the
    replayed source produces the SAME batch boundaries and ids as the
    original run. availableNow file streams with a retained
    checkpoint satisfy this (the offset log pins file→batch
    assignment); after a LOST checkpoint, batch ids restart from 0,
    so the caller must pin boundaries externally — e.g. one file per
    trigger via maxFilesPerTrigger=1 with lexicographic file order,
    the configuration the checkpoint-loss test uses. Replays with
    different batching are NOT exactly-once and must bootstrap a
    fresh MV path instead."""
    out: dict[int, int] = {}
    ledger = os.path.join(mv_path, "_batches")
    if os.path.exists(ledger):
        with open(ledger) as fh:
            for lineno, line in enumerate(fh, 1):
                # per-line validation: a torn/malformed line (crash
                # mid-append) must skip ONLY itself — dropping every
                # subsequent entry would make a checkpoint-loss
                # replay re-apply already-committed batches, the
                # exact double-count the ledger exists to prevent
                parts = line.split()
                try:
                    if len(parts) == 2:
                        out[int(parts[0])] = int(parts[1])
                    elif line.strip():
                        raise ValueError("wrong field count")
                except ValueError:
                    warnings.warn(
                        f"ivm: skipping malformed ledger line "
                        f"{ledger}:{lineno}: {line.strip()!r}"
                    )
    for v in versioned.versions(mv_path):
        marker = os.path.join(mv_path, f"v={v}", versioned.BATCH_MARKER)
        try:
            with open(marker) as fh:
                out[int(fh.read().strip())] = v
        except (OSError, ValueError):
            continue
    return out


def _gate(
    spark: SparkSession, tables: list[str], step: Callable, name: str
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body of ``gated_drain`` (see there)."""

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        ledgers = {t: committed_batches(t) for t in tables}
        todo = [t for t in tables if batch_id not in ledgers[t]]
        if not todo:
            return

        def base(path: str) -> DataFrame | None:
            ledger = ledgers[path]
            if batch_id in ledger:
                # replaying a half-committed batch: probe the table as
                # it was BEFORE this batch, or the batch's own rows
                # would match themselves
                v = ledger[batch_id] - 1
            else:
                v = versioned.latest_version(path)
            if v is None or v < 0:
                return None
            if not os.path.isdir(os.path.join(path, f"v={v}")):
                raise RuntimeError(
                    f"{name}: replay of batch {batch_id} needs version "
                    f"{v} of {path}, which has been vacuumed; raise "
                    "vacuum keep_last above the replay horizon, or "
                    "bootstrap fresh table paths"
                )
            return versioned.read_version(spark, path, v)

        frames = dict(zip(tables, step(batch_df, base), strict=True))
        for t in todo:
            versioned.write_version(frames[t], t, batch_id=batch_id)

    return run_batch


def gated_drain(
    stream: DataFrame,
    tables: list[str],
    step: Callable,
    *,
    name: str,
    timeout_s: int,
    checkpoint_dir: str | None = None,
) -> None:
    """Drain a finite stream (availableNow), committing each
    micro-batch exactly once into the versioned ``tables``.

    ``step(batch_df, base)`` returns one DataFrame per table, in
    ``tables`` order: the table's next version. ``base(path)`` reads
    one table's pre-batch version (``None`` while the table is empty)
    and is read only when ``step`` asks for it.

    foreachBatch is at-least-once: a crash between a commit and the
    stream checkpoint, or a lost checkpoint, replays the batch. Each
    table is therefore gated on its OWN ``committed_batches`` ledger:
    a batch every table has is skipped, and a half-committed batch
    recomputes against the pre-batch bases and commits only the
    tables still missing it, in ``tables`` order. The table the next
    batch probes must come last, so its commit is the one that
    publishes the batch. Raises ``TimeoutError`` if the stream is not
    drained within ``timeout_s``."""
    run_batch = _gate(stream.sparkSession, tables, step, name)
    w = stream.writeStream.foreachBatch(run_batch)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.queryName(name).trigger(availableNow=True).start()
    drain(q, timeout_s)


def read_log(spark: SparkSession, path: str) -> DataFrame:
    """Every committed version of a table that stores one batch's rows
    per version (a matches log), as one parquet read under one
    schema."""
    vs = versioned.versions(path)
    if not vs:
        raise RuntimeError(f"no committed batches at {path}")
    return read_parquet(spark, *[os.path.join(path, f"v={v}") for v in vs])


def stamp_params(corpus_path: str, kind: str, params: dict) -> None:
    """Stamp or validate, in ``<corpus>/_<kind>_params``, the
    parameters a corpus's persisted index columns were computed with:
    probing them under other parameters would silently produce wrong
    candidates. While the corpus has NO committed versions the stamp
    is freely rewritten (a first run that failed before committing
    anything must not pin a still-empty corpus); once a version
    exists a mismatch fails loudly."""
    stamp = os.path.join(corpus_path, f"_{kind}_params")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            have = json.load(fh)
        if have == params:
            return
        if versioned.versions(corpus_path):
            raise ValueError(
                f"corpus at {corpus_path} was indexed with "
                f"{kind.upper()} params {have}, but this run uses "
                f"{params}; its persisted index columns are not "
                "comparable — reingest the corpus or match the stored "
                "parameters"
            )
    os.makedirs(corpus_path, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump(params, fh)


def _group_agg_step(mv_path: str, group_col: str, value_col: str):
    def step(batch_df: DataFrame, base) -> list[DataFrame]:
        prev = base(mv_path)
        if prev is None:
            gtype = batch_df.schema["_new"].dataType[group_col].dataType
            prev = empty_frame(
                batch_df.sparkSession,
                StructType(
                    [
                        StructField(group_col, gtype),
                        StructField("n_rows", LongType()),
                        StructField("total", DoubleType()),
                    ]
                ),
            )
        return [
            versioned.maintain_group_agg(prev, batch_df, group_col, value_col)
        ]

    return step


def apply_changelog_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    mv_path: str,
    group_col: str,
    value_col: str,
) -> None:
    """One IVM step through the gate: skip if this batch already
    committed (replay), else delta-apply it to the latest MV version
    and commit."""
    step = _group_agg_step(mv_path, group_col, value_col)
    _gate(spark, [mv_path], step, "ivm_group_agg")(batch_df, batch_id)


def ivm_group_agg_stream(
    changelog_stream: DataFrame,
    mv_path: str,
    group_col: str,
    value_col: str,
    name: str = "ivm_group_agg",
    timeout_s: int = 120,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain a finite changelog stream (availableNow), applying each
    micro-batch to the versioned MV at ``mv_path``. Returns the final
    MV DataFrame. Bootstrap = replaying the full insert changelog
    against an empty MV (schema derived from the `_new` struct).

    ``checkpoint_dir`` makes the drain RESUMABLE: a later invocation
    with the same checkpoint processes only changelog files that
    arrived since, and a LOST checkpoint (full source replay) is
    harmless — every replayed batch finds its id in the version
    ledger and skips (tested in tests/test_streaming.py)."""
    gated_drain(
        changelog_stream,
        [mv_path],
        _group_agg_step(mv_path, group_col, value_col),
        name=name,
        timeout_s=timeout_s,
        checkpoint_dir=checkpoint_dir,
    )
    return versioned.read_version(changelog_stream.sparkSession, mv_path)
