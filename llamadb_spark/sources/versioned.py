"""Versioned parquet tables: snapshot writes, time travel, version
diff — a minimal manifest-based implementation of the pattern Delta
Lake / Iceberg formalize (validity of a snapshot is decided by a
manifest pointer, never by directory listing).

Layout:  <table>/v=N/part-*.parquet   (immutable snapshot N)
         <table>/_latest              (text manifest: the committed N)

Writer protocol: write the new snapshot directory FULLY, then flip
the one-line manifest — readers resolving "latest" see either the old
or the new version, never a half-written directory (the same
last-writer-wins commit rule as Delta's _last_checkpoint, minus
multi-writer arbitration, which needs a real transaction log).

At 100 TB the snapshot write is the same cost as any partitioned
write; time travel and diff read only the two snapshots involved.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from llamadb_spark.session import read_parquet, write_parquet

#: name of the micro-batch id marker inside a version directory; the
#: leading underscore makes Spark's parquet reader ignore it (same
#: convention as _SUCCESS).
BATCH_MARKER = "_ivm_batch"


def _manifest(path: str) -> str:
    return os.path.join(path, "_latest")


def versions(path: str) -> list[int]:
    """Committed snapshot numbers, ascending (directory scan bounded
    by version count, not data size)."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        if name.startswith("v=") and name[2:].isdigit():
            out.append(int(name[2:]))
    latest = latest_version(path)
    return sorted(v for v in out if latest is not None and v <= latest)


def latest_version(path: str) -> int | None:
    try:
        with open(_manifest(path)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def write_version(
    df: DataFrame, path: str, batch_id: int | None = None
) -> int:
    """Commit a new immutable snapshot; returns its version number.

    An orphan ``v=N`` directory (a crash after the write, before the
    manifest flip) was never visible to a reader and is cleared. With
    ``batch_id``, the micro-batch id is stamped inside the directory
    before the flip, so {snapshot + batch id} is one atomic commit
    (the exactly-once ledger of streaming/ivm.py). The marker goes in
    first and the snapshot is appended beside it, so the schema that
    ``write_parquet`` remembers stays valid for the directory."""
    cur = latest_version(path)
    nxt = 0 if cur is None else cur + 1
    vdir = os.path.join(path, f"v={nxt}")
    shutil.rmtree(vdir, ignore_errors=True)
    os.makedirs(vdir)
    if batch_id is not None:
        with open(os.path.join(vdir, BATCH_MARKER), "w") as fh:
            fh.write(str(batch_id))
    write_parquet(df, vdir, "append")
    tmp = _manifest(path) + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(nxt))
    os.replace(tmp, _manifest(path))
    return nxt


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Time travel: read snapshot ``version`` (default: the committed
    latest)."""
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version at {path}")
    return read_parquet(spark, os.path.join(path, f"v={v}"))


def version_diff(
    spark: SparkSession,
    path: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
) -> DataFrame:
    """Changelog between two snapshots — the inverse of
    operators/events.cdc_apply: full outer join on the key, classify
    each key as insert / delete / update (any non-key column
    changed) / unchanged-dropped. One shuffle per side on the key.

    Output: key columns + change ('insert' | 'delete' | 'update').
    """
    old = read_version(spark, path, v_old)
    new = read_version(spark, path, v_new)
    val_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *key_cols,
        F.struct(*[col(c) for c in val_cols]).alias("_old"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *key_cols,
        F.struct(*[col(c) for c in val_cols]).alias("_new"),
        F.lit(True).alias("_in_new"),
    )
    j = o.join(n, key_cols, "full_outer")
    # null-safe struct comparison: plain != yields NULL when a field
    # is NULL on either side, which would silently classify a
    # NULL↔value change as unchanged
    change = (
        F.when(col("_in_old").isNull(), F.lit("insert"))
        .when(col("_in_new").isNull(), F.lit("delete"))
        .when(~col("_old").eqNullSafe(col("_new")), F.lit("update"))
    )
    return (
        j.withColumn("change", change)
        .filter(col("change").isNotNull())
        .select(*key_cols, "change")
    )


def version_changelog(
    spark: SparkSession,
    path: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
) -> DataFrame:
    """version_diff with the row VALUES attached: key columns +
    change + `_old` / `_new` structs of the non-key columns (null on
    the missing side of inserts/deletes). This is the changelog an
    incremental consumer (maintain_group_agg below, a CDC sink, a
    cache invalidator) actually needs."""
    old = read_version(spark, path, v_old)
    new = read_version(spark, path, v_new)
    val_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *key_cols,
        F.struct(*[col(c) for c in val_cols]).alias("_old"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *key_cols,
        F.struct(*[col(c) for c in val_cols]).alias("_new"),
        F.lit(True).alias("_in_new"),
    )
    j = o.join(n, key_cols, "full_outer")
    change = (
        F.when(col("_in_old").isNull(), F.lit("insert"))
        .when(col("_in_new").isNull(), F.lit("delete"))
        .when(~col("_old").eqNullSafe(col("_new")), F.lit("update"))
    )
    return (
        j.withColumn("change", change)
        .filter(col("change").isNotNull())
        .select(*key_cols, "change", "_old", "_new")
    )


def maintain_group_agg(
    prev_agg: DataFrame,
    changelog: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Incremental view maintenance for a per-group (n_rows, total)
    aggregate: apply a row-level changelog to the previous aggregate
    instead of rescanning the table — cost scales with |changes| +
    |groups touched|, not table size (the Delta/materialized-view
    refresh pattern, expressed as two small shuffles).

    Each changelog row contributes up to two delta rows: a retraction
    (-1, -old value) against the OLD group and an addition (+1, +new
    value) to the NEW group — which makes updates that MOVE a row
    between groups correct for free. Groups whose row count reaches 0
    drop out of the result, matching a full recompute exactly
    (asserted in tests).

    prev_agg schema: (group_col, n_rows, total).
    """
    minus = (
        changelog.filter(col("change").isin("delete", "update"))
        .select(
            col(f"_old.{group_col}").alias(group_col),
            F.lit(-1).cast("long").alias("d_n"),
            (-col(f"_old.{value_col}")).alias("d_total"),
        )
    )
    plus = (
        changelog.filter(col("change").isin("insert", "update"))
        .select(
            col(f"_new.{group_col}").alias(group_col),
            F.lit(1).cast("long").alias("d_n"),
            col(f"_new.{value_col}").alias("d_total"),
        )
    )
    delta = (
        minus.unionAll(plus)
        .groupBy(group_col)
        .agg(F.sum("d_n").alias("d_n"), F.sum("d_total").alias("d_total"))
    )
    # Null-safe join key: a NULL group is one group to groupBy, so the
    # merge must also treat NULL as equal — a plain equi-join would
    # emit the previous NULL-group row and the delta NULL-group row
    # separately (double-counting the group).
    p = prev_agg.withColumnRenamed(group_col, "_pg")
    d = delta.withColumnRenamed(group_col, "_dg")
    merged = p.join(d, col("_pg").eqNullSafe(col("_dg")), "full_outer").select(
        F.coalesce(col("_pg"), col("_dg")).alias(group_col),
        (F.coalesce(col("n_rows"), F.lit(0)) + F.coalesce(col("d_n"), F.lit(0))).alias(
            "n_rows"
        ),
        (
            F.coalesce(col("total"), F.lit(0.0))
            + F.coalesce(col("d_total"), F.lit(0.0))
        ).alias("total"),
    )
    return merged.filter(col("n_rows") > 0)


def vacuum(path: str, keep_last: int = 10) -> list[int]:
    """Retention for versioned tables: delete snapshot directories
    older than the newest ``keep_last`` committed versions and return
    the versions removed. Time travel keeps working for everything
    retained; the manifest (and with it the latest version) is never
    touched, so readers of current data are unaffected and the
    operation is safe to run concurrently with writers (writers only
    ever create NEW v= directories above the manifest).

    Why it exists: every commit is a full immutable snapshot, so a
    busy table's storage grows linearly with commit count — at
    production cadence (the streaming IVM commits one version per
    micro-batch) retention is not optional. keep_last must be ≥ 1;
    orphaned uncommitted directories (crash debris above the
    manifest) are left for the next commit's own cleanup.
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    vs = versions(path)
    doomed = vs[:-keep_last] if len(vs) > keep_last else []
    # Preserve streaming replay ledgers before deleting snapshots: an
    # IVM/ingest sink stamps its micro-batch id INSIDE the version
    # directory (BATCH_MARKER, see write_version); deleting the
    # directory must not forget that the batch committed, or a
    # checkpoint-loss replay would re-apply it (double-counting
    # deltas). Markers of doomed versions are appended to an
    # append-only `_batches` file at the table root, which vacuum
    # never deletes and committed_batches() reads alongside the
    # in-directory markers.
    ledger_lines = []
    for v in doomed:
        marker = os.path.join(path, f"v={v}", BATCH_MARKER)
        try:
            with open(marker) as fh:
                ledger_lines.append(f"{int(fh.read().strip())} {v}\n")
        except (OSError, ValueError):
            continue
    if ledger_lines:
        with open(os.path.join(path, "_batches"), "a") as fh:
            fh.writelines(ledger_lines)
            fh.flush()
            os.fsync(fh.fileno())
    for v in doomed:
        shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)
    return doomed
