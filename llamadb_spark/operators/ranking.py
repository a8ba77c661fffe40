"""Distributed global ranking: row_number over a total order WITHOUT
funneling every row through one task.

``Window.orderBy(...)`` with no partition spec is the classic
100 TB-scale killer: Spark warns "No Partition Defined for Window
operation" and sorts the whole input in a single task (the canonical
executor OOM). The scalable construction here is the two-pass rank:

  1. range-repartition the input on the order columns (the same
     machinery a global sort uses — each partition holds a disjoint,
     ordered key range),
  2. row_number WITHIN each partition (partitioned window — parallel),
  3. add per-partition offsets: the counts table has exactly one row
     per partition (bounded by the shuffle-partition count, never by
     the data), so its running sum is scalar-sized work, and the
     offsets broadcast-join back onto the ranked rows.

The result is identical to ``row_number() OVER (ORDER BY ...)`` when
the order columns form a total order (unique per row); with ties the
tie-break is arbitrary in both forms.

Reference parity: llamadb has no window functions at all
(src/sqlsyntax/ — no OVER in the grammar); this operator exists for
the pipeline analytics surface (e20 Gini ranks and any future global
ranking) at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from llamadb_spark.session import stage


def _exclusive_prefix(totals: list) -> list:
    """Exclusive prefix sums in partition-id order (offset of pid i =
    sum of totals[0..i-1]). Accumulation order matches the former
    offsets window (ORDER BY _pid ROWS UNBOUNDED PRECEDING, -1).
    The list is type-homogeneous (all int or all float) so F.lit
    builds a single-typed array literal."""
    as_float = any(isinstance(t, float) for t in totals)
    acc = 0.0 if as_float else 0
    offs = []
    for t in totals:
        offs.append(acc)
        acc += t
    return offs


def distributed_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "i",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = global 1-based row_number ordered by
    ``order_cols`` (ascending), computed with per-partition windows +
    partition offsets instead of a single-task global window.

    The one unpartitioned window in the plan runs over the
    per-partition COUNTS relation — one row per shuffle partition, a
    cluster-config-bounded number of scalars, never data-sized.

    Offsets stay the lazy two-pass broadcast form here, unlike
    distributed_cumsum's observed-literal form (r11): every consumer
    of THIS function ranks a pre-aggregated, data-reduced input (e20
    ranks per-user counts; the bench demo ranks one table), where the
    per-metric fixed cost of a num_partitions-wide Observation
    (~6-12 ms/metric per call, measured row-independent 20 k → 5 M
    rows) exceeds the tiny second scan it would save — dedicated
    paired ABBA on e20 showed the observed form consistently ~1.1×
    SLOWER. distributed_cumsum's consumers rank corpus-sized rows,
    where the saved pass dominates; see its docstring.

    EAGER: the repartitioned+windowed subtree is localCheckpointed at
    call time (a Spark job runs even if the result is discarded) so
    that the counts side and the output join read it once instead of
    re-executing the whole upstream twice. The checkpoint blocks are
    released by the ContextCleaner when the returned DataFrame is
    garbage-collected.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
    cols = [F.col(c) for c in order_cols]
    # Staged: BOTH the counts side and the final join consume this
    # subtree — unstaged, the entire upstream (range repartition +
    # window + whatever feeds df) executed twice, once for the
    # broadcast offsets and once for the output (r10; guide §5 —
    # materialize a reused intermediate).
    local, _ = stage(
        df.repartitionByRange(num_partitions, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lr",
            F.row_number().over(Window.partitionBy("_pid").orderBy(*cols)),
        )
    )
    # one row per partition — bounded by cluster config, not data
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    off_w = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(off_w), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_lr") + F.col("_off")).cast("long"))
        .drop("_pid", "_lr", "_off")
    )


def distributed_cumsum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = running sum of ``value_col`` over the
    global order given by ``order_cols`` (strings or Column
    expressions, so ``F.col("q").desc()`` works) — the same two-pass
    construction as distributed_row_number: range-repartition on the
    order, per-partition window cumsum, then per-partition TOTALS
    (one row per partition) accumulated into offsets and
    broadcast-joined back. Identical to
    ``sum(value) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``
    without the single-task global sort.

    The canonical consumer is budget-cut selection: order by a score,
    keep rows while the running total fits the budget (p15).

    Per-partition totals are OBSERVED aggregates computed inside the
    checkpoint job (one conditional sum per partition — a
    cluster-config-bounded number of scalars), so the offsets are
    driver-side literals — no second pass over the checkpointed
    blocks, no broadcast join in the output plan (r11; guide §1.2).
    This form pays a fixed per-metric Observation cost (measured
    row-independent 20 k → 5 M rows), which is the right trade HERE
    because every consumer cumsums corpus-sized rows (p15/p19 rank
    each surviving doc), so the saved pass is data-sized;
    distributed_row_number, whose consumers rank pre-aggregated
    inputs, keeps the lazy broadcast form — see its docstring.
    Exactness: every production consumer sums LONG token/row counts,
    where conditional sums and prefix accumulation are exact in any
    order; for doubles the merge adds identity zeros to one
    partition's partial, which is exact too (modulo the -0.0 corner
    no consumer exercises).

    EAGER: localCheckpoints the windowed subtree at call time — see
    distributed_row_number's docstring for the contract.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    windowed = (
        df.repartitionByRange(num_partitions, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lc",
            F.sum(value_col).over(
                Window.partitionBy("_pid")
                .orderBy(*cols)
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    # one conditional total per partition, computed by the
    # checkpoint job (r11; the r10 totals side re-scanned every
    # checkpointed block — for p15/p19 the upstream is the
    # quality-scoring pipeline — to produce 32 total rows); the
    # metrics read the partition id and value through the metric-only
    # columns _tp/_tv
    local, row = stage(
        windowed.select(
            "*", F.col("_pid").alias("_tp"), F.col(value_col).alias("_tv")
        ),
        *[
            F.sum(
                F.when(F.col("_tp") == i, F.col("_tv")).otherwise(F.lit(0))
            ).alias(f"_t{i}")
            for i in range(num_partitions)
        ],
        names=windowed.columns,
    )
    offs = _exclusive_prefix(
        [row[f"_t{i}"] or 0 for i in range(num_partitions)]
    )
    return (
        local.withColumn(
            out_col,
            F.col("_lc") + F.element_at(F.lit(offs), F.col("_pid") + 1),
        )
        .drop("_pid", "_lc")
    )
