"""``session.stage``: the one way the package materializes an
intermediate. One localCheckpoint job stages the rows, observes their
count ``n`` and the caller's metrics, and outputs fresh attributes."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
import pytest

from llamadb_spark.session import stage


def _build_jobs(spark, fn):
    """(fn(), Spark jobs fn ran), counted through a job group."""
    sc = spark.sparkContext
    group = f"stage-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _expr_ids(df) -> set[int]:
    out = df._jdf.queryExecution().analyzed().output()
    return {out.apply(i).exprId().id() for i in range(out.size())}


def test_stage_counts_the_staged_rows(spark):
    df = spark.range(100).filter(F.col("id") % 7 != 0).select(
        "id", (F.col("id") % 3).alias("k")
    )
    staged, observed = stage(df)
    assert staged.columns == ["id", "k"]
    assert observed["n"] == staged.count() == 85


def test_stage_metric_reads_a_metric_only_column(spark):
    """The star-rounds fingerprint shape: a metric over the staged
    columns goes through an extra column that only the metric reads,
    and that column is not staged."""
    edges = spark.range(500).select(
        (F.col("id") % 41).alias("u"), (F.col("id") % 13).alias("v")
    ).distinct()
    staged, observed = stage(
        edges.select("u", "v", F.xxhash64("u", "v").alias("_h")),
        F.expr("bit_xor(_h) AS h"),
        names=["u", "v"],
    )
    want = edges.agg(
        F.expr("bit_xor(xxhash64(u, v)) AS h"), F.count(F.lit(1)).alias("n")
    ).first()
    assert staged.columns == ["u", "v"]
    assert (observed["n"], observed["h"]) == (want.n, want.h)


def test_stage_outputs_fresh_attributes(spark):
    """A plain localCheckpoint outputs its input's attribute ids; the
    staged frame's must all be new (the "key not found" guard)."""
    df = spark.range(5).select("id", (F.col("id") * 2).alias("x"))
    staged, _ = stage(df)
    assert sorted(r.x for r in staged.collect()) == [0, 2, 4, 6, 8]
    assert _expr_ids(staged).isdisjoint(_expr_ids(df))


#: Spark jobs t22_source_divergence runs while its DataFrame is built,
#: with the documents table's schema already known: the corpus total is
#: the staging job's observed row count, not a count() job of its own
T22_BUILD_JOBS = 2


def test_t22_build_reads_the_staged_row_count(spark, sf_dir):
    from llamadb_spark.queries.pipeline_text import t22_source_divergence
    from llamadb_spark.session import read_table

    # infer the table's schema before counting, whatever ran before
    read_table(spark, sf_dir, "documents")
    df, jobs = _build_jobs(spark, lambda: t22_source_divergence(spark, sf_dir))
    assert jobs == T22_BUILD_JOBS
    assert df.count() > 0


#: Spark jobs of one call of each perfbench ``dedup_pipeline`` key at
#: test scale: its build (eager barriers) plus a noop write of the
#: result, with the tables' schemas already known. d02 plans no
#: hot-shingle guard (the index's observed doc count is below the
#: cap) and d08 reads ``embeddings`` without a rebalance shuffle.
DEDUP_CALL_JOBS = {"d02_jaccard_ngram": 5, "d08_semantic_dedup_apply": 6}


@pytest.mark.parametrize("key", sorted(DEDUP_CALL_JOBS))
def test_dedup_call_jobs(spark, sf_dir, key):
    from llamadb_spark.queries import all_queries
    from llamadb_spark.session import read_table

    for table in ("documents", "embeddings"):
        read_table(spark, sf_dir, table)
    build = all_queries()[key]
    _, jobs = _build_jobs(
        spark,
        lambda: build(spark, sf_dir).write.format("noop").mode("overwrite").save(),
    )
    assert jobs == DEDUP_CALL_JOBS[key]
