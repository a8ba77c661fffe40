"""Core SQL surface tests: semantics spot-checks + plan-shape
assertions (the scale contract: pushdown, broadcast, top-k)."""

from __future__ import annotations

import pyspark.sql.functions as F

from llamadb_spark.queries import core


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q01_group_keys(spark, sf_dir):
    rows = core.q01_pricing_summary(spark, sf_dir).collect()
    keys = {(r.l_returnflag, r.l_linestatus) for r in rows}
    assert len(rows) == len(keys) > 0
    for r in rows:
        assert r.count_order > 0 and r.sum_qty > 0


def test_q02_pushdown_reaches_scan(spark, sf_dir):
    p = plan(core.q02_filter_scan(spark, sf_dir))
    assert "PushedFilters:" in p and "l_returnflag" in p.split("PushedFilters:")[1].split("\n")[0]
    # column pruning: only the 6 referenced columns in ReadSchema
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "l_shipdate" not in read_schema


def test_q04_broadcasts_dim(spark, sf_dir):
    p = plan(core.q04_inner_join(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_q05_left_join_keeps_all_customers(spark, sf_dir):
    df = core.q05_left_join(spark, sf_dir)
    n_customers = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert df.count() == n_customers
    assert df.filter(F.col("n_big_orders") == 0).count() > 0  # nulls counted as 0


def test_q09_uses_takeordered(spark, sf_dir):
    df = core.q09_order_limit(spark, sf_dir)
    assert "TakeOrderedAndProject" in plan(df)
    prices = [r.o_totalprice for r in df.collect()]
    assert prices == sorted(prices, reverse=True)


def test_q16_flagship_shape(spark, sf_dir):
    df = core.q16_revenue_by_nation(spark, sf_dir)
    p = plan(df)
    assert "BroadcastHashJoin" in p  # dims broadcast, not shuffled
    rows = df.collect()
    assert all(r.revenue > 0 for r in rows)


def test_q18_rank_bounded(spark, sf_dir):
    rows = core.q18_window_rank(spark, sf_dir).collect()
    per_cust = {}
    for r in rows:
        per_cust.setdefault(r.o_custkey, []).append(r.rn)
    for rns in per_cust.values():
        assert sorted(rns) == list(range(1, len(rns) + 1)) and len(rns) <= 3


def test_q22_anti_join_plan(spark, sf_dir):
    df = core.q22_anti_join(spark, sf_dir)
    p = plan(df)
    # anti join stays a hash anti-join (no row multiplication) and the
    # priority filter reaches the orders parquet scan
    assert "LeftAnti" in p
    assert "o_orderpriority" in p.split("PushedFilters:", 2)[-1].split("\n")[0] or (
        "1-URGENT" in p
    )
    assert df.count() > 0


def test_q23_cube_single_pass(spark, sf_dir):
    df = core.q23_cube(spark, sf_dir)
    # grouping sets expand in one scan: exactly one Expand, one scan
    p = plan(df)
    assert p.count("InMemoryFileIndex") == 1 and "Expand" in p
    rows = df.collect()
    # grand total row present and equals the sum of the leaf rows
    total = [r for r in rows if r.l_returnflag is None and r.l_linestatus is None]
    leaves = [r for r in rows if r.l_returnflag is not None and r.l_linestatus is not None]
    assert len(total) == 1
    assert total[0].n_rows == sum(r.n_rows for r in leaves)


def test_stage_metrics_ride_the_checkpoint_job(spark, sf_dir):
    """Metrics observed by ``stage`` must equal the independently
    computed aggregates WITHOUT a second pass over the data (one job:
    the metrics ride the checkpoint job that materializes the rows)."""
    import uuid

    from llamadb_spark.session import stage

    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 1000)
        .select("o_orderkey", "o_totalprice")
    )
    sc = spark.sparkContext
    group = f"stage-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        staged, m = stage(
            df.select("*", F.col("o_totalprice").alias("_p")),
            F.round(F.sum("_p"), 2).alias("total"),
            names=df.columns,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    rows = staged.collect()
    assert staged.columns == ["o_orderkey", "o_totalprice"]
    assert m["n"] == len(rows)
    assert m["total"] == round(sum(r.o_totalprice for r in rows), 2)
    assert m["n"] > 0
