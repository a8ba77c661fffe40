"""Surface-batch-3 tests: semi join / conditional agg / array HOFs /
CTE / correlated-min / market share — semantics spot-checks plus the
plan shapes that matter at scale (semi join physical op, broadcast
dims, no Python, pruned scans)."""

from __future__ import annotations

import pyspark.sql.functions as F

from llamadb_spark.queries import advanced
from llamadb_spark.session import read_table


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q39_semi_join_no_duplicates(spark, sf_dir):
    df = advanced.q39_semi_join(spark, sf_dir)
    # physical plan uses a semi join (EXISTS form), never inner+distinct
    assert "LeftSemi" in plan(df)
    rows = df.collect()
    keys = [r.c_custkey for r in rows]
    assert len(keys) == len(set(keys)) > 0


def test_q40_conditional_agg_one_scan(spark, sf_dir):
    df = advanced.q40_conditional_agg(spark, sf_dir)
    p = plan(df)
    # customer is broadcast; orders scanned exactly once (one metric
    # pass, not one scan per conditional metric)
    assert "BroadcastHashJoin" in p
    assert p.count("orders.parquet") == 1
    rows = {r.c_mktsegment: r for r in df.collect()}
    assert all(0 <= r.n_urgent <= r.n_orders for r in rows.values())
    assert all(abs(r.urgent_share - r.n_urgent / r.n_orders) < 1e-5 for r in rows.values())


def test_q41_array_hof_stays_codegen(spark, sf_dir):
    df = advanced.q41_array_hof(spark, sf_dir)
    p = plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    rows = df.collect()
    assert len(rows) == 100
    for r in rows:
        assert r.dim == 64 and 0 <= r.n_pos <= r.dim and r.l2_norm >= 0


def test_q42_cte_single_winner_has_max_revenue(spark, sf_dir):
    rows = advanced.q42_cte_top_supplier(spark, sf_dir).collect()
    assert len(rows) >= 1
    # winner's revenue equals the global per-supplier max
    li = read_table(spark, sf_dir, "lineitem")
    mx = (
        li.groupBy("l_suppkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"))
        .agg(F.round(F.max("r"), 2).alias("m"))
        .collect()[0]
        .m
    )
    assert all(abs(r.total_revenue - mx) < 1e-6 for r in rows)


def test_q43_min_cost_rows_are_per_part_minima(spark, sf_dir):
    df = advanced.q43_min_cost_supplier(spark, sf_dir).cache()
    try:
        assert "BroadcastHashJoin" in plan(df)
        # every returned price equals the min over returned rows of
        # that part (no sub-minimal row survives the equality join)
        bad = (
            df.groupBy("p_partkey")
            .agg(F.min("price").alias("mn"), F.max("price").alias("mx"))
            .filter(F.col("mn") != F.col("mx"))
            .count()
        )
        assert bad == 0 and df.count() > 0
    finally:
        df.unpersist()


def test_q44_market_share_bounded(spark, sf_dir):
    rows = advanced.q44_market_share(spark, sf_dir).collect()
    assert len(rows) >= 5  # one row per order year
    assert all(0.0 <= r.mkt_share <= 1.0 for r in rows)
    years = [r.o_year for r in rows]
    assert years == sorted(years)


def test_q45_unpivot_row_multiplication(spark, sf_dir):
    df = advanced.q45_unpivot(spark, sf_dir)
    rows = df.collect()
    prios = {r.o_orderpriority for r in rows}
    # 3 metric rows per priority, uniformly typed double values
    assert len(rows) == 3 * len(prios)
    assert {r.metric for r in rows} == {"n_orders", "sum_price", "avg_price"}
    assert all(isinstance(r.value, float) for r in rows)


def test_q46_scd2_intervals_chain(spark, sf_dir):
    import pyspark.sql.functions as FF

    df = advanced.q46_scd2_intervals(spark, sf_dir).cache()
    try:
        # exactly one open (current) interval per customer
        per_cust = df.groupBy("o_custkey").agg(
            FF.sum(FF.col("is_current").cast("int")).alias("n_open")
        )
        assert per_cust.filter(FF.col("n_open") != 1).count() == 0
        # intervals never invert
        assert df.filter(FF.col("valid_to") < FF.col("valid_from")).count() == 0
    finally:
        df.unpersist()


def test_q47_window_dist_bounds(spark, sf_dir):
    df = advanced.q47_window_dist(spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    assert all(0.0 <= r.pct_rank <= 1.0 and 0.0 < r.cume <= 1.0 for r in rows)
    # second_highest is constant within a nation and >= any lower balance
    import collections

    by_nation = collections.defaultdict(list)
    for r in rows:
        by_nation[r.s_nationkey].append(r)
    for grp in by_nation.values():
        if len(grp) >= 2:
            assert len({r.second_highest for r in grp}) == 1
            top2 = sorted((r.acctbal for r in grp), reverse=True)[1]
            assert abs(grp[0].second_highest - top2) < 1e-9


def test_e09_funnel_monotone(spark, sf_dir):
    from llamadb_spark.queries.events import e09_funnel

    row = e09_funnel(spark, sf_dir).collect()[0]
    assert row.n_signup >= row.n_view >= row.n_purchase >= 0
    assert 0.0 <= row.conversion <= 1.0


def test_q48_grouping_indicators(spark, sf_dir):
    rows = advanced.q48_grouping_id(spark, sf_dir).collect()
    # exactly one grand-total row, gid consistent with indicator bits
    grand = [r for r in rows if r.gid == 3]
    assert len(grand) == 1
    assert grand[0].o_orderstatus is None and grand[0].o_orderpriority is None
    for r in rows:
        assert r.gid == r.g_status * 2 + r.g_priority
    total = sum(r.n_orders for r in rows if r.gid == 0)
    assert total == grand[0].n_orders


def test_e10_retention_week_zero_covers_all_users(spark, sf_dir):
    from llamadb_spark.queries.events import _events, e10_retention

    rows = e10_retention(spark, sf_dir).collect()
    assert all(r.week_offset >= 0 for r in rows)
    n_users = _events(spark, sf_dir).select("user_id").distinct().count()
    week0 = sum(r.n_active for r in rows if r.week_offset == 0)
    assert week0 == n_users  # everyone is active in their cohort week


def test_q49_pagination_is_page_three(spark, sf_dir):
    # page = rows 41-60 of the global ordering
    import pyspark.sql.functions as F

    top60 = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy(F.col("price").desc(), F.col("o_orderkey"))
        .limit(60)
        .collect()
    )
    page = advanced.q49_pagination(spark, sf_dir).collect()
    assert [(r.o_orderkey, r.price) for r in page] == [
        (r.o_orderkey, r.price) for r in top60[40:60]
    ]


def test_q50_nulls_sort_first(spark, sf_dir):
    rows = advanced.q50_nulls_order(spark, sf_dir).collect()
    vals = [r.n_urgent for r in rows]
    # all NULLs precede all non-nulls; non-null prefix is ascending
    first_non_null = next((i for i, v in enumerate(vals) if v is not None), len(vals))
    assert all(v is None for v in vals[:first_non_null])
    tail = [v for v in vals[first_non_null:]]
    assert tail == sorted(tail)


def test_q51_string_agg_sorted_members(spark, sf_dir):
    rows = advanced.q51_string_agg(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        parts = r.segments.split(",")
        assert parts == sorted(parts) and len(parts) == r.n_segments


def test_q52_histogram_covers_all_orders(spark, sf_dir):
    rows = advanced.q52_histogram(spark, sf_dir).collect()
    n = read_table(spark, sf_dir, "orders").count()
    assert sum(r.n_orders for r in rows) == n
    for r in rows:
        assert r.bucket_start <= r.lo <= r.hi < r.bucket_start + 25_000
