"""SQL-surface completion, batch 3: semi joins, conditional
aggregation, array higher-order functions, CTEs, and the classic
TPC-H correlated/market-share shapes.

Reference grounding: llamadb's grammar (`/root/reference/src/
sqlsyntax/ast.rs:95-106`) stops at inner/left joins and its
`Usage.md` roadmap lists IN/EXISTS/CASE as future work — these
queries complete the relational surface a user migrating from the
reference would expect from a full engine, expressed Spark-first.

Scale rules applied throughout: aggregate before joining, broadcast
dimension tables, keep every expression JVM-side (codegen'd built-in
functions only), and make top-k/argmin deterministic so distributed
retries can't flip rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, lit

from llamadb_spark.session import read_table


# ---------------------------------------------------------------------------
# LEFT SEMI join: customers with at least one URGENT order. The
# semi join is the physical form of EXISTS/IN — it probes the hash
# table and emits the left row AT MOST once, so no post-join
# DISTINCT (and no duplicate-row blowup) is needed.
#
# Scale: the orders side is pre-projected to the single join key
# and pre-filtered, so the shuffle carries (o_custkey) only.
# Semi-join output is bounded by the customer side regardless of
# how many urgent orders a customer has — the right shape for a
# fan-out-heavy fact table.
# ---------------------------------------------------------------------------
def q39_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    urgent = (
        read_table(spark, sf_dir, "orders")
        .filter(col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


ORACLE_Q39 = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderpriority = '1-URGENT')
"""


# ---------------------------------------------------------------------------
# Conditional aggregation (FILTER-clause semantics): one pass over
# orders computing per-segment totals plus urgent-only slices.
# This is the "many metrics, one scan" OLAP shape — the alternative
# (one scan per metric, then join) multiplies I/O by metric count.
#
# Scale: customer is a dimension (150k rows/SF) — broadcast it, so
# the only shuffle is the final map-side-combined aggregation on
# 5 segments. sum(CASE WHEN) is codegen'd; no second scan.
# ---------------------------------------------------------------------------
def q40_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    urgent = col("o_orderpriority") == "1-URGENT"
    return (
        orders.join(broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(lit(1)).alias("n_orders"),
            F.sum(F.when(urgent, 1).otherwise(0)).alias("n_urgent"),
            F.round(F.sum(F.when(urgent, col("o_totalprice")).otherwise(0.0)), 4).alias(
                "urgent_revenue"
            ),
            F.round(
                F.sum(F.when(urgent, 1).otherwise(0)) / F.count(lit(1)), 6
            ).alias("urgent_share"),
        )
    )


ORACLE_Q40 = """
SELECT c_mktsegment,
       count(*) AS n_orders,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_urgent,
       round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN o_totalprice ELSE 0.0 END), 4) AS urgent_revenue,
       round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS urgent_share
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Array higher-order functions (transform / filter / aggregate) over
# the embedding column — the lambda-expression surface Spark runs
# entirely inside codegen (no UDF, no Arrow transfer). The same
# shapes DuckDB spells list_transform / list_filter / list_sum.
#
# Scale: per-row, no shuffle at all (narrow transformation); the
# whole query is a single scan -> project -> (tiny) sort. Floats are
# cast to double BEFORE any arithmetic in BOTH engines so the
# fold accumulates in f64 from the first element.
# ---------------------------------------------------------------------------
def q41_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    as_double = F.transform(col("embedding"), lambda x: x.cast("double"))
    return (
        emb.select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.size(F.filter(col("embedding"), lambda x: x > 0)).alias("n_pos"),
            F.round(
                F.sqrt(F.aggregate(as_double, lit(0.0), lambda a, x: a + x * x)), 4
            ).alias("l2_norm"),
            F.round(
                F.aggregate(as_double, lit(0.0), lambda a, x: a + x)
                / F.size("embedding"),
                6,
            ).alias("mean_val"),
        )
        .orderBy("vec_id")
        .limit(100)
    )


ORACLE_Q41 = """
SELECT vec_id,
       len(embedding) AS dim,
       len(list_filter(embedding, x -> x > 0)) AS n_pos,
       round(sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
             / len(embedding), 6) AS mean_val
FROM embeddings
ORDER BY vec_id
LIMIT 100
"""


# ---------------------------------------------------------------------------
# WITH / common table expressions, TPC-H Q15 shape: revenue per
# supplier as a CTE referenced twice (once for the ranking, once
# inside the scalar-max subquery). The SAME SQL text runs on Spark
# and DuckDB — this query exercises Spark's SQL parser surface, not
# the DataFrame API, mirroring how llamadb users submit queries
# (reference `src/sqlsyntax/parser.rs` is a SQL-text front end).
#
# Scale: Catalyst plans the CTE once and reuses the exchange; the
# scalar subquery is a broadcast of one row. Revenue is rounded only
# at presentation — the argmax compares unrounded doubles.
# ---------------------------------------------------------------------------
_Q42_SQL = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           sum(l_extendedprice * (1 - l_discount)) AS total_revenue
    FROM lineitem
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q42_cte_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("lineitem", "supplier"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q42_SQL)


ORACLE_Q42 = _Q42_SQL


# ---------------------------------------------------------------------------
# Correlated min subquery, TPC-H Q2 shape: for each small part, the
# supplier(s) charging the minimum price. Expressed decorrelated —
# per-part min as an aggregate, joined back on (partkey, price).
# The equality compares raw parquet doubles selected by min() (no
# arithmetic), so both engines pick identical rows.
#
# Scale: this is THE pattern for correlated aggregate subqueries on
# big facts — a per-key aggregate (map-side combined) joined back,
# instead of re-scanning the fact per outer row. part is a dim →
# broadcast; the min-join is an equi-join on (l_partkey, price).
# ---------------------------------------------------------------------------
def q43_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    part = read_table(spark, sf_dir, "part").filter(col("p_size") <= 5).select(
        "p_partkey", "p_name"
    )
    min_price = li.groupBy("l_partkey").agg(
        F.min("l_extendedprice").alias("min_price")
    ).withColumnRenamed("l_partkey", "mp_partkey")
    return (
        li.join(
            min_price,
            (li.l_partkey == min_price.mp_partkey)
            & (li.l_extendedprice == min_price.min_price),
        )
        .join(broadcast(part), col("l_partkey") == col("p_partkey"))
        .select("p_partkey", "p_name", "l_suppkey", col("min_price").alias("price"))
    )


ORACLE_Q43 = """
SELECT p_partkey, p_name, l_suppkey, l_extendedprice AS price
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 5
  AND l_extendedprice = (SELECT min(l_extendedprice)
                         FROM lineitem i
                         WHERE i.l_partkey = lineitem.l_partkey)
"""


# ---------------------------------------------------------------------------
# Market share, TPC-H Q8 shape: NATION_0's share of total revenue
# per order year. The numerator is a conditional sum inside the same
# aggregation as the denominator — one scan, one shuffle.
#
# Scale: lineitem→orders is the only big join (both sides shuffle on
# orderkey); customer→nation collapses to a broadcast dim. The
# grouped year count is tiny, so the final agg is negligible. The
# share divides two sums computed in the SAME engine, so rounding
# to 6 absorbs summation-order jitter.
# ---------------------------------------------------------------------------
def q44_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", (col("l_extendedprice") * (1 - col("l_discount"))).alias("rev")
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    cust_nation = (
        read_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            broadcast(read_table(spark, sf_dir, "nation")),
            col("c_nationkey") == col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    target = col("n_name") == "NATION_0"
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust_nation), orders.o_custkey == cust_nation.c_custkey)
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(target, col("rev")).otherwise(0.0)) / F.sum("rev"), 6
            ).alias("mkt_share"),
            F.round(F.sum("rev"), 2).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


ORACLE_Q44 = """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN n_name = 'NATION_0'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY o_year
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# UNPIVOT / melt (the inverse of q20's PIVOT): a wide per-priority
# metrics row turned long via `stack` — one row per (priority,
# metric). Metrics are all cast to double so the long column is
# uniformly typed.
#
# Scale: the unpivot is a zero-shuffle projection over an already-
# aggregated 5-row table; the only real work is the one map-side-
# combined aggregation producing the wide form.
# ---------------------------------------------------------------------------
def q45_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(lit(1)).cast("double").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
            F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
        )
    )
    return wide.select(
        col("o_orderpriority"),
        F.stack(
            lit(3),
            lit("n_orders"), col("n_orders"),
            lit("sum_price"), col("sum_price"),
            lit("avg_price"), col("avg_price"),
        ).alias("metric", "value"),
    )


ORACLE_Q45 = """
WITH wide AS (
  SELECT o_orderpriority,
         CAST(count(*) AS DOUBLE) AS n_orders,
         round(sum(o_totalprice), 4) AS sum_price,
         round(avg(o_totalprice), 6) AS avg_price
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM wide
UNION ALL
SELECT o_orderpriority, 'sum_price', sum_price FROM wide
UNION ALL
SELECT o_orderpriority, 'avg_price', avg_price FROM wide
"""


# ---------------------------------------------------------------------------
# SCD2 interval construction (CDC modeling): each customer's order
# history becomes validity intervals — valid_from = this order's
# date, valid_to = the next order's date (NULL on the current row).
# The lead() window is the whole trick: one shuffle on the business
# key, one in-partition sort, no self-join.
#
# Scale: this is how a 100 TB change log becomes a point-in-time
# dimension — per-key windows parallelize across keys; a hot key is
# a bounded in-partition sort, never a cross-partition problem.
# ---------------------------------------------------------------------------
def q46_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(w).alias("valid_to"),
            F.lead("o_orderdate").over(w).isNull().alias("is_current"),
        )
    )


ORACLE_Q46 = """
SELECT o_custkey, o_orderkey, o_totalprice,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER w AS valid_to,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ---------------------------------------------------------------------------
# Window-function family completion: percent_rank / cume_dist /
# nth_value — the distribution-rank trio q26 doesn't cover. Per
# nation, each supplier's account-balance percentile plus the
# nation's 2nd-highest balance alongside every row.
#
# Scale: one shuffle on the partition key, one in-partition sort
# shared by all four window expressions (same window spec → Catalyst
# evaluates them in a single Window physical node).
# ---------------------------------------------------------------------------
def q47_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("s_nationkey").orderBy(
        col("s_acctbal").desc(), col("s_suppkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return read_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.round("s_acctbal", 2).alias("acctbal"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.nth_value("s_acctbal", 2).over(wf), 2).alias("second_highest"),
    )


ORACLE_Q47 = """
SELECT s_suppkey, s_nationkey,
       round(s_acctbal, 2) AS acctbal,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       round(nth_value(s_acctbal, 2) OVER (PARTITION BY s_nationkey
             ORDER BY s_acctbal DESC, s_suppkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
             2) AS second_highest
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
"""


# ---------------------------------------------------------------------------
# GROUPING() / GROUPING_ID() indicators over CUBE — the part of the
# grouping-sets surface q19/q23 don't show: distinguishing "NULL
# because subtotal" from "NULL because data", and labeling each
# aggregation level. Consumers pivot on grouping_id to split grand
# totals / margins / cells without re-aggregating.
#
# Scale: same single-Expand CUBE plan as q23 — indicators are
# metadata bits carried by the Expand, zero extra cost.
# ---------------------------------------------------------------------------
def q48_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping_id().cast("int").alias("gid"),
            F.count(lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


ORACLE_Q48 = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS revenue
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


# ---------------------------------------------------------------------------
# Pagination: ORDER BY ... LIMIT k OFFSET n — the API-results shape.
# Spark executes limit+offset as a single TakeOrderedAndProject of
# the top (n+k) rows — no global sort materialization. The unique
# o_orderkey tiebreak makes page boundaries engine-stable.
# ---------------------------------------------------------------------------
def q49_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy(col("price").desc(), col("o_orderkey"))
        .offset(40)
        .limit(20)
    )


ORACLE_Q49 = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
FROM orders
ORDER BY price DESC, o_orderkey
LIMIT 20 OFFSET 40
"""


# ---------------------------------------------------------------------------
# Explicit NULLS FIRST ordering. Engines disagree on default null
# placement (Spark: nulls first on ASC; DuckDB: nulls last), so
# portable sorts must spell it out — this query documents and tests
# that dialect rule. Customers with no URGENT orders sort first
# (their left-join count is NULL).
# ---------------------------------------------------------------------------
def q50_nulls_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    urgent = (
        read_table(spark, sf_dir, "orders")
        .filter(col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(lit(1)).alias("n_urgent"))
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left")
        .select("c_custkey", "c_name", "n_urgent")
        .orderBy(col("n_urgent").asc_nulls_first(), col("c_custkey"))
        .limit(30)
    )


ORACLE_Q50 = """
SELECT c_custkey, c_name, n_urgent
FROM customer
LEFT JOIN (SELECT o_custkey, count(*) AS n_urgent
           FROM orders WHERE o_orderpriority = '1-URGENT'
           GROUP BY o_custkey) u ON c_custkey = o_custkey
ORDER BY n_urgent ASC NULLS FIRST, c_custkey
LIMIT 30
"""


# ---------------------------------------------------------------------------
# String aggregation (LISTAGG/STRING_AGG semantics): per nation, the
# sorted comma-joined set of market segments its customers span.
# Deterministic by construction: distinct -> sort -> join, so both
# engines emit byte-identical strings.
#
# Scale: the distinct collapses to (nation × segment) before any
# collect_list — the aggregated array is bounded by segment
# cardinality, never customer count.
# ---------------------------------------------------------------------------
def q51_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        read_table(spark, sf_dir, "customer")
        .select("c_nationkey", "c_mktsegment")
        .distinct()
    )
    return (
        pairs.groupBy("c_nationkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("c_mktsegment")), ","
            ).alias("segments"),
            F.count(lit(1)).alias("n_segments"),
        )
    )


ORACLE_Q51 = """
SELECT c_nationkey,
       string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
       count(*) AS n_segments
FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer)
GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# Fixed-width histogram (the OLAP viz primitive): bucket order
# totals by floor division — portable bucketing both engines compute
# identically on the raw doubles (no width_bucket dependency).
#
# Scale: one map-side-combined aggregation to (n_buckets) rows; the
# bucket expression is codegen'd scan-side.
# ---------------------------------------------------------------------------
HIST_WIDTH = 25_000


def q52_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    bucket = F.floor(col("o_totalprice") / HIST_WIDTH).cast("long")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .select(
            "bucket",
            (col("bucket") * HIST_WIDTH).cast("double").alias("bucket_start"),
            "n_orders",
            "lo",
            "hi",
        )
        .orderBy("bucket")
    )


ORACLE_Q52 = f"""
SELECT bucket,
       CAST(bucket * {HIST_WIDTH} AS DOUBLE) AS bucket_start,
       count(*) AS n_orders,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM (SELECT CAST(floor(o_totalprice / {HIST_WIDTH}) AS BIGINT) AS bucket,
             o_totalprice
      FROM orders)
GROUP BY bucket
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Ordered-set aggregates: mode + discrete percentile. Native mode()
# has IMPLEMENTATION-DEFINED tie-breaking in both engines (a
# frequency tie at sf0.001 produced different answers), so the mode
# is computed explicitly — count per (group, value), rank by
# (count desc, value asc) — making the tiebreak part of the
# contract. The discrete percentile uses percentile_approx at
# maximum accuracy, which degenerates to the EXACT lower-median —
# bit-identical to DuckDB's quantile_disc (unlike the interpolating
# percentile(), which q31 covers).
# ---------------------------------------------------------------------------
def q53_mode_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = read_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(lit(1)).alias("_n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        col("_n").desc(), col("l_quantity")
    )
    modes = (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(col("_rk") == 1)
        .select("l_returnflag", col("l_quantity").alias("mode_qty"))
    )
    disc = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 2147483647).alias(
            "p50_disc_price"
        )
    )
    return modes.join(disc, "l_returnflag").orderBy("l_returnflag")


ORACLE_Q53 = """
WITH counts AS (
  SELECT l_returnflag, l_quantity, count(*) AS n
  FROM lineitem GROUP BY 1, 2
),
modes AS (
  SELECT l_returnflag, l_quantity AS mode_qty,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY n DESC, l_quantity) AS rk
  FROM counts
)
SELECT m.l_returnflag, m.mode_qty,
       quantile_disc(l.l_extendedprice, 0.5) AS p50_disc_price
FROM lineitem l
JOIN modes m ON m.l_returnflag = l.l_returnflag AND m.rk = 1
GROUP BY m.l_returnflag, m.mode_qty
ORDER BY m.l_returnflag
"""


# ---------------------------------------------------------------------------
# 186: LATERAL correlated subquery in FROM — top-N-per-group written
# the way SQL users write it (vs q18's window-rank formulation).
# Spark resolves the correlation by rewriting to a window/join plan
# internally (DecorrelateInnerQuery), so the declarative form costs
# nothing over the hand-rolled one; the SQL text is identical on
# both engines.
# ---------------------------------------------------------------------------
_Q54_SQL = """
SELECT n.n_name, c.c_name, c.c_acctbal
FROM nation n,
LATERAL (SELECT c_name, c_acctbal FROM customer
         WHERE c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_name LIMIT 2) c
"""


def q54_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("nation", "customer"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q54_SQL)


ORACLE_Q54 = _Q54_SQL


QUERIES = {
    "q39_semi_join": q39_semi_join,
    "q40_conditional_agg": q40_conditional_agg,
    "q41_array_hof": q41_array_hof,
    "q42_cte_top_supplier": q42_cte_top_supplier,
    "q43_min_cost_supplier": q43_min_cost_supplier,
    "q44_market_share": q44_market_share,
    "q45_unpivot": q45_unpivot,
    "q46_scd2_intervals": q46_scd2_intervals,
    "q47_window_dist": q47_window_dist,
    "q48_grouping_id": q48_grouping_id,
    "q49_pagination": q49_pagination,
    "q50_nulls_order": q50_nulls_order,
    "q51_string_agg": q51_string_agg,
    "q52_histogram": q52_histogram,
    "q53_mode_disc": q53_mode_disc,
    "q54_lateral_topk": q54_lateral_topk,
}

ORACLES = {
    "q39_semi_join": ORACLE_Q39,
    "q40_conditional_agg": ORACLE_Q40,
    "q41_array_hof": ORACLE_Q41,
    "q42_cte_top_supplier": ORACLE_Q42,
    "q43_min_cost_supplier": ORACLE_Q43,
    "q44_market_share": ORACLE_Q44,
    "q45_unpivot": ORACLE_Q45,
    "q46_scd2_intervals": ORACLE_Q46,
    "q47_window_dist": ORACLE_Q47,
    "q48_grouping_id": ORACLE_Q48,
    "q49_pagination": ORACLE_Q49,
    "q50_nulls_order": ORACLE_Q50,
    "q51_string_agg": ORACLE_Q51,
    "q52_histogram": ORACLE_Q52,
    "q53_mode_disc": ORACLE_Q53,
    "q54_lateral_topk": ORACLE_Q54,
}
