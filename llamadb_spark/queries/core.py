"""Core SQL surface: llamadb parity queries (SURVEY.md §2 #1-28).

Each query re-expresses a capability of the reference engine
(`/root/reference/src/sqlsyntax/ast.rs`, `src/queryplan/mod.rs`) as a
declarative DataFrame plan so Catalyst/Tungsten pick the physical
strategy — predicate pushdown to the parquet scan, broadcast joins
for dims, map-side partial aggregation, TakeOrderedAndProject for
top-k.

Float determinism: AGGREGATE outputs are rounded (2dp for money
sums, 6dp for averages/ratios) in BOTH the Spark plan and the DuckDB
oracle so order-of-summation ULP differences cannot flip the
driver's value hash. PROJECTION-level float expressions are left
unrounded: both engines execute the identical IEEE-754 op sequence,
so results are bit-identical — whereas round() itself differs at
half-ulp boundaries (Spark BigDecimal HALF_UP vs DuckDB x*100
rounding: 1222.745 → 1222.75 vs 1222.74).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, lit

from llamadb_spark.session import load_tables, read_table


# ---------------------------------------------------------------------------
# 1/2/4: scan + filter + projection with comparison and boolean ops
# (llamadb: scan -> if -> yield, queryplan/mod.rs; ops ast.rs:7-23)
# ---------------------------------------------------------------------------
def q02_filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.filter(
        ((col("l_quantity") > 45) | (col("l_quantity") < 2))
        & (col("l_discount") < 0.05)
        & (col("l_returnflag") == "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


ORACLE_Q02 = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE (l_quantity > 45 OR l_quantity < 2)
  AND l_discount < 0.05 AND l_returnflag = 'R'
"""


# ---------------------------------------------------------------------------
# 10/11: GROUP BY + count/sum/avg aggregates (execute/aggregate.rs)
# TPC-H Q1-shaped pricing summary. Map-side partial agg + single
# shuffle on the (low-cardinality) grouping key.
# ---------------------------------------------------------------------------
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(col("l_extendedprice") * (1 - col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    col("l_extendedprice") * (1 - col("l_discount")) * (1 + col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(lit(1)).alias("count_order"),
        )
    )


ORACLE_Q01 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                         AS sum_qty,
       round(sum(l_extendedprice), 2)                                    AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                 AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)   AS sum_charge,
       round(avg(l_quantity), 6)                                         AS avg_qty,
       round(avg(l_extendedprice), 6)                                    AS avg_price,
       round(avg(l_discount), 6)                                         AS avg_disc,
       count(*)                                                          AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# 7: llamadb-style join: FROM a, b WHERE a.k = b.k (Usage.md SELECT
# example; llamadb has no JOIN keyword in early surface). Expressed
# as crossJoin + filter — Catalyst rewrites to an equi hash join.
# ---------------------------------------------------------------------------
def q03_cross_join_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        nation.crossJoin(broadcast(region))
        .filter(col("n_regionkey") == col("r_regionkey"))
        .select("n_name", "r_name")
    )


ORACLE_Q03 = """
SELECT n_name, r_name FROM nation, region WHERE n_regionkey = r_regionkey
"""


# ---------------------------------------------------------------------------
# 8: INNER JOIN ... ON (ast.rs:95-106). customer is a dim vs orders:
# broadcast it (scale note: at 100 TB customer is ~15 GB — then AQE
# picks sort-merge; the hint stays correct for the dim-sized case).
# ---------------------------------------------------------------------------
def q04_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").filter(col("c_mktsegment") == "BUILDING")
    return orders.join(broadcast(customer), col("o_custkey") == col("c_custkey")).select(
        "o_orderkey", "o_totalprice", "c_name"
    )


ORACLE_Q04 = """
SELECT o_orderkey, o_totalprice, c_name
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
"""


# ---------------------------------------------------------------------------
# 9/28: LEFT OUTER JOIN + null-skipping count (aggregate.rs:15-19:
# count feeds only non-null). Customers with no big orders keep
# n_big_orders = 0.
# ---------------------------------------------------------------------------
def q05_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    big = read_table(spark, sf_dir, "orders").filter(col("o_totalprice") > 300000)
    return (
        customer.join(big, col("c_custkey") == col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
    )


ORACLE_Q05 = """
SELECT c_custkey, c_name, count(o_orderkey) AS n_big_orders
FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
  ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


# ---------------------------------------------------------------------------
# 17: correlated scalar subquery — the Usage.md flagship example
# (SELECT (SELECT genre.name ...) genre, count(*), avg(...) FROM
# track GROUP BY genreid). Spark-first: the correlated lookup is a
# broadcast join against the dim, then groupBy. The oracle keeps the
# literal correlated-subquery form to prove semantic parity.
# ---------------------------------------------------------------------------
def q06_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        customer.groupBy("c_nationkey")
        .agg(
            F.count(lit(1)).alias("num_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
        )
        .join(broadcast(nation), col("c_nationkey") == col("n_nationkey"), "left")
        .select(
            col("n_name").alias("nation_name"),
            "num_customers",
            "avg_bal",
        )
    )


ORACLE_Q06 = """
SELECT (SELECT n_name FROM nation WHERE n_nationkey = c_nationkey) AS nation_name,
       count(*) AS num_customers,
       round(avg(c_acctbal), 6) AS avg_bal
FROM customer
GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# 16: uncorrelated scalar subquery (ast.rs:46). Spark-first: the
# 1-row aggregate is broadcast-cross-joined (never collected to the
# driver — works identically on a cluster).
# ---------------------------------------------------------------------------
def q07_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    avg_price = part.agg(F.avg("p_retailprice").alias("_avg_price"))
    return (
        part.crossJoin(broadcast(avg_price))
        .filter(col("p_retailprice") > col("_avg_price"))
        .select("p_partkey", "p_name", "p_retailprice")
    )


ORACLE_Q07 = """
SELECT p_partkey, p_name, p_retailprice
FROM part
WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
"""


# ---------------------------------------------------------------------------
# 12: HAVING (ast.rs:82) — post-aggregation filter.
# ---------------------------------------------------------------------------
def q08_group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        )
        .filter(col("order_count") > 12)
    )


ORACLE_Q08 = """
SELECT o_custkey, count(*) AS order_count, round(sum(o_totalprice), 2) AS total_spent
FROM orders
GROUP BY o_custkey
HAVING count(*) > 12
"""


# ---------------------------------------------------------------------------
# 13/14: ORDER BY + LIMIT. Unique tiebreak (o_orderkey) makes the
# top-k deterministic. Spark physical plan: TakeOrderedAndProject —
# per-partition heap + driver merge, no global sort (the 100 TB-safe
# top-k).
# ---------------------------------------------------------------------------
def q09_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc(), col("o_orderkey"))
        .limit(25)
    )


ORACLE_Q09 = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
"""


# ---------------------------------------------------------------------------
# 15: DISTINCT — hash-distinct (shuffle on the full row key).
# ---------------------------------------------------------------------------
def q10_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    return customer.select("c_mktsegment", "c_nationkey").distinct()


ORACLE_Q10 = """
SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
"""


# ---------------------------------------------------------------------------
# 3/5/6: expression surface — arithmetic, unary negate, string
# concatenation (||), BitAnd/BitOr (ast.rs:2-23). All stay inside
# whole-stage codegen (no UDFs).
# ---------------------------------------------------------------------------
def q11_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.filter(col("l_orderkey") < 100).select(
        "l_orderkey",
        "l_linenumber",
        (col("l_extendedprice") * (1 - col("l_discount"))).alias("net_price"),
        (-col("l_quantity")).alias("neg_qty"),
        F.concat(col("l_returnflag"), lit("/"), col("l_linestatus")).alias("flags"),
        col("l_orderkey").bitwiseAND(lit(255)).alias("key_band"),
        col("l_linenumber").bitwiseOR(lit(8)).alias("ln_or"),
    )


ORACLE_Q11 = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price,
       -l_quantity AS neg_qty,
       l_returnflag || '/' || l_linestatus AS flags,
       l_orderkey & 255 AS key_band,
       l_linenumber | 8 AS ln_or
FROM lineitem WHERE l_orderkey < 100
"""


# ---------------------------------------------------------------------------
# 19: IN (subquery) — Spark-first: LEFT SEMI join (the distributed
# rewrite Catalyst itself uses for IN-subqueries).
# ---------------------------------------------------------------------------
def q12_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    asia_nations = (
        read_table(spark, sf_dir, "nation").filter(col("n_regionkey") == 2).select("n_nationkey")
    )
    return customer.join(
        broadcast(asia_nations), col("c_nationkey") == col("n_nationkey"), "left_semi"
    ).select("c_custkey", "c_name", "c_nationkey")


ORACLE_Q12 = """
SELECT c_custkey, c_name, c_nationkey
FROM customer
WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
"""


# ---------------------------------------------------------------------------
# 20: EXISTS (correlated) — LEFT SEMI join on the correlation key.
# ---------------------------------------------------------------------------
def q13_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = read_table(spark, sf_dir, "supplier")
    hot = read_table(spark, sf_dir, "lineitem").filter(col("l_quantity") > 49.5).select("l_suppkey")
    return supplier.join(hot, col("s_suppkey") == col("l_suppkey"), "left_semi").select(
        "s_suppkey", "s_name", "s_acctbal"
    )


ORACLE_Q13 = """
SELECT s_suppkey, s_name, s_acctbal
FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity > 49.5)
"""


# ---------------------------------------------------------------------------
# 21: CASE expression (Usage.md roadmap) — F.when chain, codegen'd.
# ---------------------------------------------------------------------------
def q14_case_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    price_class = (
        F.when(col("o_totalprice") > 300000, "large")
        .when(col("o_totalprice") > 150000, "medium")
        .otherwise("small")
    )
    return (
        orders.select(price_class.alias("price_class"), "o_orderstatus")
        .groupBy("price_class", "o_orderstatus")
        .agg(F.count(lit(1)).alias("n_orders"))
    )


ORACLE_Q14 = """
SELECT CASE WHEN o_totalprice > 300000 THEN 'large'
            WHEN o_totalprice > 150000 THEN 'medium'
            ELSE 'small' END AS price_class,
       o_orderstatus,
       count(*) AS n_orders
FROM orders
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# 10: min/max aggregates incl. timestamps + count(distinct)
# (aggregate.rs:70-114 Min/Max via ColumnValue compare).
# ---------------------------------------------------------------------------
def q15_agg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


ORACLE_Q15 = """
SELECT l_returnflag,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty,
       min(l_shipdate) AS first_ship,
       max(l_shipdate) AS last_ship,
       count(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# 18/23: flagship — multi-way join + agg (TPC-H Q5 shape): region ->
# nation -> customer -> orders -> lineitem -> supplier with the
# c_nationkey = s_nationkey locality constraint. Dims broadcast;
# the orders⋈lineitem join shuffles on orderkey (AQE handles skew at
# scale). FROM-subquery (#18) is the filtered orders relation.
# ---------------------------------------------------------------------------
def q16_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = read_table(spark, sf_dir, "region").filter(col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders").filter(
        (col("o_orderdate") >= lit("1996-01-01")) & (col("o_orderdate") < lit("1998-01-01"))
    )
    lineitem = read_table(spark, sf_dir, "lineitem")

    asia_nation = nation.join(
        broadcast(region), col("n_regionkey") == col("r_regionkey")
    ).select("n_nationkey", "n_name")

    return (
        customer.join(broadcast(asia_nation), col("c_nationkey") == col("n_nationkey"))
        .join(orders, col("c_custkey") == col("o_custkey"))
        .join(lineitem, col("o_orderkey") == col("l_orderkey"))
        .join(
            broadcast(supplier),
            (col("l_suppkey") == col("s_suppkey"))
            & (col("s_nationkey") == col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(col("l_extendedprice") * (1 - col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(lit(1)).alias("n_items"),
        )
    )


ORACLE_Q16 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM customer,
     (SELECT * FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01') o,
     lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND s_nationkey = c_nationkey
  AND c_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# 22: UNION ALL.
# ---------------------------------------------------------------------------
def q17_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    c = customer.filter(col("c_acctbal") > 9900).select(
        col("c_name").alias("name"), lit("customer").alias("kind"),
        col("c_acctbal").alias("acctbal"),
    )
    s = supplier.filter(col("s_acctbal") > 9000).select(
        col("s_name").alias("name"), lit("supplier").alias("kind"),
        col("s_acctbal").alias("acctbal"),
    )
    return c.unionAll(s)


ORACLE_Q17 = """
SELECT c_name AS name, 'customer' AS kind, c_acctbal AS acctbal
FROM customer WHERE c_acctbal > 9900
UNION ALL
SELECT s_name AS name, 'supplier' AS kind, s_acctbal AS acctbal
FROM supplier WHERE s_acctbal > 9000
"""


# ---------------------------------------------------------------------------
# 24: window functions — per-customer top-3 orders by price
# (row_number with unique tiebreak → deterministic).
# ---------------------------------------------------------------------------
def q18_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        col("o_totalprice").desc(), col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(col("rn") <= 3)
    )


ORACLE_Q18 = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) t
WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: two-level aggregation over a left join — the
# distribution of customers by order count (zero-order customers
# included via the outer join).
# ---------------------------------------------------------------------------
def q21_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        customer.join(orders, col("c_custkey") == col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_count"))
    )
    return per_cust.groupBy("order_count").agg(F.count(lit(1)).alias("n_customers"))


ORACLE_Q21 = """
SELECT order_count, count(*) AS n_customers
FROM (
  SELECT c_custkey, count(o_orderkey) AS order_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) t
GROUP BY order_count
"""


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: anti join — customers above the average account
# balance with no urgent-priority order. Spark plans `left_anti` as a
# broadcast/shuffled hash anti-join (no row-multiplication); the
# scalar average broadcasts as a one-row subquery result, and the
# priority filter is pushed to the orders parquet scan.
# ---------------------------------------------------------------------------
def q22_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    urgent = (
        read_table(spark, sf_dir, "orders")
        .filter(col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = customer.filter(col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    rich = customer.join(broadcast(avg_bal)).filter(col("c_acctbal") > col("ab"))
    no_urgent = rich.join(urgent, col("c_custkey") == col("o_custkey"), "left_anti")
    return (
        no_urgent.groupBy("c_nationkey")
        .agg(
            F.count(lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


ORACLE_Q22 = """
SELECT c_nationkey, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# CUBE grouping sets: all 2^2 subtotal combinations over
# (returnflag, linestatus) in ONE pass — Spark expands grouping sets
# map-side, so the input is scanned once (vs 4 unioned GROUP BYs).
# ---------------------------------------------------------------------------
def q23_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(col("l_shipdate") <= lit("1998-09-02"))
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(lit(1)).alias("n_rows"),
        )
    )


ORACLE_Q23 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: correlated AGGREGATE subquery in WHERE — revenue
# from small-quantity orders of one brand's parts, where "small" is
# per-part (below 50% of that part's average quantity). Spark-first
# form: the correlated subquery decorrelates into a per-key aggregate
# joined back on the key — lineitem is scanned twice but shuffled
# once per side on l_partkey, and the brand filter broadcast-prunes
# both sides before the shuffle.
# ---------------------------------------------------------------------------
def q24_corr_agg_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").filter(col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    branded = li.join(broadcast(part), col("l_partkey") == col("p_partkey")).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_qty = branded.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    return (
        branded.join(avg_qty, "l_partkey")
        .filter(col("l_quantity") < col("half_avg"))
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("small_qty_revenue"),
            F.count(lit(1)).alias("n_small"),
        )
    )


ORACLE_Q24 = """
SELECT round(sum(l_extendedprice), 2) AS small_qty_revenue,
       count(*) AS n_small
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT 0.5 * avg(l2.l_quantity)
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""


# ---------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT (distinct set semantics, like
# the SQL keywords). Spark plans both as aggregated semi/anti joins —
# one shuffle on the compared row, no row multiplication.
# ---------------------------------------------------------------------------
def q25_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = (
        read_table(spark, sf_dir, "customer")
        .filter(col("c_acctbal") > 9000)
        .select(col("c_nationkey").alias("nationkey"))
    )
    sn = (
        read_table(spark, sf_dir, "supplier")
        .filter(col("s_acctbal") > 9000)
        .select(col("s_nationkey").alias("nationkey"))
    )
    both = cn.intersect(sn).select(lit("both").alias("side"), "nationkey")
    c_only = cn.subtract(sn).select(lit("customer_only").alias("side"), "nationkey")
    return both.unionAll(c_only)


ORACLE_Q25 = """
SELECT 'both' AS side, nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
  INTERSECT
  SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000)
UNION ALL
SELECT 'customer_only' AS side, nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
  EXCEPT
  SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000)
"""


# ---------------------------------------------------------------------------
# Window function suite beyond rank: ntile quartiles, lag deltas,
# running first_value, dense_rank over banded values. One window
# partitioning (o_custkey) shared by all four — Spark evaluates them
# in a single Window exec over one shuffle+sort. Tiebreak on
# o_orderkey keeps ntile/lag deterministic; dense_rank orders by the
# coarse price band only (ties collapse to one rank, deterministic
# by construction).
# ---------------------------------------------------------------------------
def q26_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"), col("o_orderkey"))
    wb = Window.partitionBy("o_custkey").orderBy(F.floor(col("o_totalprice") / 50000))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.first("o_totalprice").over(w).alias("cheapest"),
        F.dense_rank().over(wb).cast("long").alias("band_rank"),
    )


ORACLE_Q26 = """
SELECT o_custkey, o_orderkey, o_totalprice,
       ntile(4) OVER w AS quartile,
       lag(o_totalprice, 1) OVER w AS prev_price,
       first_value(o_totalprice) OVER w AS cheapest,
       dense_rank() OVER (PARTITION BY o_custkey
                          ORDER BY floor(o_totalprice / 50000)) AS band_rank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
"""


# ---------------------------------------------------------------------------
# Date/time functions: calendar extraction + date_trunc bucketing —
# the time-rollup shape every fact table gets. Grouping on derived
# calendar keys still gets map-side partial agg.
# ---------------------------------------------------------------------------
def q27_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.quarter("o_orderdate").cast("long").alias("o_quarter"),
            F.month("o_orderdate").cast("long").alias("o_month"),
            F.date_trunc("month", col("o_orderdate")).alias("month_start"),
            "o_totalprice",
        )
        .groupBy("o_year", "o_quarter", "o_month", "month_start")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(lit(1)).alias("n_orders"),
        )
    )


ORACLE_Q27 = """
SELECT year(o_orderdate) AS o_year,
       quarter(o_orderdate) AS o_quarter,
       month(o_orderdate) AS o_month,
       date_trunc('month', o_orderdate) AS month_start,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders
GROUP BY 1, 2, 3, 4
"""


# ---------------------------------------------------------------------------
# String function surface: upper/lower/substr/length/replace/lpad/
# reverse/trim — all codegen'd JVM built-ins (no UDFs), evaluated in
# the scan's projection.
# ---------------------------------------------------------------------------
def q28_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").filter(col("p_partkey") <= 500)
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.regexp_replace(col("p_type"), " ", "_").alias("type_slug"),
        F.lpad(col("p_partkey").cast("string"), 8, "0").alias("key_pad"),
        F.reverse(col("p_brand")).alias("brand_rev"),
        F.trim(F.concat(lit("  "), col("p_brand"), lit("  "))).alias("brand_trim"),
    )


ORACLE_Q28 = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       substr(p_name, 1, 8) AS name_prefix,
       length(p_name) AS name_len,
       replace(p_type, ' ', '_') AS type_slug,
       lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_pad,
       reverse(p_brand) AS brand_rev,
       trim('  ' || p_brand || '  ') AS brand_trim
FROM part WHERE p_partkey <= 500
"""


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (the general form behind ROLLUP/CUBE):
# (status, priority), (status), and grand total in ONE scan — Spark's
# Expand operator replicates rows map-side, so the input is read once
# instead of 3 unioned GROUP BYs.
# ---------------------------------------------------------------------------
def q29_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("llamadb_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM llamadb_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


ORACLE_Q29 = """
SELECT o_orderstatus, o_orderpriority,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


# ---------------------------------------------------------------------------
# NULL-handling surface: COALESCE / NULLIF / null-safe equality
# (<=> / IS NOT DISTINCT FROM) over outer-join-produced nulls —
# llamadb's opt-in NULL semantics (Usage.md NULL section) exercised
# end-to-end.
# ---------------------------------------------------------------------------
def q30_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    spent = (
        read_table(spark, sf_dir, "orders")
        .filter(col("o_totalprice") > 300000)
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("spent"))
    )
    joined = customer.join(spent, col("c_custkey") == col("o_custkey"), "left")
    return joined.select(
        "c_custkey",
        F.coalesce(F.round(col("spent"), 2), lit(0.0)).alias("big_spent"),
        F.nullif(col("c_mktsegment"), lit("BUILDING")).alias("seg_or_null"),
        col("spent").eqNullSafe(lit(None).cast("double")).alias("no_big_orders"),
    )


ORACLE_Q30 = """
SELECT c_custkey,
       coalesce(round(spent, 2), 0.0) AS big_spent,
       nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
       (spent IS NOT DISTINCT FROM NULL) AS no_big_orders
FROM customer LEFT JOIN (
  SELECT o_custkey, sum(o_totalprice) AS spent
  FROM orders WHERE o_totalprice > 300000 GROUP BY 1
) o ON c_custkey = o_custkey
"""


QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_filter_scan": q02_filter_scan,
    "q03_cross_join_where": q03_cross_join_where,
    "q04_inner_join": q04_inner_join,
    "q05_left_join": q05_left_join,
    "q06_correlated_subquery": q06_correlated_subquery,
    "q07_scalar_subquery": q07_scalar_subquery,
    "q08_group_having": q08_group_having,
    "q09_order_limit": q09_order_limit,
    "q10_distinct": q10_distinct,
    "q11_expressions": q11_expressions,
    "q12_in_subquery": q12_in_subquery,
    "q13_exists": q13_exists,
    "q14_case_expr": q14_case_expr,
    "q15_agg_minmax": q15_agg_minmax,
    "q16_revenue_by_nation": q16_revenue_by_nation,
    "q17_union_all": q17_union_all,
    "q18_window_rank": q18_window_rank,
    "q21_order_count_dist": q21_order_count_dist,
    "q22_anti_join": q22_anti_join,
    "q23_cube": q23_cube,
    "q24_corr_agg_subquery": q24_corr_agg_subquery,
    "q25_set_ops": q25_set_ops,
    "q26_window_suite": q26_window_suite,
    "q27_date_parts": q27_date_parts,
    "q28_string_funcs": q28_string_funcs,
    "q29_grouping_sets": q29_grouping_sets,
    "q30_null_handling": q30_null_handling,
}

ORACLES = {
    "q01_pricing_summary": ORACLE_Q01,
    "q02_filter_scan": ORACLE_Q02,
    "q03_cross_join_where": ORACLE_Q03,
    "q04_inner_join": ORACLE_Q04,
    "q05_left_join": ORACLE_Q05,
    "q06_correlated_subquery": ORACLE_Q06,
    "q07_scalar_subquery": ORACLE_Q07,
    "q08_group_having": ORACLE_Q08,
    "q09_order_limit": ORACLE_Q09,
    "q10_distinct": ORACLE_Q10,
    "q11_expressions": ORACLE_Q11,
    "q12_in_subquery": ORACLE_Q12,
    "q13_exists": ORACLE_Q13,
    "q14_case_expr": ORACLE_Q14,
    "q15_agg_minmax": ORACLE_Q15,
    "q16_revenue_by_nation": ORACLE_Q16,
    "q17_union_all": ORACLE_Q17,
    "q18_window_rank": ORACLE_Q18,
    "q21_order_count_dist": ORACLE_Q21,
    "q22_anti_join": ORACLE_Q22,
    "q23_cube": ORACLE_Q23,
    "q24_corr_agg_subquery": ORACLE_Q24,
    "q25_set_ops": ORACLE_Q25,
    "q26_window_suite": ORACLE_Q26,
    "q27_date_parts": ORACLE_Q27,
    "q28_string_funcs": ORACLE_Q28,
    "q29_grouping_sets": ORACLE_Q29,
    "q30_null_handling": ORACLE_Q30,
}
