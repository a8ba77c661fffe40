"""TPC-H query shapes (adapted to the testdata star schema) — the
canonical decision-support suite a migrating analytics user expects
to run unchanged. Complements the llamadb-parity surface (q01-q46)
with the classic multi-join/filter/top-k patterns: Q3 shipping
priority, Q4 priority checking, Q6 revenue forecast, Q7 volume
shipping, Q10 returned items, Q14 promo effect.

Adaptations (testdata lacks some TPC-H columns): Q4's
commitdate<receiptdate becomes "shipped >30 days after order";
date windows use the generator's 1995-2001 span; nation/segment
literals use the synthetic domains.

Scale rules: filters sit directly on the parquet scans (pushdown —
the date/segment predicates prune row groups), dims broadcast,
facts join on their natural keys, every top-k orders by a rounded
deterministic key set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, lit

from llamadb_spark.session import read_table


_CUT = "1998-01-01"


# --- Q3: shipping priority — top unshipped-revenue orders ----------------
def h03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        read_table(spark, sf_dir, "customer")
        .filter(col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        col("o_orderdate") < lit(_CUT).cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        col("l_shipdate") > lit(_CUT).cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(col("l_extendedprice") * (1 - col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(col("revenue").desc(), col("o_orderdate"), col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


ORACLE_H03 = f"""
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{_CUT}'
  AND l_shipdate > TIMESTAMP '{_CUT}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


# --- Q4: order priority checking (EXISTS over late-shipped lines) --------
def h04_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


ORACLE_H04 = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- Q6: revenue-change forecast (pure pushdown filter + agg) ------------
def h06_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
            & (col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
            & (col("l_discount") >= 0.03)
            & (col("l_discount") <= 0.07)
            & (col("l_quantity") < 25)
        )
        .agg(
            F.round(F.sum(col("l_extendedprice") * col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(lit(1)).alias("n_items"),
        )
    )


ORACLE_H06 = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 25
"""


# --- Q7: volume shipping between two nations -----------------------------
def h07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(broadcast(nation), col("s_nationkey") == col("n_nationkey"))
        .select("s_suppkey", col("n_name").alias("supp_nation"))
    )
    cust = (
        read_table(spark, sf_dir, "customer")
        .join(broadcast(nation), col("c_nationkey") == col("n_nationkey"))
        .select("c_custkey", col("n_name").alias("cust_nation"))
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").alias("l_year"),
        (col("l_extendedprice") * (1 - col("l_discount"))).alias("volume"),
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        (col("supp_nation") == "NATION_1") & (col("cust_nation") == "NATION_2")
    ) | ((col("supp_nation") == "NATION_2") & (col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_H07 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# --- Q10: returned-item reporting (top-20 lossy customers) ---------------
def h10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(col("l_returnflag") == "R")
    orders = read_table(spark, sf_dir, "orders").filter(
        (col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        & (col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    )
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(col("l_extendedprice") * (1 - col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(col("revenue").desc(), col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


ORACLE_H10 = """
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       c_acctbal, n_name
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- Q14: promotion effect (conditional revenue ratio) -------------------
def h14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
        & (col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = col("l_extendedprice") * (1 - col("l_discount"))
    return li.join(broadcast(part), li.l_partkey == part.p_partkey).agg(
        F.round(
            100 * F.sum(F.when(col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            6,
        ).alias("promo_revenue_pct"),
        F.count(lit(1)).alias("n_items"),
    )


ORACLE_H14 = """
SELECT round(100 * sum(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount)
                            ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1997-07-01'
"""


# --- Q16: parts/supplier relationship (count distinct + NOT IN) ---------
def h16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier counts per (brand, size) for small parts,
    excluding distressed suppliers (negative balance) via NOT IN —
    the count-distinct-with-exclusion shape of TPC-H Q16 (complaint
    filter adapted to s_acctbal < 0).

    Scale: the exclusion list is tiny → broadcast anti join before
    counting; count(DISTINCT supplier) per group is one Expand pass."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        read_table(spark, sf_dir, "part")
        .filter(col("p_size") <= 10)
        .select("p_partkey", "p_brand", "p_size")
    )
    distressed = (
        read_table(spark, sf_dir, "supplier")
        .filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(broadcast(distressed), "l_suppkey", "left_anti")
        .join(broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc(), col("p_brand"), col("p_size"))
    )


ORACLE_H16 = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_size <= 10
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


# --- Q18: large-volume customers (agg-filtered IN on the fact) -----------
H18_QTY = 250


def h18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with any order above the quantity threshold — the
    TPC-H Q18 shape: an aggregate-HAVING subquery over the fact
    drives an IN filter, then the survivors re-join for reporting.

    Scale: the heavy work is one map-side-combined sum per orderkey;
    the HAVING survivors are few → broadcast semi join on orders,
    then dims broadcast for the report columns."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(col("sum_qty") > H18_QTY)
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(col("sum_qty").desc(), col("o_orderkey"))
    )


ORACLE_H18 = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS o_totalprice,
       sum_qty
FROM orders
JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING round(sum(l_quantity), 2) > {H18_QTY}) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY sum_qty DESC, o_orderkey
"""


# --- Q5: local supplier volume (customer and supplier co-national) -------
def h05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue from orders where the customer bought from a
    supplier in their own nation, per nation of one region and one
    order-year. Join graph: region→nation broadcast down into
    supplier; lineitem joins orders (fact-fact, shuffle on orderkey)
    then supplier+customer with the co-nationality equi-condition
    folded into the join — no post-filter, Catalyst prunes
    non-matching nations before the shuffle."""
    region = (
        read_table(spark, sf_dir, "region").filter(col("r_name") == "ASIA").select("r_regionkey")
    )
    nation = read_table(spark, sf_dir, "nation").join(
        broadcast(region), col("n_regionkey") == col("r_regionkey")
    ).select("n_nationkey", "n_name")
    supp = read_table(spark, sf_dir, "supplier").join(
        broadcast(nation), col("s_nationkey") == col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    orders = read_table(spark, sf_dir, "orders").filter(
        (col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        & (col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(col("l_extendedprice") * (1 - col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(col("revenue").desc())
    )


ORACLE_H05 = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC
"""


# --- Q9: product-type profit by nation and year --------------------------
def h09_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted: testdata has no partsupp.ps_supplycost, so
    profit uses 0.5 * p_retailprice * l_quantity as the supply-cost
    term (same amount expression shape: revenue minus quantity-scaled
    cost). Name filter keeps the mid-query dimension filter that Q9
    pushes into the part scan."""
    part = (
        read_table(spark, sf_dir, "part")
        .filter(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = read_table(spark, sf_dir, "lineitem")
    amount = col("l_extendedprice") * (1 - col("l_discount")) - lit(0.5) * col(
        "p_retailprice"
    ) * col("l_quantity")
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 4).alias("sum_profit"))
        .orderBy("nation", col("o_year").desc())
    )


ORACLE_H09 = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - 0.5 * p_retailprice * l_quantity), 4) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


# --- Q11: important stock (share-of-global-total HAVING) -----------------
def h11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted: no partsupp table, so "stock value" is each
    supplier's shipped value sum(l_extendedprice * l_quantity); the
    signature shape survives — a grouped aggregate filtered against a
    scalar fraction of the GLOBAL total (correlated HAVING over a
    one-row subquery, broadcast to the filter)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", (col("l_extendedprice") * col("l_quantity")).alias("_v")
    )
    sv = li.groupBy("l_suppkey").agg(F.sum("_v").alias("val"))
    total = sv.agg(F.sum("val").alias("_total"))
    return (
        sv.crossJoin(broadcast(total))
        .filter(col("val") > lit(0.011) * col("_total"))
        .select("l_suppkey", F.round("val", 4).alias("value"))
        .orderBy(col("value").desc())
    )


ORACLE_H11 = """
WITH sv AS (
  SELECT l_suppkey, sum(l_extendedprice * l_quantity) AS val
  FROM lineitem GROUP BY 1
)
SELECT l_suppkey, round(val, 4) AS value
FROM sv
WHERE val > (SELECT 0.011 * sum(val) FROM sv)
ORDER BY value DESC
"""


# --- Q12: shipping class vs order priority -------------------------------
def h12_ship_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted: no l_shipmode/l_commitdate/l_receiptdate;
    the mode dimension becomes a late/ontime shipping class (shipped
    more than 30 days after ordering) and the payload keeps Q12's
    high/low-priority conditional counts."""
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn(
            "ship_class",
            F.when(
                col("l_shipdate") > col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
                "late",
            ).otherwise("ontime"),
        )
        .groupBy("ship_class")
        .agg(
            F.count_if(high).alias("high_line_count"),
            F.count_if(~high).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


ORACLE_H12 = """
SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
            THEN 'late' ELSE 'ontime' END AS ship_class,
       count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH'))
         AS high_line_count,
       count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
         AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY 1
ORDER BY ship_class
"""


# --- Q19: discounted revenue (disjunctive brand/size/qty predicates) -----
def h19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 adapted (no p_container/l_shipmode in testdata): the
    signature OR-of-ANDs predicate across join columns. The p_size
    legs are pushed to the part scan as a single range filter
    (p_size ≤ 25 covers all three legs); the qty×brand disjunction
    evaluates post-join — the same split the reference plan makes."""
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    leg = lambda brand, size_hi, q_lo, q_hi: (  # noqa: E731
        (col("p_brand") == brand)
        & col("p_size").between(1, size_hi)
        & col("l_quantity").between(q_lo, q_hi)
    )
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .filter(
            leg("Brand#12", 15, 1, 20)
            | leg("Brand#23", 20, 10, 30)
            | leg("Brand#34", 25, 20, 40)
        )
        .agg(
            F.round(
                F.sum(col("l_extendedprice") * (1 - col("l_discount"))), 4
            ).alias("revenue")
        )
    )


ORACLE_H19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 20 AND 40)
"""


# --- Q20: potential part promotion (semi-join on an agg subquery) --------
def h20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted: partsupp.ps_availqty doesn't exist, so the
    inner threshold is on total shipped quantity of the name-matched
    parts in the window — same shape: supplier semi-join against a
    grouped-HAVING subquery over lineitem×part."""
    part = (
        read_table(spark, sf_dir, "part")
        .filter(col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        (col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        & (col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    )
    qualified = (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(col("qty") > 400)
        .select("l_suppkey")
    )
    supp = read_table(spark, sf_dir, "supplier")
    return (
        supp.join(broadcast(qualified), supp.s_suppkey == qualified.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


ORACLE_H20 = """
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 400)
ORDER BY s_name
"""


# --- Q21: suppliers who kept orders waiting ------------------------------
def h21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted (no receipt/commit dates): suppliers with a
    returned line (l_returnflag = 'R') in a finished multi-supplier
    order where NO other supplier's line was returned — the classic
    EXISTS + NOT-EXISTS double correlation. Spark formulation
    replaces both correlated subqueries with ONE per-order aggregate
    (distinct suppliers, distinct returned-suppliers) joined back:
    two corpus passes over lineitem total, no correlated re-scans per
    row; the oracle keeps the textbook EXISTS form, so the parity
    check proves the rewrite."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("nsupp"),
        F.countDistinct(
            F.when(col("l_returnflag") == "R", col("l_suppkey"))
        ).alias("nret"),
    )
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # Every qualifying l1 ROW counts (a supplier with two returned
    # lines in one order waits twice in the oracle's join) — no
    # row-collapsing distinct here.
    offenders = (
        li.filter(col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey, "left_semi")
        .select("l_orderkey", "l_suppkey")
        .join(
            per_order.filter((col("nsupp") > 1) & (col("nret") == 1)),
            "l_orderkey",
            "left_semi",
        )
    )
    return (
        offenders.join(broadcast(supp), offenders.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(lit(1)).alias("numwait"))
        .orderBy(col("numwait").desc(), "s_name")
        .limit(20)
    )


ORACLE_H21 = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


QUERIES = {
    "h03_shipping_priority": h03_shipping_priority,
    "h04_priority_checking": h04_priority_checking,
    "h06_revenue_forecast": h06_revenue_forecast,
    "h07_volume_shipping": h07_volume_shipping,
    "h10_returned_items": h10_returned_items,
    "h05_local_supplier_volume": h05_local_supplier_volume,
    "h09_product_type_profit": h09_product_type_profit,
    "h11_important_stock": h11_important_stock,
    "h12_ship_priority_class": h12_ship_priority_class,
    "h14_promo_effect": h14_promo_effect,
    "h16_supplier_counts": h16_supplier_counts,
    "h18_large_orders": h18_large_orders,
    "h19_discounted_revenue": h19_discounted_revenue,
    "h20_potential_promotion": h20_potential_promotion,
    "h21_waiting_suppliers": h21_waiting_suppliers,
}

ORACLES = {
    "h03_shipping_priority": ORACLE_H03,
    "h04_priority_checking": ORACLE_H04,
    "h06_revenue_forecast": ORACLE_H06,
    "h07_volume_shipping": ORACLE_H07,
    "h10_returned_items": ORACLE_H10,
    "h05_local_supplier_volume": ORACLE_H05,
    "h09_product_type_profit": ORACLE_H09,
    "h11_important_stock": ORACLE_H11,
    "h12_ship_priority_class": ORACLE_H12,
    "h14_promo_effect": ORACLE_H14,
    "h16_supplier_counts": ORACLE_H16,
    "h18_large_orders": ORACLE_H18,
    "h19_discounted_revenue": ORACLE_H19,
    "h20_potential_promotion": ORACLE_H20,
    "h21_waiting_suppliers": ORACLE_H21,
}
