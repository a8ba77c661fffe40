"""SQL-surface completion, batch 5: RIGHT OUTER JOIN, QUALIFY-shape
window filtering, VALUES inline tables, date interval arithmetic,
multi-aggregate PIVOT, and bounded ROWS window frames.

Reference grounding: llamadb's lexer reserves RIGHT
(`/root/reference/src/sqlsyntax/lexer.rs:95`) but its join grammar
(`src/sqlsyntax/ast.rs:95-106`) implements Inner and Left only, and
VALUES (`lexer.rs:99`) is consumed solely by INSERT
(`ast.rs:120-131`) — never as a queryable inline table. These keys
complete that reserved-but-unimplemented surface the same way the
dialect completed UPDATE/DELETE/INDEX/constraints.

Scale rules: dimensions broadcast, facts pre-projected before the
shuffle, every expression stays in whole-stage codegen (built-in
functions only), and all top-1/ordering tie-breaks are total so
distributed retries can't flip rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, lit

from llamadb_spark.session import read_table


# ---------------------------------------------------------------------------
# 195: RIGHT OUTER JOIN — the reserved-but-unparsed join direction
# (lexer.rs:95 `"right" => Right`; ast.rs never constructs it).
# Orders RIGHT JOIN customer keeps every customer, null-extending
# order columns for customers who never ordered — the mirror of q05.
#
# Scale: identical physical plan to the equivalent LEFT join with
# sides swapped (Spark canonicalizes BuildSide via AQE); the fact
# side is projected to 3 columns before the shuffle.
# ---------------------------------------------------------------------------
def q55_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    customer = read_table(spark, sf_dir, "customer")
    return orders.join(
        customer, orders.o_custkey == customer.c_custkey, "right"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


ORACLE_Q55 = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
"""


# ---------------------------------------------------------------------------
# 196: QUALIFY-shape window filter — the latest-row-per-key dedup
# every CDC/event consumer writes. Spark has no QUALIFY keyword, so
# the idiomatic form is window row_number -> filter; DuckDB spells
# the identical plan with QUALIFY. Tie-break on o_orderkey makes the
# "latest" row total-ordered (same-day orders can't flip on retry).
#
# Scale: one shuffle on the partition key; row_number needs no
# global sort (per-partition sort within the window exchange). This
# is also the MERGE-free "upsert view" pattern over an append log.
# ---------------------------------------------------------------------------
def q56_qualify_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        col("o_orderdate").desc(), col("o_orderkey").desc()
    )
    return (
        orders.withColumn("_rk", F.row_number().over(w))
        .filter(col("_rk") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


ORACLE_Q56 = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
"""


# ---------------------------------------------------------------------------
# 197: VALUES inline table as a FROM source — the reference lexer
# reserves VALUES (lexer.rs:99) but only INSERT consumes it; here an
# inline priority->tier mapping table drives a join, the way lookup
# enums are folded into queries without a round-trip to storage.
# Identical SQL text runs on both engines (like q54's LATERAL).
#
# Scale: a 5-row inline relation — Catalyst materializes it as a
# LocalRelation and broadcasts it; the only shuffle is the final
# 2-group aggregation.
# ---------------------------------------------------------------------------
_Q57_SQL = """
SELECT t.tier, count(*) AS n_orders,
       round(sum(o.o_totalprice), 4) AS revenue
FROM orders o
JOIN (VALUES ('1-URGENT', 'expedited'),
             ('2-HIGH', 'expedited'),
             ('3-MEDIUM', 'standard'),
             ('4-NOT SPECIFIED', 'standard'),
             ('5-LOW', 'standard')) AS t(prio, tier)
  ON o.o_orderpriority = t.prio
GROUP BY t.tier
ORDER BY t.tier
"""


def q57_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q57_SQL)


ORACLE_Q57 = _Q57_SQL


# ---------------------------------------------------------------------------
# 198: date INTERVAL arithmetic — add/subtract intervals, day
# differences, month deltas. Both engines bucket orders into 30-day
# windows from a fixed epoch and report the window's date span plus
# a ship-deadline sample (o_orderdate + 30 days).
#
# Scale: pure scan -> project -> single agg on the bucket key; the
# date math is codegen'd integer arithmetic on the DATE's day count.
# ---------------------------------------------------------------------------
def q58_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    bucket = F.floor(
        F.datediff(col("o_orderdate"), F.to_date(lit("1994-01-01"))) / 30
    ).cast("bigint")
    return (
        orders.withColumn("bucket_30d", bucket)
        .groupBy("bucket_30d")
        .agg(
            F.count(lit(1)).alias("n_orders"),
            F.min("o_orderdate").alias("first_day"),
            F.max(col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias(
                "last_deadline"
            ),
        )
    )


ORACLE_Q58 = """
SELECT CAST(floor(datediff('day', DATE '1994-01-01', o_orderdate) / 30.0)
            AS BIGINT) AS bucket_30d,
       count(*) AS n_orders,
       min(o_orderdate) AS first_day,
       max(o_orderdate + INTERVAL 30 DAY) AS last_deadline
FROM orders
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 199: PIVOT with multiple aggregates per pivot value — q20 pivots
# one measure; real OLAP pivots carry (count, sum) pairs per cell.
# Spark's relational pivot computes every aggregate in ONE pass over
# the fact (a single Expand + hash agg — not one scan per measure);
# the oracle spells the same cells as conditional aggregation.
#
# Scale: explicit pivot values keep the schema static (no discovery
# scan); one shuffle on the group key.
# ---------------------------------------------------------------------------
def q59_multi_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    year = F.year(col("o_orderdate")).alias("order_year")
    pivoted = (
        orders.groupBy(year)
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("rev"),
        )
    )
    return pivoted.select(
        "order_year",
        col("O_n").alias("open_n"),
        col("O_rev").alias("open_rev"),
        col("F_n").alias("filled_n"),
        col("F_rev").alias("filled_rev"),
        col("P_n").alias("partial_n"),
        col("P_rev").alias("partial_rev"),
    )


ORACLE_Q59 = """
SELECT EXTRACT(year FROM o_orderdate) AS order_year,
       count(*) FILTER (o_orderstatus = 'O') AS open_n,
       round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 4) AS open_rev,
       count(*) FILTER (o_orderstatus = 'F') AS filled_n,
       round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 4) AS filled_rev,
       count(*) FILTER (o_orderstatus = 'P') AS partial_n,
       round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 4) AS partial_rev
FROM orders
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 200: bounded ROWS window frame — 7-point trailing moving average
# of daily revenue (q38 covers RANGE INTERVAL frames; this is the
# row-count-bounded sibling, the two frame families SQL defines).
#
# Scale: daily pre-aggregation first (shuffle on ~2.4k distinct
# days), THEN the window over the tiny daily series — never a
# window over the raw fact. The frame is O(1) memory per row.
# ---------------------------------------------------------------------------
def q60_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy("o_orderdate").agg(
        F.sum("o_totalprice").alias("day_rev")
    )
    w = Window.orderBy("o_orderdate").rowsBetween(-6, 0)
    return daily.select(
        "o_orderdate",
        F.round("day_rev", 4).alias("day_rev"),
        F.round(F.avg("day_rev").over(w), 4).alias("ma7"),
        F.count(lit(1)).over(w).alias("n_in_frame"),
    )


ORACLE_Q60 = """
WITH daily AS (
  SELECT o_orderdate, sum(o_totalprice) AS day_rev
  FROM orders GROUP BY 1
)
SELECT o_orderdate, round(day_rev, 4) AS day_rev,
       round(avg(day_rev) OVER w, 4) AS ma7,
       count(*) OVER w AS n_in_frame
FROM daily
WINDOW w AS (ORDER BY o_orderdate ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# 211: recursive CTE — the one SQL construct Spark's parser refuses,
# executed by the dialect's iterative-fixpoint engine
# (sql/dialect.py recursive_sql: frontier materialization per round,
# the connected-components loop discipline applied to SQL text).
# A calendar spine is generated by recursion, then LEFT-joined to
# orders so empty months survive with a zero — the "no silent gaps
# in a time series" report. DuckDB runs the IDENTICAL statement
# natively, so the recursion gets a full value-hash oracle.
# ---------------------------------------------------------------------------
_Q61_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT TIMESTAMP '1994-01-01 00:00:00' AS m
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months
  WHERE m < TIMESTAMP '1995-12-01 00:00:00'
)
SELECT m AS month_start, count(o_orderkey) AS n_orders
FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
GROUP BY m
"""


def q61_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from llamadb_spark.sql.dialect import recursive_sql

    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return recursive_sql(spark, _Q61_SQL)


ORACLE_Q61 = _Q61_SQL


# ---------------------------------------------------------------------------
# 213: INTERSECT ALL / EXCEPT ALL — the multiplicity-preserving set
# operations (q25 covers the DISTINCT variants). Spark implements
# both as a single aggregate computing per-row min/difference of
# multiplicities + generate — no join per duplicate. Counts per
# nation differ from q25 exactly where multiplicity > 1, which is
# the semantic the ALL variants exist for.
# ---------------------------------------------------------------------------
def q62_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = (
        read_table(spark, sf_dir, "customer")
        .filter(col("c_acctbal") > 8000)
        .select(col("c_nationkey").alias("nationkey"))
    )
    sn = (
        read_table(spark, sf_dir, "supplier")
        .filter(col("s_acctbal") > 8000)
        .select(col("s_nationkey").alias("nationkey"))
    )
    both = (
        cn.intersectAll(sn)
        .groupBy("nationkey")
        .agg(F.count(lit(1)).alias("n"))
        .select(lit("both_all").alias("side"), "nationkey", "n")
    )
    c_only = (
        cn.exceptAll(sn)
        .groupBy("nationkey")
        .agg(F.count(lit(1)).alias("n"))
        .select(lit("customer_excess").alias("side"), "nationkey", "n")
    )
    return both.unionAll(c_only)


ORACLE_Q62 = """
WITH cn AS (SELECT c_nationkey AS nationkey FROM customer
            WHERE c_acctbal > 8000),
     sn AS (SELECT s_nationkey AS nationkey FROM supplier
            WHERE s_acctbal > 8000)
SELECT 'both_all' AS side, nationkey, count(*) AS n
FROM (SELECT nationkey FROM cn INTERSECT ALL SELECT nationkey FROM sn)
GROUP BY nationkey
UNION ALL
SELECT 'customer_excess' AS side, nationkey, count(*) AS n
FROM (SELECT nationkey FROM cn EXCEPT ALL SELECT nationkey FROM sn)
GROUP BY nationkey
"""


# ---------------------------------------------------------------------------
# 223: GROUP BY ALL — the modern-SQL convenience both engines
# implement natively (every non-aggregate select item becomes a
# grouping key); identical text runs on both, like q54/q57/q61.
# ---------------------------------------------------------------------------
_Q63_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders, round(sum(o_totalprice), 4) AS revenue
FROM orders
GROUP BY ALL
"""


def q63_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q63_SQL)


ORACLE_Q63 = _Q63_SQL


# ---------------------------------------------------------------------------
# 233: EXISTS as a boolean PROJECTION (not a filter) — the flag-
# column form reports use (`has_urgent_order`), decorrelated by
# Spark into a left-semi-derived boolean rather than a per-row
# subquery execution. Identical text both engines.
# ---------------------------------------------------------------------------
_Q64_SQL = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(CASE WHEN EXISTS (
           SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
       ) THEN 1 ELSE 0 END) AS BIGINT) AS n_with_urgent
FROM customer
GROUP BY c_mktsegment
"""


def q64_exists_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q64_SQL)


ORACLE_Q64 = _Q64_SQL


# ---------------------------------------------------------------------------
# q65: INSERT .. SELECT end-to-end through the dialect session — the
# reference's write path (Usage.md INSERT flows; sqlsyntax/ast.rs
# InsertStatement with a Select source) driven from a parquet-backed
# relation into a managed llamadb table, then queried back. The whole
# round trip (CREATE with llamadb types → INSERT..SELECT with the
# dialect's insert-time validation → GROUP BY read) runs through
# LlamaSession, so the key driver-attests the dialect write surface,
# not just the read surface.
#
# Scale: the INSERT materializes nation⨝region (broadcast-sized dims
# here; the same path handles any SELECT — the write inherits the
# read plan); the final aggregate reads the managed table only.
# ---------------------------------------------------------------------------
def q65_insert_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from llamadb_spark.session import register_views
    from llamadb_spark.sql import LlamaSession

    register_views(spark, sf_dir, ("nation", "region"))
    db = LlamaSession(spark)
    # fresh session instance per call: the managed-table registry is
    # instance state, so re-running replaces the temp view cleanly
    db.execute(
        "CREATE TABLE q65_nation_regions (n_name STRING, r_name STRING)"
    )
    db.execute(
        "INSERT INTO q65_nation_regions "
        "SELECT n_name, r_name FROM nation, region "
        "WHERE nation.n_regionkey = region.r_regionkey"
    )
    return db.execute(
        "SELECT r_name, count(*) AS n_nations "
        "FROM q65_nation_regions GROUP BY r_name"
    )


ORACLE_Q65 = """
SELECT r_name, count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# ---------------------------------------------------------------------------
# q66: memcmp-sortable composite keys (docs/Indexing and Sorting.md)
# — the reference's one indexing design document, re-expressed. The
# encoded (int, string, int) key must order EXACTLY like the typed
# tuple; the proof is structural: Spark selects the top-20 rows by
# the ENCODED key while the oracle selects them by the TYPED columns
# — the result sets (and the key strings both engines compute) only
# match if the encoding is order-preserving over real data.
#
# Scale: the encoder is pure built-ins (hex/lpad/concat — codegen);
# top-20 is TakeOrdered (per-partition heaps), no global sort.
# ---------------------------------------------------------------------------
def q66_sort_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from llamadb_spark.functions.keycodec import (
        int64_key,
        sort_key,
        string_key,
    )

    od = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    k = sort_key(
        int64_key("o_custkey"),
        string_key("o_orderpriority"),
        int64_key("o_orderkey"),
    ).alias("k")
    return (
        od.select("o_orderkey", "o_custkey", "o_orderpriority", k)
        .orderBy("k")
        .limit(20)
    )


ORACLE_Q66 = """
SELECT o_orderkey, o_custkey, o_orderpriority,
       printf('%016x', xor(CAST(o_custkey AS BIGINT),
                           CAST(-9223372036854775808 AS BIGINT)))
       || o_orderpriority || chr(0)
       || printf('%016x', xor(CAST(o_orderkey AS BIGINT),
                              CAST(-9223372036854775808 AS BIGINT))) AS k
FROM orders
ORDER BY o_custkey, o_orderpriority, o_orderkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q67: MERGE INTO end-to-end through the dialect session — the upsert
# verb (#255) driver-attested the same way q65 attests INSERT..SELECT.
# The target starts with a SUBSET of regions at zero counts; one MERGE
# both UPDATEs the matched rows from the source aggregate and INSERTs
# the missing regions — so the final table equals the plain join
# aggregate the oracle computes, only if BOTH merge arms fired.
#
# Scale: the merge source is an n_regions-row aggregate; the rewrite
# is one FULL join that reads it once, and the committed 5-row table
# is one partition (sized to its bytes).
# ---------------------------------------------------------------------------
def q67_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from llamadb_spark.session import register_views
    from llamadb_spark.sql import LlamaSession

    register_views(spark, sf_dir, ("nation", "region"))
    db = LlamaSession(spark)
    db.execute(
        "CREATE TABLE q67_region_stats "
        "(rkey U32, r_name STRING, n_nations I32)"
    )
    db.execute(
        "INSERT INTO q67_region_stats "
        "SELECT r_regionkey, r_name, 0 FROM region WHERE r_regionkey < 3"
    )
    spark.sql(
        "SELECT r_regionkey AS rkey, r_name, "
        "CAST(count(n_nationkey) AS INT) AS cnt "
        "FROM region JOIN nation ON n_regionkey = r_regionkey "
        "GROUP BY r_regionkey, r_name"
    ).createOrReplaceTempView("q67_src")
    db.execute(
        "MERGE INTO q67_region_stats USING q67_src ON t.rkey = s.rkey "
        "WHEN MATCHED THEN UPDATE SET n_nations = s.cnt "
        "WHEN NOT MATCHED THEN INSERT (rkey, r_name, n_nations) "
        "VALUES (s.rkey, s.r_name, s.cnt)"
    )
    return db.execute(
        "SELECT r_name, n_nations FROM q67_region_stats"
    )


ORACLE_Q67 = """
SELECT r_name, CAST(count(*) AS INT) AS n_nations
FROM region JOIN nation ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q68_ignore_nulls_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window semantics (#274): carry-forward of the
    last non-null value and first non-null lookup over an ordered
    per-order frame — the gap-filling idiom (last_value ... IGNORE
    NULLS) every warehouse dialect ships and plain lag/last can't
    express. Nulls are manufactured deterministically
    (nullif(l_returnflag, 'N')), orders subsampled to bound output.

    Scale: windows partitioned by l_orderkey (never global); one
    scan, one shuffle on the partition key.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 50 == 0
    )
    v = F.expr("nullif(l_returnflag, 'N')")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.last(v, ignorenulls=True).over(w).alias("flag_ff"),
        F.first(v, ignorenulls=True).over(wall).alias("first_nn"),
    )


ORACLE_Q68 = """
SELECT l_orderkey, l_linenumber,
       last_value(nullif(l_returnflag, 'N') IGNORE NULLS) OVER (
         PARTITION BY l_orderkey ORDER BY l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS flag_ff,
       first_value(nullif(l_returnflag, 'N') IGNORE NULLS) OVER (
         PARTITION BY l_orderkey ORDER BY l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS first_nn
FROM lineitem
WHERE l_orderkey % 50 = 0
"""


QUERIES = {
    "q55_right_join": q55_right_join,
    "q56_qualify_latest": q56_qualify_latest,
    "q57_values_inline": q57_values_inline,
    "q58_date_arith": q58_date_arith,
    "q59_multi_pivot": q59_multi_pivot,
    "q60_rows_frame": q60_rows_frame,
    "q61_recursive_cte": q61_recursive_cte,
    "q62_set_ops_all": q62_set_ops_all,
    "q63_group_by_all": q63_group_by_all,
    "q64_exists_projection": q64_exists_projection,
    "q65_insert_select": q65_insert_select,
    "q66_sort_key": q66_sort_key,
    "q67_merge_upsert": q67_merge_upsert,
    "q68_ignore_nulls_window": q68_ignore_nulls_window,
}

ORACLES = {
    "q55_right_join": ORACLE_Q55,
    "q56_qualify_latest": ORACLE_Q56,
    "q57_values_inline": ORACLE_Q57,
    "q58_date_arith": ORACLE_Q58,
    "q59_multi_pivot": ORACLE_Q59,
    "q60_rows_frame": ORACLE_Q60,
    "q61_recursive_cte": ORACLE_Q61,
    "q62_set_ops_all": ORACLE_Q62,
    "q63_group_by_all": ORACLE_Q63,
    "q64_exists_projection": ORACLE_Q64,
    "q65_insert_select": ORACLE_Q65,
    "q66_sort_key": ORACLE_Q66,
    "q67_merge_upsert": ORACLE_Q67,
    "q68_ignore_nulls_window": ORACLE_Q68,
}
