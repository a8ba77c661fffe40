"""SQL-surface completion, batch 2: outer joins, UNNEST/explode,
semi-structured (JSON) access, regexp functions.

These extend the llamadb parity surface (reference grammar at
`/root/reference/src/sqlsyntax/ast.rs` stops at inner/left joins and
plain scalar expressions — `ast.rs:95-106` join ops, `Usage.md`
roadmap lists the rest as future work) with the remaining relational
algebra every interchangeable engine needs.

Scale notes are inline per query; the common rules: aggregate before
joining (shrinks both shuffle sides), explode AFTER projecting to
the one needed column (row explosion multiplies every carried byte),
and JSON/regexp work uses built-in JVM expressions (codegen'd, no
Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from llamadb_spark.session import read_table


# ---------------------------------------------------------------------------
# FULL OUTER JOIN. llamadb stops at LEFT (ast.rs:96-98); FULL OUTER
# completes the family. Shape: per-customer order counts in two
# disjoint status slices, full-outer-joined on the customer key so
# each side has rows the other lacks.
#
# Scale: both inputs are pre-aggregated (map-side partial agg), so
# the full-outer shuffle moves one row per (custkey, slice) — not raw
# orders. Both aggregations and the join hash on o_custkey; AQE
# reuses the exchange rather than re-partitioning.
# ---------------------------------------------------------------------------
def q33_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    fulfilled = (
        orders.filter(col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count(lit(1)).alias("n_fulfilled"))
    )
    open_ = (
        orders.filter(col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(F.count(lit(1)).alias("n_open"))
    )
    return (
        fulfilled.join(open_, on="o_custkey", how="full_outer")
        .select(
            col("o_custkey"),
            F.coalesce(col("n_fulfilled"), lit(0)).alias("n_fulfilled"),
            F.coalesce(col("n_open"), lit(0)).alias("n_open"),
        )
    )


ORACLE_Q33 = """
SELECT o_custkey,
       coalesce(n_fulfilled, 0) AS n_fulfilled,
       coalesce(n_open, 0) AS n_open
FROM (SELECT o_custkey, count(*) AS n_fulfilled
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) f
FULL JOIN (SELECT o_custkey, count(*) AS n_open
           FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) o
USING (o_custkey)
"""


# ---------------------------------------------------------------------------
# Explode / UNNEST: token frequency over the corpus — the lateral
# view shape (split -> explode -> re-aggregate).
#
# Scale: project to the single text column BEFORE exploding (the
# explode multiplies row count ~100x; carrying doc_id/source/lang
# through it would multiply those bytes too). The groupBy after
# explode does map-side partial aggregation, so the shuffle carries
# one (token, count) pair per task per distinct token — vocabulary-
# bounded, not corpus-bounded. Deterministic top-k: count desc then
# token asc, so ties can't flip rows between engines.
# ---------------------------------------------------------------------------
def q34_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(col("text"), " ")).alias("token"))
        .filter(col("token") != "")
        .groupBy("token")
        .agg(F.count(lit(1)).alias("n_occurrences"))
        .orderBy(col("n_occurrences").desc(), col("token"))
        .limit(20)
    )


ORACLE_Q34 = """
SELECT token, count(*) AS n_occurrences
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Semi-structured access: events.props is a JSON string ('{"k": 87}').
# Extract a typed field and aggregate — the log-analytics staple.
#
# Scale: get_json_object is a JVM codegen'd expression (Jackson
# streaming parse, no Python); extraction happens before the
# aggregation shuffle so only (event_type, partial-agg) rows move.
# On a real deployment the parse cost motivates schema-on-write
# (from_json into a struct column at ingest); this query is the
# schema-on-read form that works on raw logs.
# ---------------------------------------------------------------------------
def q35_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object(col("props"), "$.k").cast("long")
    return (
        ev.select(col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(lit(1)).alias("n_events"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )


ORACLE_Q35 = """
SELECT event_type,
       count(*) AS n_events,
       round(avg(k), 6) AS avg_k,
       max(k) AS max_k,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Regexp functions: extract the word following 'stream ' from each
# document and rank collocations. Patterns stick to the common
# re-dialect subset (literal + [a-z]+ + capture group) so Java
# (Spark) and RE2 (DuckDB) agree by construction.
#
# Scale: regexp_extract is codegen'd JVM work on the scan projection;
# the groupBy shuffles only (word, partial count). ReadSchema should
# show text as the only column read.
# ---------------------------------------------------------------------------
def q36_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.regexp_extract(col("text"), r"stream ([a-z]+)", 1).alias("next_word")
        )
        .filter(col("next_word") != "")
        .groupBy("next_word")
        .agg(F.count(lit(1)).alias("n_docs"))
        .orderBy(col("n_docs").desc(), col("next_word"))
        .limit(15)
    )


ORACLE_Q36 = """
SELECT next_word, count(*) AS n_docs
FROM (SELECT regexp_extract(text, 'stream ([a-z]+)', 1) AS next_word
      FROM documents)
WHERE next_word <> ''
GROUP BY next_word
ORDER BY n_docs DESC, next_word
LIMIT 15
"""


# ---------------------------------------------------------------------------
# Exact decimal arithmetic. llamadb's integer types map to Spark
# decimals at the wide end (U64→DECIMAL(20,0), SURVEY §3 / reference
# `docs/Column Types.md`); this query is the money-sum shape where
# decimals matter: fixed-point aggregation is EXACT and
# order-insensitive, so no rounding discipline is needed on either
# engine — unlike every double-summing query in this repo.
#
# Scale: decimal agg is still map-side partial (sum of unscaled
# longs for precision ≤ 18, int128 above); exactness costs one
# widening, not a shuffle. avg() is intentionally absent: Spark
# keeps decimal avg in decimal, DuckDB returns double — derive
# averages downstream as sum/count.
# ---------------------------------------------------------------------------
def q37_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    p = col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.select(col("o_orderpriority"), p.alias("p"))
        .groupBy("o_orderpriority")
        .agg(
            # aggregation happens IN decimal (exact); the final cast
            # to double is presentation only — applied identically in
            # the oracle so both engines render the same exact value
            # (duckdb→pandas degrades DECIMAL to float64 anyway)
            F.sum("p").cast("double").alias("sum_price"),
            F.min("p").cast("double").alias("min_price"),
            F.max("p").cast("double").alias("max_price"),
            F.count(lit(1)).alias("n_orders"),
        )
    )


ORACLE_Q37 = """
SELECT o_orderpriority,
       CAST(sum(p) AS DOUBLE) AS sum_price,
       CAST(min(p) AS DOUBLE) AS min_price,
       CAST(max(p) AS DOUBLE) AS max_price,
       count(*) AS n_orders
FROM (SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS p
      FROM orders)
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Time-range window frames: per-user rolling 1-hour event-value sum
# (RANGE BETWEEN INTERVAL ... PRECEDING). Complements q26's row-based
# frames — range frames are what time-series rollups actually need
# (a row-count frame is wrong under irregular event spacing).
#
# Spark's rangeBetween needs a numeric ordering key. events.ts is
# normalized to a TIMESTAMP by queries/events.py:_events (the file
# has shipped as both nanos-long and TIMESTAMP_NTZ); the frame runs
# over unix_micros(ts) — the exact precision of DuckDB's TIMESTAMP —
# so both engines draw identical inclusive window bounds.
#
# Scale: one shuffle on user_id, then a per-partition sort; the
# frame is evaluated with a sliding accumulator, not O(n²) rescans.
# Top-level ordering keeps the driver compare deterministic without
# constraining the window itself.
# ---------------------------------------------------------------------------
def q38_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from llamadb_spark.queries.events import _events

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.filter(col("user_id") < 200)
        .select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 6).alias("rolling_1h_value"),
        )
    )


ORACLE_Q38 = """
SELECT user_id, event_id,
       round(sum(value) OVER (
           PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
       ), 6) AS rolling_1h_value
FROM events
WHERE user_id < 200
"""


QUERIES = {
    "q33_full_outer_join": q33_full_outer_join,
    "q34_explode_tokens": q34_explode_tokens,
    "q35_json_extract": q35_json_extract,
    "q36_regexp_extract": q36_regexp_extract,
    "q37_decimal_exact": q37_decimal_exact,
    "q38_range_frame": q38_range_frame,
}

ORACLES = {
    "q33_full_outer_join": ORACLE_Q33,
    "q34_explode_tokens": ORACLE_Q34,
    "q35_json_extract": ORACLE_Q35,
    "q36_regexp_extract": ORACLE_Q36,
    "q37_decimal_exact": ORACLE_Q37,
    "q38_range_frame": ORACLE_Q38,
}
