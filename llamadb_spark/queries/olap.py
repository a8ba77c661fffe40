"""OLAP extensions beyond the reference's surface (SURVEY §2
#48-51): ROLLUP subtotals, PIVOT, as-of join, approximate
aggregates — the analytics operators a llamadb user graduating to
100 TB reaches for next.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, lit

from llamadb_spark.operators.asof import asof_join
from llamadb_spark.session import read_table


# ---------------------------------------------------------------------------
# 48: ROLLUP — hierarchical subtotals in one pass (Spark expands to
# grouping sets; one shuffle, partial aggregation per set).
# ---------------------------------------------------------------------------
def q19_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year"), "o_orderpriority"
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        orders.join(li, col("o_orderkey") == col("l_orderkey"))
        .rollup("o_year", "o_orderpriority")
        .agg(
            F.round(F.sum(col("l_extendedprice") * (1 - col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(lit(1)).alias("n_items"),
        )
    )


ORACLE_Q19 = """
SELECT o_year, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM (SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority
      FROM orders) o
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY ROLLUP(o_year, o_orderpriority)
"""


# ---------------------------------------------------------------------------
# 49: PIVOT — long-to-wide with explicit value list (explicit values
# keep it one pass; without them Spark needs a distinct-scan first).
# ---------------------------------------------------------------------------
def q20_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        orders.join(broadcast(customer), col("o_custkey") == col("c_custkey"))
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
    )


ORACLE_Q20 = """
SELECT c_mktsegment,
       count(*) FILTER (o_orderstatus = 'F') AS "F",
       count(*) FILTER (o_orderstatus = 'O') AS "O",
       count(*) FILTER (o_orderstatus = 'P') AS "P"
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# 50: as-of join — most recent 'view' event at or before each
# 'purchase', per user (operators/asof.py union-window construction;
# oracle uses DuckDB's native ASOF LEFT JOIN).
# ---------------------------------------------------------------------------
def a01_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from llamadb_spark.queries.events import _events

    ev = _events(spark, sf_dir)
    purchases = ev.filter(col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    views = ev.filter(col("event_type") == "view").select("user_id", "event_id", "ts")
    return asof_join(
        purchases, views, key="user_id", right_value_cols=["event_id"]
    ).select(
        "user_id",
        "event_id",
        "ts",
        "value",
        col("event_id_right").alias("view_event_id"),
        col("ts_right").alias("view_ts"),
    )


ORACLE_A01 = """
WITH p AS (SELECT user_id, event_id, ts, value FROM events
           WHERE event_type = 'purchase'),
     v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view')
SELECT p.user_id, p.event_id, p.ts, p.value,
       v.event_id AS view_event_id, v.ts AS view_ts
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
"""


def a03_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: for each VIEW, the user's NEXT purchase at or
    after it — the "time-to-conversion" enrichment. Same
    single-shuffle union-window plan as a01, timeline sorted
    descending (operators/asof.py direction='forward')."""
    from llamadb_spark.queries.events import _events

    ev = _events(spark, sf_dir)
    views = ev.filter(col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    return asof_join(
        views,
        purchases,
        key="user_id",
        right_value_cols=["event_id", "value"],
        direction="forward",
    ).select(
        "user_id",
        "event_id",
        "ts",
        col("event_id_right").alias("purchase_event_id"),
        col("value_right").alias("purchase_value"),
        col("ts_right").alias("purchase_ts"),
    )


ORACLE_A03 = """
WITH v AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'view'),
     p AS (SELECT user_id, event_id, ts, value FROM events
           WHERE event_type = 'purchase')
SELECT v.user_id, v.event_id, v.ts,
       p.event_id AS purchase_event_id, p.value AS purchase_value,
       p.ts AS purchase_ts
FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND p.ts >= v.ts
"""


def a04_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of: the view that preceded each purchase,
    but only if it happened within the last 30 minutes — a stale
    quote/attribution guard (pandas merge_asof tolerance semantics).
    Same single-shuffle union-window plan; the bound is a post-window
    null-out, not a range join."""
    from llamadb_spark.queries.events import _events

    ev = _events(spark, sf_dir)
    purchases = ev.filter(col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    views = ev.filter(col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    return asof_join(
        purchases,
        views,
        key="user_id",
        right_value_cols=["event_id"],
        tolerance_s=1800,
    ).select(
        "user_id",
        "event_id",
        "ts",
        "value",
        col("event_id_right").alias("view_event_id"),
        col("ts_right").alias("view_ts"),
    )


ORACLE_A04 = """
WITH p AS (SELECT user_id, event_id, ts, value FROM events
           WHERE event_type = 'purchase'),
     v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view')
SELECT p.user_id, p.event_id, p.ts, p.value,
       CASE WHEN v.ts >= p.ts - INTERVAL 30 MINUTE
            THEN v.event_id END AS view_event_id,
       CASE WHEN v.ts >= p.ts - INTERVAL 30 MINUTE
            THEN v.ts END AS view_ts
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
"""


def a05_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of (#256 driver-attested): for each purchase, the
    user's closest view in EITHER time direction, exact ties going
    backward — pandas merge_asof(direction="nearest") semantics. The
    plan is the same single key shuffle with two in-partition sorts
    (operators/asof.py); the oracle reconstructs it from DuckDB's
    native backward + forward ASOF joins and a closer-of pick, so a
    hash match proves the direction logic, not just the carry."""
    from llamadb_spark.queries.events import _events

    ev = _events(spark, sf_dir)
    purchases = ev.filter(col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    views = ev.filter(col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    return asof_join(
        purchases,
        views,
        key="user_id",
        right_value_cols=["event_id"],
        direction="nearest",
    ).select(
        "user_id",
        "event_id",
        "ts",
        "value",
        col("event_id_right").alias("view_event_id"),
        col("ts_right").alias("view_ts"),
    )


ORACLE_A05 = """
WITH p AS (SELECT user_id, event_id, ts, value FROM events
           WHERE event_type = 'purchase'),
     v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
b AS (
  SELECT p.user_id, p.event_id, p.ts, p.value,
         v.event_id AS b_id, v.ts AS b_ts
  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
),
f AS (
  SELECT p.event_id, v.event_id AS f_id, v.ts AS f_ts
  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts
)
SELECT b.user_id, b.event_id, b.ts, b.value,
       CASE WHEN f.f_ts IS NULL THEN b.b_id
            WHEN b.b_ts IS NULL THEN f.f_id
            WHEN (epoch(b.ts) - epoch(b.b_ts))
                 <= (epoch(f.f_ts) - epoch(b.ts)) THEN b.b_id
            ELSE f.f_id END AS view_event_id,
       CASE WHEN f.f_ts IS NULL THEN b.b_ts
            WHEN b.b_ts IS NULL THEN f.f_ts
            WHEN (epoch(b.ts) - epoch(b.b_ts))
                 <= (epoch(f.f_ts) - epoch(b.ts)) THEN b.b_ts
            ELSE f.f_ts END AS view_ts
FROM b JOIN f ON f.event_id = b.event_id
"""


# ---------------------------------------------------------------------------
# 51: approximate aggregates — HLL distinct + t-digest quantiles.
# The 100 TB staple: one pass, fixed memory, mergeable sketches.
# rows-only check (sketch values are engine-specific by design);
# tests/test_olap.py bounds them against exact answers.
# ---------------------------------------------------------------------------
def a02_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL distinct + t-digest quantiles)
    with a driver-attestable banded-boolean contract: alongside the
    exact-computable columns (group, exact distinct, row count), each
    approximate statistic is emitted as a WITHIN-BOUND boolean — the
    DuckDB twin recomputes the exact quantities and claims TRUE, so
    the value hash matches iff every sketch landed inside its error
    band. Bands: HLL rel-err ≤ 10% (default rsd is 5%); approx
    percentile inside the exact inter-quantile envelope ±5 rank
    points. Both sketches are deterministic for fixed data, so the
    booleans are stable across runs at a given SF."""
    ev = read_table(spark, sf_dir, "events")
    # TWO separate aggregations joined on the 5-row group key, not
    # one: mixing countDistinct (Expand rewrite) with the
    # TypedImperativeAggregate percentiles in a single agg forces a
    # SortAggregate over the expanded input — measured 12x slower
    # than the two clean HashAggregate passes. Percentiles use the
    # ARRAY forms (one sort / one t-digest per group, not six).
    users = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count(lit(1)).alias("n_events"),
    )
    pctl = ev.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(lit(0.5), lit(0.95))
        ).alias("ap"),
        F.expr(
            "percentile(value, array(0.45, 0.55, 0.90, 0.99))"
        ).alias("ep"),
    )
    agg = users.join(pctl, "event_type")
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(col("approx_users") - col("exact_users"))
            <= 0.10 * col("exact_users")
        ).alias("users_within_10pct"),
        col("ap")[0].between(col("ep")[0], col("ep")[1]).alias("p50_in_band"),
        col("ap")[1].between(col("ep")[2], col("ep")[3]).alias("p95_in_band"),
    )


ORACLE_A02 = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       count(*) AS n_events,
       TRUE AS users_within_10pct,
       TRUE AS p50_in_band,
       TRUE AS p95_in_band
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# 53: range join — lineitem prices vs OVERLAPPING price bands (step
# 5000, width 7500 → a genuine interval join, not binning). Uses the
# bucketed equi-join construction (operators/range_join.py) so the
# plan is a hash join, never BroadcastNestedLoop/cartesian. Oracle is
# DuckDB's native BETWEEN join over generate_series bands.
# ---------------------------------------------------------------------------
def r01_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from llamadb_spark.operators.range_join import range_join

    li = read_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    bands = spark.range(21).select(
        col("id").alias("band_id"),
        (lit(900.0) + col("id") * 5000.0).alias("lo"),
        (lit(900.0) + col("id") * 5000.0 + 7499.0).alias("hi"),
    )
    joined = range_join(
        li, bands, point_col="l_extendedprice", lo_col="lo", hi_col="hi",
        bucket_width=2500.0,
    )
    return joined.groupBy("band_id").agg(
        F.count(lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


ORACLE_R01 = """
WITH bands AS (
  SELECT i AS band_id, 900 + i * 5000.0 AS lo, 900 + i * 5000.0 + 7499.0 AS hi
  FROM generate_series(0, 20) t(i)
)
SELECT band_id, count(*) AS n_items,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem JOIN bands ON l_extendedprice BETWEEN lo AND hi
GROUP BY band_id
"""


# ---------------------------------------------------------------------------
# Exact percentiles (percentile_cont semantics): one-pass per-group
# sort + interpolation. Complement to a02's approximate t-digest —
# exact answers where group sizes allow, sketches where they don't.
# ---------------------------------------------------------------------------
def q31_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 6).alias("med_qty"),
        F.round(F.percentile("l_extendedprice", 0.25), 6).alias("p25_price"),
        F.round(F.percentile("l_extendedprice", 0.9), 6).alias("p90_price"),
        F.round(F.percentile("l_discount", 0.5), 6).alias("med_disc"),
    )


ORACLE_Q31 = """
SELECT l_returnflag,
       round(median(l_quantity), 6) AS med_qty,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
       round(quantile_cont(l_discount, 0.5), 6) AS med_disc
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Statistical aggregates: corr / covar / stddev / variance — the
# profiling pass over a fact table. All are one-pass merged-moment
# aggregates (map-side partials). Stats are computed over O(1)-scale
# columns (corr is normalized; discount/tax are small) so the 6dp
# round absorbs partial-merge vs serial summation ULP drift.
# ---------------------------------------------------------------------------
def q32_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    # `+ 0.0` normalizes IEEE negative zero (round can yield -0.0,
    # whose repr differs between engines even though the value ties)
    return li.groupBy("l_returnflag").agg(
        (F.round(F.corr("l_quantity", "l_extendedprice"), 6) + 0.0).alias(
            "corr_qty_price"
        ),
        (F.round(F.stddev_samp("l_discount"), 6) + 0.0).alias("sd_disc"),
        (F.round(F.var_samp("l_discount"), 6) + 0.0).alias("var_disc"),
        (F.round(F.covar_samp("l_discount", "l_tax"), 6) + 0.0).alias("cov_disc_tax"),
        F.count(lit(1)).alias("n_rows"),
    )


ORACLE_Q32 = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price,
       round(stddev_samp(l_discount), 6) + 0.0 AS sd_disc,
       round(var_samp(l_discount), 6) + 0.0 AS var_disc,
       round(covar_samp(l_discount, l_tax), 6) + 0.0 AS cov_disc_tax,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Re-aggregatable distinct-count rollup via Datasketches HLL — the
# 100 TB incremental-distinct pattern. Daily ingest stores ONE
# pre-aggregated sketch row per (event_type, day) — hll_sketch_agg
# over that day's users — and every later rollup (weekly, global,
# ad-hoc) merges those few sketch rows with hll_union_agg instead of
# rescanning raw events. The union is register-wise max: commutative,
# associative and idempotent, so estimates are deterministic under
# partition order AND a re-ingested day merges harmlessly. Here both
# phases run in one plan; only n_types × n_days sketch rows (fixed
# lgConfigK=12, ≤ ~2.5 KB each) cross the second exchange — raw
# events are scanned exactly once. Complements a02: approx_count_
# distinct gives one number, this gives a STORED mergeable state.
# rows-only (sketch estimates are engine-specific by design);
# tests/test_olap.py bounds estimates against exact distincts and
# asserts the union path equals the direct single-pass sketch.
# Reference has only full-rescan aggregation (src/executequery.rs
# group-by path); no incremental aggregate state exists there.
# ---------------------------------------------------------------------------
def a06_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id", lit(12)).alias("sk")
    )
    rolled = daily.groupBy("event_type").agg(
        F.count(lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
    )
    # banded-boolean attestation (same contract as a02): the merged
    # sketch's estimate must land within 10% of the exact distinct
    # count, which the DuckDB twin recomputes exactly. n_days and
    # exact_users hash-match exactly; the band boolean is the sketch
    # evidence. Datasketches HLL at lgK=12 has rse ≈ 1.6%, so 10% is
    # a >6σ band — and the sketch is deterministic for fixed data.
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return rolled.join(exact, "event_type").select(
        "event_type",
        "n_days",
        "exact_users",
        (
            F.abs(col("est_users") - col("exact_users"))
            <= 0.10 * col("exact_users")
        ).alias("rollup_within_10pct"),
    )


ORACLE_A06 = """
SELECT event_type,
       count(DISTINCT CAST(ts AS DATE)) AS n_days,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS rollup_within_10pct
FROM events
GROUP BY event_type
"""


def a07_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price/value (TWAP) per (event_type,
    day) — the standard irregular-time-series aggregate (a plain AVG
    over-weights bursts; TWAP weights each observation by how long
    it was the live value). Weight = microseconds until the next
    event of the same (type, day); each day's last event carries no
    forward interval and is excluded from the weighting (documented
    endpoint convention).

    Determinism discipline (d16/p12): values are quantized to integer
    micro-units with an explicit floor() (Spark CAST truncates,
    DuckDB CAST rounds — floor is identical in both), weights are
    integer microseconds, and TWAP is an exact BIGINT-ratio
    `div` — no float summation order anywhere near the hash oracle.

    Scale: one lead() window per (type, day) partition + one
    aggregate; shuffles keyed by (type, day) with map-side combine.
    Output: (event_type, day, n_obs, twap_micro).
    """
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", col("ts")).alias("day"),
        "ts",
        "event_id",
        # ts is TIMESTAMP_NTZ in the parquet; only DIFFERENCES are
        # used, so the cast's session-timezone shift cancels
        F.unix_micros(col("ts").cast("timestamp")).alias("us"),
        F.floor(col("value") * 1_000_000).cast("long").alias("v_micro"),
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    dt = (F.lead("us").over(w) - col("us")).alias("dt_us")
    weighted = ev.select("event_type", "day", "v_micro", dt).filter(
        col("dt_us").isNotNull()
    )
    return (
        weighted.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(col("v_micro") * col("dt_us")).alias("vw"),
            F.sum("dt_us").alias("tw"),
        )
        .select(
            "event_type",
            "day",
            "n_obs",
            F.expr("vw div tw").alias("twap_micro"),
        )
    )


ORACLE_A07 = """
WITH w AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(floor(value * 1000000) AS BIGINT) AS v_micro,
         epoch_us(lead(ts) OVER (PARTITION BY event_type, date_trunc('day', ts)
                                 ORDER BY ts, event_id))
           - epoch_us(ts) AS dt_us
  FROM events
)
SELECT event_type, day, count(*) AS n_obs,
       CAST(sum(v_micro * dt_us) // sum(dt_us) AS BIGINT) AS twap_micro
FROM w WHERE dt_us IS NOT NULL
GROUP BY event_type, day
"""


QUERIES = {
    "q19_rollup": q19_rollup,
    "a07_twap": a07_twap,
    "q20_pivot": q20_pivot,
    "a01_asof_join": a01_asof_join,
    "a03_asof_forward": a03_asof_forward,
    "a04_asof_tolerance": a04_asof_tolerance,
    "a05_asof_nearest": a05_asof_nearest,
    "a02_approx_stats": a02_approx_stats,
    "a06_sketch_rollup": a06_sketch_rollup,
    "r01_range_join": r01_range_join,
    "q31_percentiles": q31_percentiles,
    "q32_stats_agg": q32_stats_agg,
}

ORACLES = {
    "q19_rollup": ORACLE_Q19,
    "a07_twap": ORACLE_A07,
    "q20_pivot": ORACLE_Q20,
    "a01_asof_join": ORACLE_A01,
    "a03_asof_forward": ORACLE_A03,
    "a04_asof_tolerance": ORACLE_A04,
    "a05_asof_nearest": ORACLE_A05,
    "a02_approx_stats": ORACLE_A02,
    "a06_sketch_rollup": ORACLE_A06,
    "r01_range_join": ORACLE_R01,
    "q31_percentiles": ORACLE_Q31,
    "q32_stats_agg": ORACLE_Q32,
}
