"""Relational query suite over the TPC-H-ish tables + events stream table.

Spark side is DataFrame API (Catalyst plans: pushdown, broadcast joins,
partial aggregation); each query's DuckDB oracle SQL is defined alongside.
Float discipline (SURVEY.md §7): money/quantity aggregates go through
exact DECIMAL arithmetic and are cast to DOUBLE only at the end; averages
are exact-decimal sums divided as doubles — identical IEEE results in both
engines, no rounding fudge needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

CUTOFF = "1998-09-02 00:00:00"
Q3_DATE = "1998-03-15 00:00:00"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The package's one table-handle cache (queries._register_views builds
    # its views from it): the immutable DataFrame handle is cached per
    # (session, sf_dir) — spark.read.parquet is a driver-side schema read
    # (~80 ms) paid per query construction otherwise; executions still
    # scan the parquet.
    cache = getattr(spark, "_usls_rel_dfs", None)
    if cache is None or cache[0] != sf_dir:
        cache = (sf_dir, {})
        spark._usls_rel_dfs = cache
    if name not in cache[1]:
        cache[1][name] = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return cache[1][name]


def _dec(col, prec=14, scale=2):
    return F.col(col).cast(f"decimal({prec},{scale})")


# --- TPC-H Q1: pricing summary (scan -> partial+final hash agg, no join) ---
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    charge = disc_price * (one + _dec("l_tax", 4, 2))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity", 12, 2)).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity", 12, 2)).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(_dec("l_discount", 4, 2)).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) / count(*) AS avg_price,
  CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{CUTOFF}'
GROUP BY l_returnflag, l_linestatus
"""


# --- TPC-H Q3-ish: top orders by revenue (broadcast dim join) --------------
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders and customer are FACT-sized at scale — no broadcast hints
    (a forced broadcast of orders is a driver OOM at 100×); AQE picks the
    join strategy from runtime stats, upgrading to broadcast only when the
    filtered side actually fits (round-1 VERDICT item 3)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp")
    )
    one = F.lit(1).cast("decimal(3,2)")
    revenue = F.sum(_dec("l_extendedprice") * (one - _dec("l_discount", 4, 2)))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


Q3_ORACLE = f"""
SELECT o_orderkey, o_orderdate, o_orderpriority,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{Q3_DATE}'
  AND l_shipdate > TIMESTAMP '{Q3_DATE}'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


# --- TPC-H Q5-ish: regional revenue (5-way join, broadcast TRUE dims) -------
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hints only on region (5 rows) and nation (25 rows) — the
    bounded-cardinality dimensions. orders/customer/supplier grow with SF,
    so their join strategy is left to AQE runtime stats."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    revenue = F.sum(_dec("l_extendedprice") * (one - _dec("l_discount", 4, 2)))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(revenue.cast("double").alias("revenue"))
    )


Q5_ORACLE = """
SELECT n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


# --- window: top-3 customers per market segment -----------------------------
def top_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    spend = (
        orders.groupBy("o_custkey")
        .agg(F.sum(_dec("o_totalprice", 16, 2)).alias("spend_dec"), F.count("*").alias("n_orders"))
    )
    joined = cust.join(spend, cust.c_custkey == spend.o_custkey, "inner")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("spend_dec"), F.asc("c_custkey")
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "c_mktsegment",
            "rank",
            "c_custkey",
            F.col("spend_dec").cast("double").alias("total_spend"),
            "n_orders",
        )
    )


TOP_CUST_ORACLE = """
SELECT c_mktsegment, rank, c_custkey, CAST(spend_dec AS DOUBLE) AS total_spend, n_orders
FROM (
  SELECT c_mktsegment, c_custkey, spend_dec, n_orders,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY spend_dec DESC, c_custkey) AS rank
  FROM (
    SELECT c_mktsegment, c_custkey,
           sum(CAST(o_totalprice AS DECIMAL(16,2))) AS spend_dec,
           count(*) AS n_orders
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment, c_custkey
  ) s
) r WHERE rank <= 3
"""


# --- window: per-customer running order total -------------------------------
def orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(_dec("o_totalprice", 16, 2)).over(w).cast("double").alias("running_total"),
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("order_seq"),
    )


RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(sum(CAST(o_totalprice AS DECIMAL(16,2))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
"""


# --- sessionization (shared ANSI SQL: lag + gap>30min + running sum) ---------
SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
f AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
  FROM e
),
g AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM f
)
SELECT user_id,
       count(DISTINCT session_id) AS n_sessions,
       count(*) AS n_events,
       min(ts) AS first_ts,
       max(ts) AS last_ts
FROM g GROUP BY user_id
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(SESSIONIZE_SQL)


# --- tumbling window aggregation (the batch analogue of the streaming op) ----
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "6 hours").getField("start").alias("win_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("value", 14, 2)).cast("double").alias("total_value"),
        )
    )


EVENTS_TUMBLING_ORACLE = """
SELECT to_timestamp(floor(epoch(ts) / 21600) * 21600)::TIMESTAMP AS win_start,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


# --- hopping (sliding) window aggregation (round 6): size 6h, slide 2h ------
def events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window analytics — each event lands in size/slide = 3
    windows (F.window with a slide generates the replicated rows). The
    batch analogue of a hopping-window streaming agg; completes the
    window matrix (tumbling / session / hopping). Scale: the 3x fan-out
    happens map-side before one hash aggregate on (win_start, type)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "6 hours", "2 hours").getField("start").alias("win_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("value", 14, 2)).cast("double").alias("total_value"),
        )
    )


# Spark aligns hop starts to epoch 0 in slide increments: the windows
# containing ts are starts (epoch DIV 7200 - k) * 7200 for k in 0..2.
EVENTS_HOPPING_ORACLE = """
SELECT to_timestamp((CAST(floor(epoch(ts) / 7200) AS BIGINT) - k) * 7200)::TIMESTAMP
         AS win_start,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
FROM events, unnest(generate_series(0, 2)) AS t(k)
GROUP BY 1, 2
"""


# --- pivot: per-user event-type counts ---------------------------------------
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).agg(F.count(F.lit(1)))
    out = out.na.fill(0, EVENT_TYPES)
    for t in EVENT_TYPES:
        out = out.withColumnRenamed(t, f"n_{t}")
    return out


EVENTS_PIVOT_ORACLE = """
SELECT user_id,
  count(*) FILTER (WHERE event_type = 'click') AS n_click,
  count(*) FILTER (WHERE event_type = 'error') AS n_error,
  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
  count(*) FILTER (WHERE event_type = 'view') AS n_view
FROM events GROUP BY user_id
"""


# --- rollup via GROUPING SETS (shared SQL) ------------------------------------
ROLLUP_SQL = """
SELECT date_trunc('day', ts) AS day,
       coalesce(event_type, 'ALL') AS event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY GROUPING SETS ((date_trunc('day', ts)), (date_trunc('day', ts), event_type))
"""


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(ROLLUP_SQL)


# --- as-of join: latest order at or before each purchase event ---------------
def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-streams as-of join (round-2 rewrite): NO join operator.

    The round-1 form broadcast the full orders table into a range join
    whose fan-out was every prior order per user before a window trimmed
    it — a driver OOM plus k² row explosion at scale. Instead: union the
    order stream and the purchase-event stream, shuffle ONCE on user_id,
    and carry the latest order forward with last_value(ignorenulls) —
    every input row appears exactly once, any per-user skew is a sort not
    a blow-up.

    Tie semantics match the declarative ASOF_ORACLE: an order dated
    exactly at the event ts qualifies (order rows sort before event rows
    at equal ts via kind 0<1); among equal-date orders the smallest
    o_orderkey wins (descending key puts it last in the frame)."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.lit(None).cast("bigint").alias("o_orderkey"),
            F.lit(None).cast("timestamp").alias("o_orderdate"),
            F.lit(1).alias("kind"),
        )
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
        "o_orderdate",
        F.lit(0).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("kind"), F.desc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev.unionByName(orders)
        .withColumn("asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn("asof_orderdate", F.last("o_orderdate", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select("event_id", "user_id", "ts", "asof_orderkey", "asof_orderdate")
    )


ASOF_ORACLE = """
SELECT event_id, user_id, ts, asof_orderkey, asof_orderdate
FROM (
  SELECT e.event_id, e.user_id, e.ts,
         o.o_orderkey AS asof_orderkey, o.o_orderdate AS asof_orderdate,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey) AS rn
  FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') e
  LEFT JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
) x WHERE rn = 1
"""


# --- TPC-H Q6-style: single-scan filtered aggregate --------------------------
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount", 4, 2))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q6_ORACLE = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --- semi join (EXISTS): orders that have at least one late line -------------
def q4_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


# --- anti join (NOT EXISTS): customers with no orders -------------------------
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


NO_ORDERS_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# --- TPC-H Q17-style: correlated aggregate subquery, decimal-exact ------------
# The classic predicate `l_quantity < 0.2 * avg(l_quantity)` is rewritten to
# the integer-domain equivalent `5 * l_quantity * cnt < sum(l_quantity)` so
# both engines evaluate EXACT decimal arithmetic (avg-of-double would
# reassociate differently per engine). Implemented as join + window (the
# decorrelated plan Catalyst would produce anyway).
Q17_SQL = """
WITH pl AS (
  SELECT p_partkey, p_brand,
         CAST(l_quantity AS DECIMAL(12,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(14,2)) AS price,
         sum(CAST(l_quantity AS DECIMAL(12,2))) OVER (PARTITION BY p_partkey) AS sum_qty,
         count(*) OVER (PARTITION BY p_partkey) AS cnt
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#1'
)
SELECT CAST(sum(price) AS DOUBLE) / 7.0 AS avg_yearly,
       count(*) AS n_small_orders
FROM pl
WHERE qty * 5 * cnt < sum_qty
"""


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(Q17_SQL)


# --- set ops (shared SQL: INTERSECT / EXCEPT on distinct projections) ---------
SETOPS_SQL = """
SELECT lang, 'both' AS src_class FROM
  (SELECT DISTINCT lang FROM documents WHERE source = 'src0'
   INTERSECT
   SELECT DISTINCT lang FROM documents WHERE source = 'src1') a
UNION ALL
SELECT lang, 'only_src0' AS src_class FROM
  (SELECT DISTINCT lang FROM documents WHERE source = 'src0'
   EXCEPT
   SELECT DISTINCT lang FROM documents WHERE source = 'src1') b
"""


def lang_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(SETOPS_SQL)


# --- funnel conversion (shared ANSI SQL: staged min-ts joins, no window) -----
# Ordered step sequence signup -> view -> purchase: each step's anchor is the
# FIRST qualifying event strictly after the previous step's anchor, and the
# funnel converts if the purchase lands within 48 h of the signup. Scale
# shape: three per-user hash aggregates (map-side combinable min) chained by
# user_id equi-joins (AQE-splittable) — the window-free funnel form; no
# per-user event ordering ever shuffles, only one min row per user per stage.
FUNNEL_SQL = """
WITH s AS (
  SELECT user_id, min(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
v AS (
  SELECT e.user_id, min(e.ts) AS view_ts
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'view' AND e.ts > s.signup_ts
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.view_ts
  GROUP BY e.user_id
)
SELECT s.user_id, s.signup_ts, v.view_ts, p.purchase_ts,
       CASE WHEN p.purchase_ts IS NOT NULL
                 AND p.purchase_ts <= s.signup_ts + INTERVAL 48 HOUR
            THEN 1 ELSE 0 END AS converted
FROM s
LEFT JOIN v ON s.user_id = v.user_id
LEFT JOIN p ON v.user_id = p.user_id
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(FUNNEL_SQL)


# --- weekly cohort retention --------------------------------------------------
# cohort_week = epoch week of the user's FIRST event; a user counts as
# retained at week_offset k if any event falls k weeks after the cohort
# week. Scale shape: one per-user min hash agg, one user_id equi-join back
# (AQE-splittable), one distinct-count hash agg on the tiny
# (cohort_week, week_offset) key — no window. Week arithmetic is exact
# BIGINT floor-division of epoch seconds (dialect-split only in the epoch
# extraction: Spark unix_timestamp vs DuckDB epoch, both tz-independent on
# TIMESTAMP columns).
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    wk = F.floor(F.unix_timestamp("ts") / 604800).cast("bigint")
    cwk = F.floor(F.unix_timestamp("first_ts") / 604800).cast("bigint")
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            cwk.alias("cohort_week"),
            (wk - cwk).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


RETENTION_ORACLE = """
WITH f AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
)
SELECT CAST(floor(epoch(f.first_ts) / 604800) AS BIGINT) AS cohort_week,
       CAST(floor(epoch(e.ts) / 604800)
            - floor(epoch(f.first_ts) / 604800) AS BIGINT) AS week_offset,
       count(DISTINCT e.user_id) AS n_active
FROM events e JOIN f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


RELATIONAL_QUERIES = {
    "q6_revenue_delta": (q6_revenue_delta, Q6_ORACLE),
    "q4_priority_semi": (q4_priority_semi, Q4_ORACLE),
    "customers_without_orders": (customers_without_orders, NO_ORDERS_ORACLE),
    "q17_small_quantity": (q17_small_quantity, Q17_SQL),
    "lang_setops": (lang_setops, SETOPS_SQL),
    "q1_pricing_summary": (q1_pricing_summary, Q1_ORACLE),
    "q3_top_orders": (q3_top_orders, Q3_ORACLE),
    "q5_region_revenue": (q5_region_revenue, Q5_ORACLE),
    "top_customers_per_segment": (top_customers_per_segment, TOP_CUST_ORACLE),
    "orders_running_total": (orders_running_total, RUNNING_ORACLE),
    "events_sessionize": (events_sessionize, SESSIONIZE_SQL),
    "events_tumbling_window": (events_tumbling, EVENTS_TUMBLING_ORACLE),
    "events_hopping_window": (events_hopping, EVENTS_HOPPING_ORACLE),
    "events_pivot": (events_pivot, EVENTS_PIVOT_ORACLE),
    "events_rollup": (events_rollup, ROLLUP_SQL),
    "asof_join_purchases": (asof_join_purchases, ASOF_ORACLE),
    "funnel_conversion": (funnel_conversion, FUNNEL_SQL),
    "cohort_retention": (cohort_retention, RETENTION_ORACLE),
}
