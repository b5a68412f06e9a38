"""Standard relational surface over the TPC-H-ish driver tables:
aggregations, multi-way joins, semi/anti joins, windows, sorts/limits,
set ops, rollup/cube, pivot, JSON extraction (SURVEY.md §2.4-§2.6).

All DataFrame-native; Catalyst handles pushdown/pruning/join planning.
Float aggregates follow the helpers.py exactness recipe so the DuckDB
hash compare is bit-stable. Every ordered/limited query carries a full
deterministic sort key (ties broken by primary key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import Q
from .helpers import davg, davg_sql, dsum, dsum_sql


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --- Q1-style pricing summary (hash aggregate, partial+final) --------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(dsum(F.col("l_quantity")).alias("sum_qty"),
                 dsum(F.col("l_extendedprice")).alias("sum_base_price"),
                 dsum(disc_price).alias("sum_disc_price"),
                 dsum(charge).alias("sum_charge"),
                 davg(F.col("l_quantity")).alias("avg_qty"),
                 davg(F.col("l_extendedprice")).alias("avg_price"),
                 davg(F.col("l_discount")).alias("avg_disc"),
                 F.count("*").alias("count_order")))


_PRICING_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_base_price,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {davg_sql('l_quantity')} AS avg_qty,
       {davg_sql('l_extendedprice')} AS avg_price,
       {davg_sql('l_discount')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- Q3-style: 3-way join + agg + top-k ------------------------------------

def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(cu, o.o_custkey == cu.c_custkey)
              .groupBy("l_orderkey", "o_orderdate")
              .agg(dsum(rev).alias("revenue"))
              .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
              .limit(10))


_SHIPPING_SQL = f"""
SELECT l_orderkey, o_orderdate,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- Q5-style: 6-way star join with small-dim broadcasts -------------------

def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation: lineitem⋈orders⋈customer⋈supplier⋈nation⋈region.
    nation/region are broadcast (tiny dims); customer/supplier co-shuffle
    with the facts; AQE reorders/coalesces at runtime."""
    r = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    cu = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(cu, o.o_custkey == cu.c_custkey)
              .join(su, (li.l_suppkey == su.s_suppkey)
                    & (cu.c_nationkey == su.s_nationkey))
              .join(n, su.s_nationkey == n.n_nationkey)
              .join(r, n.n_regionkey == r.r_regionkey)
              .groupBy("n_name")
              .agg(dsum(rev).alias("revenue")))


_REGIONAL_SQL = f"""
SELECT n_name, {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


# --- Q7-style: nation-pair trade volume ------------------------------------

def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-like: revenue between (supplier nation, customer nation)
    pairs for two named nations, by year. Two broadcast dim joins on
    different roles of the same nation table."""
    n1 = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cust_nk"), F.col("n_name").alias("cust_nation")))
    su = _t(spark, sf_dir, "supplier")
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (li.join(o, li.l_orderkey == o.o_orderkey)
                .join(su, li.l_suppkey == su.s_suppkey)
                .join(cu, o.o_custkey == cu.c_custkey)
                .join(n1, su.s_nationkey == F.col("supp_nk"))
                .join(n2, cu.c_nationkey == F.col("cust_nk"))
                .filter(F.col("supp_nation").isin("NATION_0", "NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5", "NATION_6", "NATION_7", "NATION_8", "NATION_9")
                        & F.col("cust_nation").isin("NATION_0", "NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5", "NATION_6", "NATION_7", "NATION_8", "NATION_9")
                        & (F.col("supp_nation") != F.col("cust_nation"))))
    return (joined
            .withColumn("ship_year", F.year("l_shipdate").cast("int"))
            .groupBy("supp_nation", "cust_nation", "ship_year")
            .agg(dsum(rev).alias("revenue")))


_Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3', 'NATION_4', 'NATION_5', 'NATION_6', 'NATION_7', 'NATION_8', 'NATION_9')
  AND n2.n_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3', 'NATION_4', 'NATION_5', 'NATION_6', 'NATION_7', 'NATION_8', 'NATION_9')
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""


def product_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-like: profit proxy (revenue - retailprice*qty share) per
    supplier nation and year, parts filtered by name substring."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("a"))
    su = _t(spark, sf_dir, "supplier")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.col("p_retailprice") * F.col("l_quantity") * 0.01)
    return (li.join(p, li.l_partkey == p.p_partkey)
              .join(su, li.l_suppkey == su.s_suppkey)
              .join(o, li.l_orderkey == o.o_orderkey)
              .join(n, su.s_nationkey == n.n_nationkey)
              .withColumn("order_year", F.year("o_orderdate").cast("int"))
              .groupBy(F.col("n_name").alias("nation"), "order_year")
              .agg(dsum(profit).alias("profit")))


_Q9_SQL = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS order_year,
       {dsum_sql('l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.01')} AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%a%'
GROUP BY 1, 2
"""


# --- semi / anti joins -----------------------------------------------------

def priority_orders_with_late_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi (EXISTS): orders having at least one lineitem shipped
    after the order date + 90 days window start."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-09-01")
    sel = o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
    return (sel.groupBy("o_orderpriority")
               .agg(F.count("*").alias("order_count")))


_SEMI_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > TIMESTAMP '1997-09-01 00:00:00')
GROUP BY o_orderpriority
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti (NOT EXISTS): customers with no orders since 2000
    (every fixture customer has SOME order, so the unscoped variant is
    vacuously empty — churn-since-a-date is the meaningful form)."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    return (cu.join(o, cu.c_custkey == o.o_custkey, "left_anti")
              .select("c_custkey", "c_name", "c_acctbal"))


_ANTI_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
"""


# --- sorts / limits --------------------------------------------------------

def top_customers_by_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer")
    return (cu.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
              .limit(25)
              .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment"))


_TOPCUST_SQL = """
SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
ORDER BY c_acctbal DESC, c_custkey LIMIT 25
"""


# --- window functions ------------------------------------------------------

def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (o.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1)
             .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"))


_LATEST_ORDER_SQL = """
WITH ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM ranked WHERE rn = 1
"""


def customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer in order-date order — running-sum
    frame; decimal accumulation keeps the prefix sums exact."""
    o = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
               .orderBy("o_orderdate", "o_orderkey")
               .rowsBetween(Window.unboundedPreceding, 0))
    return o.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(30,10)")).over(w)
         .cast("double").alias("running_spend"))


_RUNNING_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend
FROM orders
"""


def event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows via lag(): a >30-minute gap starts a new session;
    emit sessions per user with tick counts. Lag/cumulative-sum pattern
    — the batch analogue of streaming session windows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    with_flag = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0))
    with_sid = with_flag.withColumn(
        "session_seq",
        F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
                  .rowsBetween(Window.unboundedPreceding, 0)))
    return (with_sid.groupBy("user_id", "session_seq")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end")))


_SESSION_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sids AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM gaps
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sids GROUP BY user_id, session_seq
"""


def event_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window — the
    streaming-capable form of event_sessionization (same transform
    binds to readStream + watermark; parity pinned in
    test_streaming). Window start = first event, end = last event +
    gap; events merge while each starts strictly before the previous
    window's end (i.e. a gap of exactly 30:00 starts a NEW session —
    note the >= in the oracle vs the lag-based query's >)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("first_event"),
                 F.max("ts").alias("last_event"))
            .select("user_id",
                    F.col("session_window.start").alias("win_start"),
                    F.col("session_window.end").alias("win_end"),
                    "n_events", "first_event", "last_event"))


_SESSION_WINDOW_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sids AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM gaps
)
SELECT user_id, min(ts) AS win_start,
       max(ts) + INTERVAL 30 MINUTE AS win_end,
       count(*) AS n_events,
       min(ts) AS first_event, max(ts) AS last_event
FROM sids GROUP BY user_id, session_seq
"""


# --- set operations --------------------------------------------------------

def repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers active in both 1996 and 1999."""
    o = _t(spark, sf_dir, "orders")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    y99 = o.filter(F.year("o_orderdate") == 1999).select("o_custkey")
    return y96.intersect(y99)


_REPEAT_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
"""


def churned_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: active in 1996, gone by 2000."""
    o = _t(spark, sf_dir, "orders")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    y00 = o.filter(F.year("o_orderdate") >= 2000).select("o_custkey")
    return y96.exceptAll(y96.join(y00, "o_custkey", "left_semi")).distinct()


_CHURN_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 2000
"""


def all_party_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key domains with a tag column."""
    cu = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("party_key"), F.lit("customer").alias("kind"))
    su = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("party_key"), F.lit("supplier").alias("kind"))
    return cu.union(su).distinct()


_PARTY_SQL = """
SELECT c_custkey AS party_key, 'customer' AS kind FROM customer
UNION
SELECT s_suppkey AS party_key, 'supplier' AS kind FROM supplier
"""


# --- grouping sets / rollup / cube ----------------------------------------

def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (status, year): per-group, per-status and grand totals."""
    o = _t(spark, sf_dir, "orders")
    return (o.withColumn("order_year", F.year("o_orderdate").cast("int"))
             .rollup("o_orderstatus", "order_year")
             .agg(dsum(F.col("o_totalprice")).alias("total_price"),
                  F.count("*").alias("n_orders")))


_ROLLUP_SQL = f"""
SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS order_year,
       {dsum_sql('o_totalprice')} AS total_price, count(*) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderstatus, CAST(year(o_orderdate) AS INT))
"""


def status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
             .agg(F.count("*").alias("n_orders"),
                  dsum(F.col("o_totalprice")).alias("total_price")))


_CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --- pivot -----------------------------------------------------------------

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts into one column per event type (explicit value
    list — never let pivot scan for distinct values at scale)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.withColumn("event_day", F.date_format("ts", "yyyy-MM-dd"))
              .groupBy("event_day")
              .pivot("event_type", _EVENT_TYPES)
              .agg(F.count(F.lit(1)))
              .na.fill(0, _EVENT_TYPES))


_PIVOT_SQL = f"""
SELECT strftime(ts, '%Y-%m-%d') AS event_day,
       {', '.join(f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}"
                  for t in _EVENT_TYPES)}
FROM events GROUP BY 1
"""


# --- outer joins -----------------------------------------------------------

def customer_order_counts_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER: every customer, with 0/NULL-safe order stats."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    agg = (o.groupBy("o_custkey")
            .agg(F.count("*").alias("n_orders"),
                 dsum(F.col("o_totalprice")).alias("spend")))
    return (cu.join(agg, cu.c_custkey == agg.o_custkey, "left")
              .select("c_custkey", "c_mktsegment",
                      F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
                      F.coalesce("spend", F.lit(0.0)).alias("spend")))


_LEFT_SQL = f"""
WITH agg AS (
  SELECT o_custkey, count(*) AS n_orders,
         {dsum_sql('o_totalprice')} AS spend
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_mktsegment,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(spend, 0.0) AS spend
FROM customer LEFT JOIN agg ON c_custkey = o_custkey
"""


def nation_presence_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER between per-nation customer and supplier censuses —
    nations can exist on either side only."""
    cu = (_t(spark, sf_dir, "customer").groupBy("c_nationkey")
          .agg(F.count("*").alias("n_customers")))
    su = (_t(spark, sf_dir, "supplier").groupBy("s_nationkey")
          .agg(F.count("*").alias("n_suppliers")))
    return (cu.join(su, cu.c_nationkey == su.s_nationkey, "full_outer")
              .select(F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
                      F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
                      F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers")))


_FULL_SQL = """
WITH cu AS (SELECT c_nationkey, count(*) AS n_customers
            FROM customer GROUP BY c_nationkey),
     su AS (SELECT s_nationkey, count(*) AS n_suppliers
            FROM supplier GROUP BY s_nationkey)
SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(n_suppliers, 0) AS n_suppliers
FROM cu FULL OUTER JOIN su ON c_nationkey = s_nationkey
"""


# --- grouping sets (explicit, beyond rollup/cube) --------------------------

_GSETS_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty, count(*) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
"""


def lineitem_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (same Catalyst Expand operator as
    rollup/cube; one shuffle for all three groupings). Built on the
    DataFrame, not a temp view, so concurrent runs share no catalog
    state; the optimized plan equals that of the oracle SQL."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupingSets([["l_returnflag", "l_linestatus"],
                             ["l_linestatus"], []],
                            "l_returnflag", "l_linestatus")
            .agg(dsum(F.col("l_quantity")).alias("sum_qty"),
                 F.count("*").alias("n_items")))


# --- ranking window family -------------------------------------------------

def order_value_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile / lag in one per-customer window
    (full deterministic sort key: totalprice desc, orderkey)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return o.select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.rank().over(w).cast("int").alias("price_rank"),
        F.dense_rank().over(w).cast("int").alias("price_dense_rank"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.lag("o_totalprice").over(w).alias("next_higher_price"))


_RANKING_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(rank() OVER w AS INT) AS price_rank,
       CAST(dense_rank() OVER w AS INT) AS price_dense_rank,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       lag(o_totalprice) OVER w AS next_higher_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
"""


# --- distinct & approximate aggregates -------------------------------------

def distinct_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (p.groupBy("p_brand")
             .agg(F.countDistinct("p_type").alias("n_types"),
                  F.countDistinct("p_size").alias("n_sizes"),
                  F.count("*").alias("n_parts")))


_DISTINCT_SQL = """
SELECT p_brand, count(DISTINCT p_type) AS n_types,
       count(DISTINCT p_size) AS n_sizes, count(*) AS n_parts
FROM part GROUP BY p_brand
"""


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type on the PORTABLE HLL
    grid: md5-register sketch state + the exact-dyadic estimator, so
    the whole query is DuckDB-oracled (same soundness argument as
    lang_distinct_token_estimates: raw path is exact dyadic
    arithmetic, branch decision bit-identical, the linear-counting ln
    absorbed by rounding LAST). Engine-native approx_count_distinct
    state is engine-private, so it could not be oracled."""
    from ..operators import sketches
    ev = _t(spark, sf_dir, "events")
    grid = sketches.hll_build_grouped(ev, ["event_type"], "user_id")
    est = sketches.hll_estimate_grouped(grid, ["event_type"])
    vol = ev.groupBy("event_type").agg(F.count("*").alias("n_events"))
    return (est.join(vol, "event_type")
            .select("event_type",
                    F.round("est_distinct", 6).alias("approx_users"),
                    "n_events"))


def _approx_users_sql() -> str:
    from ..operators.sketches import HLL_M
    m = HLL_M
    alpha_m2 = repr((0.7213 / (1.0 + 1.079 / m)) * m * m)
    return rf"""
WITH cells AS (
  SELECT event_type,
         CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % {m} AS INT) AS reg,
         CAST(CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                            9, 8) AS BIGINT) = 0
                   THEN 33
                   ELSE 33 - length(bin(CAST('0x' ||
                        substr(md5(CAST(user_id AS VARCHAR)), 9, 8)
                        AS BIGINT)))
              END AS INT) AS rho
  FROM events
), grid AS (
  SELECT event_type, reg, MAX(rho) AS max_rho
  FROM cells GROUP BY event_type, reg
), agg AS (
  SELECT event_type,
         SUM(pow(2.0, -max_rho)) AS s_hit,
         count(*) AS n_present
  FROM grid GROUP BY event_type
), est AS (
  SELECT event_type,
         {alpha_m2} / (s_hit + CAST({m} - n_present AS DOUBLE)) AS raw,
         {m} - n_present AS zeros
  FROM agg
), vol AS (
  SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
)
SELECT est.event_type,
       round(CASE WHEN raw <= 2.5 * {m} AND zeros > 0
                  THEN {float(m)!r} * ln({float(m)!r} / zeros)
                  ELSE raw END, 6) AS approx_users,
       vol.n_events
FROM est JOIN vol ON est.event_type = vol.event_type
"""


# --- correlated / scalar subquery patterns ---------------------------------

def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-style correlated scalar subquery: revenue locked in lineitems
    whose quantity is under 20% of that part's average. Decorrelated as
    a per-part aggregate join (what Catalyst does to the subquery form
    anyway — written explicitly so the join strategy is visible)."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = (li.groupBy(F.col("l_partkey").alias("pk"))
                  .agg((dsum(F.col("l_quantity")) / F.count("*") * 0.2)
                       .alias("qty_threshold")))
    return (li.join(per_part, li.l_partkey == per_part.pk)
              .filter(F.col("l_quantity") < F.col("qty_threshold"))
              .agg(dsum(F.col("l_extendedprice")).alias("small_qty_revenue"),
                   F.count("*").alias("n_lineitems")))


_Q17_SQL = f"""
WITH per_part AS (
  SELECT l_partkey AS pk,
         {dsum_sql('l_quantity')} / count(*) * 0.2 AS qty_threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT {dsum_sql('l_extendedprice')} AS small_qty_revenue,
       count(*) AS n_lineitems
FROM lineitem JOIN per_part ON l_partkey = pk
WHERE l_quantity < qty_threshold
"""


def above_average_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: suppliers with balance above the
    global mean — the scalar broadcast-crossjoins (no collect)."""
    su = _t(spark, sf_dir, "supplier")
    mean = su.agg(davg(F.col("s_acctbal")).alias("mean_bal"))
    return (su.crossJoin(F.broadcast(mean))
              .filter(F.col("s_acctbal") > F.col("mean_bal"))
              .select("s_suppkey", "s_name", "s_acctbal"))


_SCALAR_SQL = f"""
SELECT s_suppkey, s_name, s_acctbal FROM supplier
WHERE s_acctbal > (SELECT {davg_sql('s_acctbal')} FROM supplier)
"""


def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated comparison against the per-customer mean, decorrelated
    via a window (single shuffle, no self-join)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cust_avg = (F.sum(F.col("o_totalprice").cast("decimal(30,10)")).over(w)
                .cast("double") / F.count("*").over(w))
    return (o.withColumn("cust_avg", cust_avg)
             .filter(F.col("o_totalprice") > F.col("cust_avg"))
             .select("o_custkey", "o_orderkey", "o_totalprice", "cust_avg"))


_CORR_SQL = """
WITH w AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
              OVER (PARTITION BY o_custkey) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice, cust_avg
FROM w WHERE o_totalprice > cust_avg
"""


def top_suppliers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-like: suppliers achieving the maximum period revenue —
    aggregate, broadcast the scalar max back, equality filter (exact
    decimal revenue makes the equality safe)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01"))
    su = _t(spark, sf_dir, "supplier")
    rev = (li.groupBy("l_suppkey")
             .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (rev.crossJoin(F.broadcast(mx))
               .filter(F.col("total_revenue") == F.col("max_revenue"))
               .join(su, F.col("l_suppkey") == su.s_suppkey)
               .select("s_suppkey", "s_name", "total_revenue"))


_Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         {dsum_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-like: above-average-balance customers with no recent orders
    — scalar subquery + anti join composed, grouped by segment."""
    cu = _t(spark, sf_dir, "customer")
    avg_bal = (cu.filter(F.col("c_acctbal") > 0.0)
                 .agg(davg(F.col("c_acctbal")).alias("avg_bal")))
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01")
    rich = (cu.crossJoin(F.broadcast(avg_bal))
              .filter(F.col("c_acctbal") > F.col("avg_bal")))
    inactive = rich.join(recent, rich.c_custkey == recent.o_custkey,
                         "left_anti")
    return (inactive.groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_customers"),
                 dsum(F.col("c_acctbal")).alias("total_balance")))


_Q22_SQL = f"""
SELECT c_mktsegment, count(*) AS n_customers,
       {dsum_sql('c_acctbal')} AS total_balance
FROM customer
WHERE c_acctbal > (SELECT {davg_sql('c_acctbal')} FROM customer
                   WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_mktsegment
"""


# --- percentiles & histograms ----------------------------------------------

def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per status (sort-based; for the
    100 TB path swap in approx_percentile with a documented error
    bound — kept exact here for the oracle)."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderstatus")
             .agg(F.percentile("o_totalprice", 0.5).alias("p50"),
                  F.percentile("o_totalprice", 0.9).alias("p90"),
                  F.percentile("o_totalprice", 0.99).alias("p99"),
                  F.count("*").alias("n_orders")))


_PCT_SQL = """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       quantile_cont(o_totalprice, 0.99) AS p99,
       count(*) AS n_orders
FROM orders GROUP BY o_orderstatus
"""


def approx_order_value_percentiles(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Sketch-based percentiles on the PORTABLE HDR grid: per-status
    histogram grids (bounded mergeable state, one pass, map-side
    combined, no per-group sort — the only shape that survives a
    trillion-row group) walked to p50/p90/p99. The grid and
    cumulative walk are pure integer/dyadic arithmetic, so the whole
    query is DuckDB-oracled (engine-native approx_percentile state is
    engine-private); the relative-error contract (<= 1/16 by bucket
    construction) is pytest-pinned next to the exact query."""
    from ..operators import sketches
    o = _t(spark, sf_dir, "orders")
    grid = sketches.hdr_build_grouped(o, ["o_orderstatus"],
                                      "o_totalprice")
    qs = sketches.hdr_quantiles_grouped(grid, ["o_orderstatus"],
                                        (0.5, 0.9, 0.99))
    return (qs.groupBy("o_orderstatus")
            .agg(F.max(F.when(F.col("q") == 0.5, F.col("est")))
                 .alias("p50"),
                 F.max(F.when(F.col("q") == 0.9, F.col("est")))
                 .alias("p90"),
                 F.max(F.when(F.col("q") == 0.99, F.col("est")))
                 .alias("p99"),
                 F.max("n_total").cast("long").alias("n_orders")))


_APPROX_PCTL_SQL = """
WITH k AS (
  SELECT o_orderstatus,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS k
  FROM orders WHERE floor(o_totalprice * 100) >= 1
), b AS (
  SELECT o_orderstatus,
         CAST(length(bin(k)) - 1 AS BIGINT) AS e,
         CAST(pow(2.0, length(bin(k)) - 1) AS BIGINT) AS p, k
  FROM k
), g AS (
  SELECT o_orderstatus,
         CAST(e * 16 + floor((k - p) * 16 / p) AS BIGINT) AS o,
         count(*) AS c
  FROM b GROUP BY o_orderstatus, e * 16 + floor((k - p) * 16 / p)
), cum AS (
  SELECT o_orderstatus, o, c,
         SUM(c) OVER (PARTITION BY o_orderstatus ORDER BY o
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM g
), n AS (
  SELECT o_orderstatus, SUM(c) AS n_total FROM g GROUP BY o_orderstatus
), qs AS (
  SELECT CAST(q AS DOUBLE) AS q
  FROM (VALUES (0.5), (0.9), (0.99)) t(q)
), hit AS (
  SELECT cum.o_orderstatus, q, n_total, MIN(o) AS o
  FROM cum JOIN n USING (o_orderstatus), qs
  WHERE cum >= ceil(q * n_total)
  GROUP BY cum.o_orderstatus, q, n_total
), dec AS (
  SELECT o_orderstatus, q, n_total, o,
         CAST(floor(o / 16) AS BIGINT) AS e,
         o - CAST(floor(o / 16) AS BIGINT) * 16 AS s
  FROM hit
)
SELECT o_orderstatus,
       MAX(CASE WHEN q = 0.5 THEN pow(2.0, e) * (s + 16.5) / 1600.0 END)
         AS p50,
       MAX(CASE WHEN q = 0.9 THEN pow(2.0, e) * (s + 16.5) / 1600.0 END)
         AS p90,
       MAX(CASE WHEN q = 0.99 THEN pow(2.0, e) * (s + 16.5) / 1600.0 END)
         AS p99,
       CAST(MAX(n_total) AS BIGINT) AS n_orders
FROM dec GROUP BY o_orderstatus
"""


def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound histogram via width_bucket (bucket 0 / n+1 catch
    out-of-range) — single shuffle on the bucket id."""
    ev = _t(spark, sf_dir, "events")
    bucket = (F.when(F.col("value") < 0.0, 0)
               .when(F.col("value") >= 200.0, 21)
               .otherwise(F.floor(F.col("value") / 10.0) + 1))
    return (ev.withColumn("bucket", bucket.cast("int"))
              .groupBy("bucket")
              .agg(F.count("*").alias("n_events"),
                   F.min("value").alias("min_value"),
                   F.max("value").alias("max_value")))


_HIST_SQL = """
SELECT CAST(CASE WHEN value < 0.0 THEN 0
                 WHEN value >= 200.0 THEN 21
                 ELSE floor(value / 10.0) + 1 END AS INT) AS bucket,
       count(*) AS n_events,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY 1
"""


# --- JSON ------------------------------------------------------------------

def event_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 JSON parse over the props column: extract $.k, aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (ev.withColumn("k", k)
              .groupBy("event_type")
              .agg(F.count("k").alias("n_with_k"),
                   F.sum(F.col("k").cast("long")).alias("sum_k"),
                   F.min("k").alias("min_k"),
                   F.max("k").alias("max_k")))


_JSON_SQL = """
SELECT event_type,
       count(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
"""


def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis (the query an engineer runs BEFORE
    choosing a salting factor / AQE skew threshold for the
    orders⋈lineitem join): per-key row
    counts on the probe side reduced to one distribution row —
    distinct keys, max/mean per-key count, p99, and the heaviest
    key's share of all rows. A max≫p99 or top1_share in the percents
    is the signature that one reducer will strangle the shuffle at
    100 TB. One groupBy (exact counts) + one single-row aggregate
    over the key-count table — vocab-of-keys-sized, never
    corpus-wide state."""
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_orderkey").agg(F.count("*").alias("n"))
    return counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        (F.sum("n").cast("double") / F.count("*")).alias("mean_n"),
        F.expr("percentile_cont(0.99) WITHIN GROUP (ORDER BY n)")
         .alias("p99_n"),
        (F.max("n").cast("double") / F.sum("n")).alias("top1_share"))


_SKEW_REPORT_SQL = """
WITH counts AS (
  SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY l_orderkey
)
SELECT count(*) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       MAX(n) AS max_n,
       CAST(SUM(n) AS DOUBLE) / count(*) AS mean_n,
       percentile_cont(0.99) WITHIN GROUP (ORDER BY n) AS p99_n,
       CAST(MAX(n) AS DOUBLE) / SUM(n) AS top1_share
FROM counts
"""

QUERIES: dict[str, Q] = {
    "join_key_skew_report": Q(join_key_skew_report, _SKEW_REPORT_SQL),
    "pricing_summary": Q(pricing_summary, _PRICING_SQL),
    "shipping_priority": Q(shipping_priority, _SHIPPING_SQL),
    "regional_revenue": Q(regional_revenue, _REGIONAL_SQL),
    "nation_trade_volume": Q(nation_trade_volume, _Q7_SQL),
    "product_profit_by_nation_year": Q(product_profit_by_nation_year, _Q9_SQL),
    "priority_orders_with_late_items": Q(priority_orders_with_late_items, _SEMI_SQL),
    "customers_without_orders": Q(customers_without_orders, _ANTI_SQL),
    "top_customers_by_balance": Q(top_customers_by_balance, _TOPCUST_SQL),
    "latest_order_per_customer": Q(latest_order_per_customer, _LATEST_ORDER_SQL),
    "customer_running_spend": Q(customer_running_spend, _RUNNING_SQL),
    "event_sessionization": Q(event_sessionization, _SESSION_SQL),
    "event_session_windows": Q(event_session_windows, _SESSION_WINDOW_SQL),
    "repeat_buyers": Q(repeat_buyers, _REPEAT_SQL),
    "churned_buyers": Q(churned_buyers, _CHURN_SQL),
    "all_party_keys": Q(all_party_keys, _PARTY_SQL),
    "revenue_rollup": Q(revenue_rollup, _ROLLUP_SQL),
    "status_priority_cube": Q(status_priority_cube, _CUBE_SQL),
    "event_type_pivot": Q(event_type_pivot, _PIVOT_SQL),
    "customer_order_counts_left": Q(customer_order_counts_left, _LEFT_SQL),
    "nation_presence_full_outer": Q(nation_presence_full_outer, _FULL_SQL),
    "lineitem_grouping_sets": Q(lineitem_grouping_sets, _GSETS_SQL),
    "order_value_ranking": Q(order_value_ranking, _RANKING_SQL),
    "distinct_parts_per_brand": Q(distinct_parts_per_brand, _DISTINCT_SQL),
    "approx_distinct_users": Q(approx_distinct_users,
                               _approx_users_sql()),
    "small_quantity_revenue": Q(small_quantity_revenue, _Q17_SQL),
    "above_average_suppliers": Q(above_average_suppliers, _SCALAR_SQL),
    "orders_above_customer_avg": Q(orders_above_customer_avg, _CORR_SQL),
    "top_suppliers_by_revenue": Q(top_suppliers_by_revenue, _Q15_SQL),
    "rich_inactive_customers": Q(rich_inactive_customers, _Q22_SQL),
    "order_value_percentiles": Q(order_value_percentiles, _PCT_SQL),
    "approx_order_value_percentiles": Q(approx_order_value_percentiles,
                                        _APPROX_PCTL_SQL),
    "event_value_histogram": Q(event_value_histogram, _HIST_SQL),
    "event_props_extract": Q(event_props_extract, _JSON_SQL),
}


def user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build (r5 — operators/scd.py): the event log's
    per-user event_type stream compacted into validity intervals
    (valid_from inclusive, valid_to exclusive, NULL = current). The
    temporal-dimension dual of the as-of join: this query BUILDS the
    versioned dim that point-in-time enrichment reads."""
    from ..operators import scd
    ev = _t(spark, sf_dir, "events")
    return scd.history_from_events(ev, "user_id", "ts", "event_type")


_SCD2_HISTORY_SQL = """
WITH changed AS (
  SELECT user_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_type) AS rn,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_type) AS prev
  FROM events
), runs AS (
  SELECT user_id, event_type, ts,
         lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_type) AS valid_to
  FROM changed WHERE rn = 1 OR event_type IS DISTINCT FROM prev
)
SELECT user_id, event_type, ts AS valid_from, valid_to FROM runs
"""


def user_state_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension snapshot (r5): the one live state per
    user at 2024-01-15T00:00:00Z — SCD2 history filtered to the rows
    whose validity interval contains the instant. Users whose first
    event is later are absent (didn't exist yet)."""
    from ..operators import scd
    ev = _t(spark, sf_dir, "events")
    hist = scd.history_from_events(ev, "user_id", "ts", "event_type")
    at = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return scd.snapshot_as_of(hist, at)


_SCD2_SNAPSHOT_SQL = _SCD2_HISTORY_SQL.replace(
    "SELECT user_id, event_type, ts AS valid_from, valid_to FROM runs",
    """SELECT user_id, event_type, ts AS valid_from, valid_to FROM runs
WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')""")


QUERIES.update({
    "user_state_history": Q(user_state_history, _SCD2_HISTORY_SQL),
    "user_state_snapshot": Q(user_state_snapshot, _SCD2_SNAPSHOT_SQL),
})


def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (r5 ops tier — the dbt-test /
    Great-Expectations surface every ingest owner runs before
    publishing a table): one row per constraint with its violation
    count. Families covered: PRIMARY-KEY uniqueness (count minus
    distinct), NOT-NULL, ACCEPTED-RANGE (each one aggregate-only —
    single scan, no join), and REFERENTIAL integrity (anti-join
    count — key-width shuffle only). The report unions six 1-row
    aggregates; at 100 TB each constraint is an independent linear
    scan or key join, and AQE runs the tiny union legs in parallel."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cu = _t(spark, sf_dir, "customer")
    return dq_report_for(o, li, cu)


def dq_report_for(o: DataFrame, li: DataFrame, cu: DataFrame) -> DataFrame:
    """data_quality_report's constraint legs over caller-supplied
    frames — the test entry point (plant corrupt rows, assert each
    constraint fires with the exact expected count)."""

    def one(name, df):
        return df.select(F.lit(name).alias("constraint"),
                         F.col("n").cast("long").alias("n_violations"))

    legs = [
        one("orders_pk_unique",
            o.agg((F.count("o_orderkey")
                   - F.countDistinct("o_orderkey")).alias("n"))),
        one("lineitem_pk_unique",
            # countDistinct over a STRUCT, not the bare columns: a
            # multi-arg countDistinct drops rows where ANY argument
            # is NULL (so a NULL-keyed duplicate would go uncounted,
            # and the DuckDB oracle's count(DISTINCT (a, b)) — which
            # counts the tuple — would diverge); the struct is
            # non-null even when its fields are (review r5)
            li.agg((F.count("*") - F.countDistinct(
                F.struct("l_orderkey", "l_linenumber"))).alias("n"))),
        one("orders_custkey_not_null",
            o.agg(F.sum(F.col("o_custkey").isNull().cast("int"))
                  .alias("n"))),
        one("lineitem_qty_positive",
            li.agg(F.sum((F.col("l_quantity") <= 0).cast("int"))
                   .alias("n"))),
        one("lineitem_discount_in_unit_range",
            li.agg(F.sum(((F.col("l_discount") < 0)
                          | (F.col("l_discount") > 1)).cast("int"))
                   .alias("n"))),
        one("orders_custkey_fk_customer",
            # SQL FK semantics: a NULL key is not a referential
            # violation (the not-null constraint owns that case)
            o.filter(F.col("o_custkey").isNotNull())
             .join(cu, o.o_custkey == cu.c_custkey, "left_anti")
             .agg(F.count("*").alias("n"))),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


_DQ_SQL = """
SELECT 'orders_pk_unique' AS constraint,
       CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT)
         AS n_violations
FROM orders
UNION ALL
SELECT 'lineitem_pk_unique',
       CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'orders_custkey_not_null',
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem_qty_positive',
       CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_discount_in_unit_range',
       CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'orders_custkey_fk_customer',
       CAST((SELECT count(*) FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
            AS BIGINT)
"""

QUERIES.update({
    "data_quality_report": Q(data_quality_report, _DQ_SQL),
})


def order_price_hdr_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-sketch grid over o_totalprice (r5 —
    operators/sketches.py HDR tier): <= m*64 rows of (bucket, count)
    no matter the corpus size, merging by addition across partitions/
    days. The exact-integer log-bucketing makes the GRID itself
    DuckDB-oracled — same portability property as the count-min
    sketch."""
    from ..operators import sketches
    o = _t(spark, sf_dir, "orders")
    return sketches.hdr_build(o, "o_totalprice")


_HDR_BUCKETS_SQL = """(
  WITH k AS (
    SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS k
    FROM orders
    WHERE floor(o_totalprice * 100) >= 1
  ), b AS (
    SELECT CAST(length(bin(k)) - 1 AS BIGINT) AS e,
           CAST(pow(2.0, length(bin(k)) - 1) AS BIGINT) AS p, k
    FROM k
  )
  SELECT CAST(e * 16 + floor((k - p) * 16 / p) AS BIGINT) AS o
  FROM b
)"""

_HDR_GRID_SQL = f"""
SELECT o, count(*) AS c FROM {_HDR_BUCKETS_SQL} GROUP BY o
"""


def order_price_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of o_totalprice estimated FROM the sketch grid
    (r5): cumulative walk over the <=1024-row grid, midpoint of the
    bucket holding the ceil(q*N)-th smallest value. Bounded <=1/16
    relative error vs the exact order statistic (pinned in
    tests/test_operators.py) — the answer a year of merged daily
    sketches gives without re-sorting history."""
    from ..operators import sketches
    o = _t(spark, sf_dir, "orders")
    grid = sketches.hdr_build(o, "o_totalprice")
    return sketches.hdr_quantiles(grid, (0.5, 0.9, 0.99))


_HDR_QUANTILES_SQL = f"""
WITH g AS ({_HDR_GRID_SQL}),
cum AS (
  SELECT o, c,
         SUM(c) OVER (ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum
  FROM g
),
n AS (SELECT SUM(c) AS n_total FROM g),
qs AS (SELECT CAST(q AS DOUBLE) AS q
       FROM (VALUES (0.5), (0.9), (0.99)) t(q)),
hit AS (
  SELECT q, n_total, MIN(o) AS o
  FROM cum, qs, n
  WHERE cum >= ceil(q * n_total)
  GROUP BY q, n_total
),
dec AS (
  SELECT q, n_total, o,
         CAST(floor(o / 16) AS BIGINT) AS e,
         o - CAST(floor(o / 16) AS BIGINT) * 16 AS s
  FROM hit
)
SELECT q, pow(2.0, e) * (s + 16.5) / 1600.0 AS est,
       CAST(n_total AS BIGINT) AS n_total
FROM dec
"""


def user_profile_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application (r5 — operators/cdc.py): the per-user
    profile snapshot as of the cutoff, merged with the post-cutoff
    event changelog under MERGE semantics — latest change per key
    wins, 'error' events delete the profile, everything else upserts.
    The current-state dual of user_state_history's full SCD2 history.
    One changelog shuffle on the key + one co-partitioned full-outer
    join; applying a day never rescans history."""
    from ..operators import cdc
    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    base = cdc.latest_changes(
        ev.filter(F.col("ts") < cutoff), "user_id",
        ["ts", "event_id"]).select(
            "user_id", F.col("event_type").alias("state"),
            F.col("ts").alias("updated_ts"))
    changes = ev.filter(F.col("ts") >= cutoff).select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
         .otherwise(F.lit("U")).alias("op"),
        F.col("event_type").alias("state"),
        F.col("ts").alias("updated_ts"))
    return cdc.apply_changelog(base, changes, "user_id",
                               ["ts", "event_id"], "op",
                               ["state", "updated_ts"])


_CDC_MERGE_SQL = """
WITH base AS (
  SELECT user_id, event_type AS state, ts AS updated_ts
  FROM (SELECT user_id, event_type, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE ts < TIMESTAMP '2024-01-15 00:00:00') x
  WHERE rn = 1
),
latest AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type AS state, ts AS updated_ts
  FROM (SELECT user_id, event_type, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15 00:00:00') x
  WHERE rn = 1
)
SELECT COALESCE(b.user_id, c.user_id) AS user_id,
       CASE WHEN c.user_id IS NOT NULL THEN c.state
            ELSE b.state END AS state,
       CASE WHEN c.user_id IS NOT NULL THEN c.updated_ts
            ELSE b.updated_ts END AS updated_ts
FROM base b FULL OUTER JOIN latest c ON b.user_id = c.user_id
WHERE c.user_id IS NULL OR c.op <> 'D'
"""

QUERIES.update({
    "order_price_hdr_sketch": Q(order_price_hdr_sketch, _HDR_GRID_SQL),
    "order_price_hdr_quantiles": Q(order_price_hdr_quantiles,
                                   _HDR_QUANTILES_SQL),
    "user_profile_merged": Q(user_profile_merged, _CDC_MERGE_SQL),
})


def supplier_purchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer->supplier purchase graph (r5b —
    operators/graph.pagerank): who actually matters in the supply
    network, weighted by the structure of who buys from whom — the
    centrality companion to the component/keeper machinery. Fully
    DuckDB-oracled since r7: the FIXED iteration count (a model
    hyperparameter, never data-sized) lets the oracle UNROLL the 8
    power-iteration rounds as chained CTEs — same damped formulation,
    same dangling-mass redistribution, same literals — and the one
    float-order-sensitive step (per-vertex contribution sums) is
    absorbed by rounding the final rank to 9 decimals as the LAST
    operation on both sides (cumulative cross-engine drift is ~1e-16
    abs; 9 decimals still certify ~6 significant digits of a ~1e-3
    rank). The pure-Python power-iteration parity stays pinned in
    tests/test_operators.py."""
    from ..operators import graph
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (li.join(o, li.l_orderkey == o.o_orderkey)
             .select(F.col("o_custkey").alias("src"),
                     # supplier vertices offset out of the customer id
                     # space (both are small positive ints)
                     (F.col("l_suppkey") + 1_000_000).alias("dst")))
    return (graph.pagerank(edges, n_iter=8)
            .filter(F.col("vertex") >= 1_000_000)
            .select((F.col("vertex") - 1_000_000).alias("s_suppkey"),
                    F.round("rank", 9).alias("rank")))


def _pagerank_sql(n_iter: int = 8, damping: float = 0.85) -> str:
    """DuckDB twin of graph.pagerank over the purchase graph,
    unrolled: r0 = 1/n; each round computes the dangling mass (rank
    on vertices with no out-edges), the per-destination received sum,
    and the damped update (1-d)/n + d*(received + dmass/n).

    Every round CTE is MATERIALIZED (r14): DuckDB's default CTE
    inlining re-evaluates each referenced round in place, so the
    unrolled 8-round chain — where round k references round k-1 three
    times (dangling, contribs, update) — exploded combinatorially
    (~3^k re-evaluations: measured 79 s at sf0.001, the single
    slowest cell of the driver's whole correctness sweep; 0.06 s
    materialized, results bit-identical). Pure evaluation hint — the
    oracle's arithmetic, join shapes and rounding are untouched, so
    the certified hash is the same."""
    its = []
    prev = "r0"
    for k in range(n_iter):
        cur = f"r{k + 1}"
        its.append(f"""d{k} AS MATERIALIZED (
  SELECT COALESCE(SUM(r.rank), 0.0) AS dmass
  FROM {prev} r LEFT JOIN outdeg o ON r.vertex = o.src
  WHERE o.src IS NULL
), c{k} AS MATERIALIZED (
  SELECT e.dst AS vertex, SUM(r.rank / o.outdeg) AS received
  FROM edges e
  JOIN {prev} r ON e.src = r.vertex
  JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst
), {cur} AS MATERIALIZED (
  SELECT v.vertex,
         (1.0 - {damping}) / nn.n
           + {damping} * (COALESCE(c.received, 0.0) + d.dmass / nn.n)
           AS rank
  FROM verts v
  LEFT JOIN c{k} c ON v.vertex = c.vertex, d{k} d, nn
)""")
        prev = cur
    chain = ",\n".join(its)
    return f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS src, li.l_suppkey + 1000000 AS dst
  FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
), verts AS (
  SELECT src AS vertex FROM edges
  UNION
  SELECT dst AS vertex FROM edges
), nn AS (
  SELECT count(*) AS n FROM verts
), outdeg AS (
  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
), r0 AS (
  SELECT vertex, 1.0 / nn.n AS rank FROM verts, nn
),
{chain}
SELECT vertex - 1000000 AS s_suppkey, round(rank, 9) AS rank
FROM {prev}
WHERE vertex >= 1000000
"""


QUERIES.update({
    "supplier_purchase_pagerank": Q(supplier_purchase_pagerank,
                                    _pagerank_sql()),
})


def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-style EXISTS aggregate (r5b): orders in one quarter counted
    by priority, keeping only orders with at least one lineitem
    shipped after the order date — a correlated-EXISTS expressed as a
    left-semi join with a CROSS-COLUMN condition (the semi join's
    build side prunes before the aggregate; no row multiplication
    from multi-lineitem orders)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01"))
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(li, (o.o_orderkey == li.l_orderkey)
                  & (li.l_shipdate > o.o_orderdate), "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-style conditional-aggregate ratio (r5b): PROMO parts'
    share of one month's revenue — a single-row answer whose
    numerator is a CASE inside the decimal sum. The part join
    broadcasts (dim-sized); one scan of the month's lineitems."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01"))
    p = F.broadcast(_t(spark, sf_dir, "part"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
    return (li.join(p, li.l_partkey == p.p_partkey)
            .agg((100.0 * dsum(promo_rev) / dsum(rev))
                 .alias("promo_revenue_pct"),
                 F.count("*").alias("n_lineitems")))


_Q14_SQL = f"""
SELECT 100.0 * {dsum_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
         / {dsum_sql('l_extendedprice * (1 - l_discount)')}
         AS promo_revenue_pct,
       count(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-style disjunctive-predicate join (r5b): revenue from two
    OR-ed (brand, size-range, quantity-range) clauses spanning BOTH
    join sides — the shape that tests whether the optimizer keeps the
    equi-join key clean and evaluates the disjunction as a post-join
    residual instead of falling into a cartesian."""
    li = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(_t(spark, sf_dir, "part"))
    clause1 = ((F.col("p_brand") == "Brand#1")
               & F.col("p_size").between(1, 10)
               & F.col("l_quantity").between(1, 20))
    clause2 = ((F.col("p_brand") == "Brand#2")
               & F.col("p_size").between(1, 15)
               & F.col("l_quantity").between(10, 30))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(p, li.l_partkey == p.p_partkey)
            .filter(clause1 | clause2)
            .agg(dsum(rev).alias("revenue"),
                 F.count("*").alias("n_lineitems")))


_Q19_SQL = f"""
SELECT {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       count(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 10 AND 30)
"""

QUERIES.update({
    "order_priority_check": Q(order_priority_check, _Q4_SQL),
    "promo_revenue_share": Q(promo_revenue_share, _Q14_SQL),
    "disjunctive_brand_revenue": Q(disjunctive_brand_revenue, _Q19_SQL),
})


def signup_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (r5b): per user, the first signup,
    the first click AFTER that signup, and the first purchase AFTER
    that click — the order-sensitive conversion question a flat
    event count can't answer (a purchase before the click must NOT
    convert). Three key-partitioned conditional aggregations chained
    by their predecessors' timestamps; every shuffle is on user_id,
    so the chain co-partitions end to end. Output one row per user
    who entered the funnel, with NULL stages after the drop-off."""
    ev = _t(spark, sf_dir, "events")
    # tracked_persist (r12 recompute audit): t1 feeds t2, t2's copy
    # inside t3, AND the final join (3 recomputes of the signup
    # slice); t2 feeds t3 and the final join. Both are per-user
    # aggregates (bounded by the user dimension) — persisted, each
    # stage slice of the fact table is scanned exactly once, keeping
    # its own pushed event_type filter.
    from ..caching import tracked_persist
    t1 = tracked_persist(
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("ts").alias("signup_ts")))
    t2 = tracked_persist(
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id", "signup_ts")
        .agg(F.min("ts").alias("click_ts")))
    t3 = (ev.filter(F.col("event_type") == "purchase")
          .join(t2, "user_id")
          .filter(F.col("ts") > F.col("click_ts"))
          .groupBy("user_id", "click_ts")
          .agg(F.min("ts").alias("purchase_ts")))
    return (t1
            .join(t2.select("user_id", "click_ts"), "user_id", "left")
            .join(t3.select("user_id", "purchase_ts"), "user_id", "left")
            .select("user_id", "signup_ts", "click_ts", "purchase_ts",
                    F.col("purchase_ts").isNotNull().alias("converted")))


_FUNNEL_SQL = """
WITH t1 AS (
  SELECT user_id, min(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, t1.signup_ts, min(e.ts) AS click_ts
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.signup_ts
  GROUP BY e.user_id, t1.signup_ts
), t3 AS (
  SELECT e.user_id, t2.click_ts, min(e.ts) AS purchase_ts
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.click_ts
  GROUP BY e.user_id, t2.click_ts
)
SELECT t1.user_id, t1.signup_ts, t2.click_ts, t3.purchase_ts,
       t3.purchase_ts IS NOT NULL AS converted
FROM t1
LEFT JOIN t2 ON t1.user_id = t2.user_id
LEFT JOIN t3 ON t1.user_id = t3.user_id
"""


def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle (r5b): users grouped by the week of
    their FIRST event (the cohort), counted in each later week they
    were active, keyed by week offset — the table behind every
    retention curve. Two aggregations: per-user cohort anchor, then
    (cohort, offset) distinct-user counts; both shuffle on keys that
    shrink monotonically (user, then week pairs)."""
    ev = _t(spark, sf_dir, "events")
    anchor = (ev.groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week")))
    act = (ev.select("user_id",
                     F.date_trunc("week", F.col("ts")).alias("act_week"))
           .distinct())
    return (act.join(anchor, "user_id")
            .select("user_id", "cohort_week",
                    (F.datediff("act_week", "cohort_week") / 7)
                    .cast("int").alias("week_offset"))
            .groupBy("cohort_week", "week_offset")
            .agg(F.countDistinct("user_id").alias("n_users")))


_COHORT_SQL = """
WITH anchor AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week
  FROM events
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, act_week) / 7 AS INT)
         AS week_offset,
       count(DISTINCT a.user_id) AS n_users
FROM act a JOIN anchor USING (user_id)
GROUP BY cohort_week, week_offset
"""

QUERIES.update({
    "signup_conversion_funnel": Q(signup_conversion_funnel, _FUNNEL_SQL),
    "weekly_retention_cohorts": Q(weekly_retention_cohorts, _COHORT_SQL),
})


def order_price_quantiles_by_status(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Per-group mergeable quantiles (r5b): p50/p99 of o_totalprice
    for every order status, from grouped HDR grids — one pass,
    bounded state per group, same <=1/16 relative-error contract as
    the global sketch. The grouped dual of order_price_hdr_quantiles."""
    from ..operators import sketches
    o = _t(spark, sf_dir, "orders")
    grid = sketches.hdr_build_grouped(o, ["o_orderstatus"],
                                      "o_totalprice")
    return sketches.hdr_quantiles_grouped(grid, ["o_orderstatus"],
                                          (0.5, 0.99))


_HDR_GROUPED_SQL = """
WITH k AS (
  SELECT o_orderstatus,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS k
  FROM orders WHERE floor(o_totalprice * 100) >= 1
), b AS (
  SELECT o_orderstatus,
         CAST(length(bin(k)) - 1 AS BIGINT) AS e,
         CAST(pow(2.0, length(bin(k)) - 1) AS BIGINT) AS p, k
  FROM k
), g AS (
  SELECT o_orderstatus,
         CAST(e * 16 + floor((k - p) * 16 / p) AS BIGINT) AS o,
         count(*) AS c
  FROM b GROUP BY o_orderstatus, e * 16 + floor((k - p) * 16 / p)
), cum AS (
  SELECT o_orderstatus, o, c,
         SUM(c) OVER (PARTITION BY o_orderstatus ORDER BY o
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM g
), n AS (
  SELECT o_orderstatus, SUM(c) AS n_total FROM g GROUP BY o_orderstatus
), qs AS (
  SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5), (0.99)) t(q)
), hit AS (
  SELECT cum.o_orderstatus, q, n_total, MIN(o) AS o
  FROM cum JOIN n USING (o_orderstatus), qs
  WHERE cum >= ceil(q * n_total)
  GROUP BY cum.o_orderstatus, q, n_total
), dec AS (
  SELECT o_orderstatus, q, n_total, o,
         CAST(floor(o / 16) AS BIGINT) AS e,
         o - CAST(floor(o / 16) AS BIGINT) * 16 AS s
  FROM hit
)
SELECT o_orderstatus, q,
       pow(2.0, e) * (s + 16.5) / 1600.0 AS est,
       CAST(n_total AS BIGINT) AS n_total
FROM dec
"""

QUERIES.update({
    "order_price_quantiles_by_status": Q(order_price_quantiles_by_status,
                                         _HDR_GROUPED_SQL),
})


def event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 VARIANT path for semi-structured props (r5b): parse
    once into the binary variant encoding, extract typed fields with
    variant_get — the engine-native upgrade of per-extraction JSON
    string re-parsing (get_json_object re-tokenizes the string for
    every path; a variant column parses ONCE and every later
    extraction is a binary traversal — the difference between 1 and
    N parses per row at 100 TB). try_parse_json routes malformed
    props to NULL instead of failing the scan (the dead-letter
    discipline, in-type). Output mirrors event_props_extract so the
    two paths are directly comparable."""
    ev = _t(spark, sf_dir, "events")
    v = F.try_parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return (ev.withColumn("k", k)
            .groupBy("event_type")
            .agg(F.count("k").alias("n_with_k"),
                 F.sum(F.col("k").cast("long")).alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k")))


QUERIES.update({
    "event_props_variant": Q(event_props_variant, _JSON_SQL),
})


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-style: the distribution of orders-per-customer INCLUDING
    the zero bucket — the left outer join + double aggregation whose
    whole point is that customers with no orders must survive into
    c_count=0 (an inner join silently erases the most interesting
    cohort)."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (cu.join(o, cu.c_custkey == o.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("n_customers")))


_Q13_SQL = """
SELECT c_count, count(*) AS n_customers
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey) x
GROUP BY c_count
"""


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-style: customers whose single orders exceed a quantity
    threshold — an IN/HAVING subquery shape: the qualifying order set
    comes from an aggregate-with-HAVING, then re-joins the facts. The
    semi join against the HAVING result is the scalable form (the
    qualifying set is tiny; never materialize the full join first)."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(dsum(F.col("l_quantity")).alias("total_qty"))
           .filter(F.col("total_qty") > 250))
    return (o.join(big, o.o_orderkey == big.l_orderkey)
            .join(cu, o.o_custkey == cu.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice", "total_qty"))


_Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       total_qty
FROM orders
JOIN (SELECT l_orderkey,
             {dsum_sql('l_quantity')} AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING {dsum_sql('l_quantity')} > 250) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def suppliers_with_sole_late_lines(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Q21-style EXISTS + NOT-EXISTS combination: suppliers whose
    lineitem shipped late (shipdate > orderdate + 60 days) on a
    multi-supplier order where NO OTHER supplier shipped late — the
    'who alone held up the order' question. Two anti/semi
    correlations against the same fact table, expressed as aggregate
    flags per (order, supplier) then per order — one shuffle on the
    order key instead of two correlated re-scans."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    flagged = (li.join(o, li.l_orderkey == o.o_orderkey)
               .withColumn("late",
                           F.col("l_shipdate")
                           > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")))
    per_os = (flagged.groupBy("l_orderkey", "l_suppkey")
              .agg(F.max(F.col("late").cast("int")).alias("supp_late")))
    per_o = (per_os.groupBy("l_orderkey")
             .agg(F.count("*").alias("n_supps"),
                  F.sum("supp_late").alias("n_late_supps")))
    return (per_os.join(per_o, "l_orderkey")
            .filter((F.col("supp_late") == 1)
                    & (F.col("n_late_supps") == 1)
                    & (F.col("n_supps") > 1))
            .groupBy("l_suppkey")
            .agg(F.count("*").alias("n_solo_late_orders")))


_Q21_SQL = """
WITH flagged AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), per_os AS (
  SELECT l_orderkey, l_suppkey, MAX(late) AS supp_late
  FROM flagged GROUP BY l_orderkey, l_suppkey
), per_o AS (
  SELECT l_orderkey, count(*) AS n_supps,
         SUM(supp_late) AS n_late_supps
  FROM per_os GROUP BY l_orderkey
)
SELECT l_suppkey, count(*) AS n_solo_late_orders
FROM per_os JOIN per_o USING (l_orderkey)
WHERE supp_late = 1 AND n_late_supps = 1 AND n_supps > 1
GROUP BY l_suppkey
"""

QUERIES.update({
    "customer_order_distribution": Q(customer_order_distribution, _Q13_SQL),
    "large_volume_customers": Q(large_volume_customers, _Q18_SQL),
    "suppliers_with_sole_late_lines": Q(suppliers_with_sole_late_lines,
                                        _Q21_SQL),
})


def part_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part catalog (operators/linkage —
    Fellegi-Sunter shape: block / compare / decide / cluster): the
    same product family is listed many times ("blue rod" appears 7
    times in the sf0.001 catalog under different brands); per-entity
    analytics need one entity id. Blocking key = the name's last
    token (the noun), score = 0.7 * edit-similarity(full name) +
    0.3 * [p_type agrees], match >= 0.8 — so exact-name+same-type
    pairs (1.0) and close-name+same-type pairs ("red gear"/"new
    gear": 0.825) merge, while exact-name+DIFFERENT-type pairs (0.7)
    stay distinct entities. Transitive closure via min-label CC;
    oracle = the same scoring + a recursive CTE, so one hash match
    certifies block->score->threshold->closure->map-back end to end."""
    from ..operators import linkage
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_type")
    blk = F.element_at(F.split(F.col("p_name"), " "), -1)
    return (linkage.resolve_entities(p, "p_partkey", blk, "p_name",
                                     agree_col="p_type")
            .select("p_partkey", "p_name", "p_type",
                    "entity_id", "is_canonical"))


_ER_SQL = """
WITH RECURSIVE recs AS (
  SELECT p_partkey, p_name, p_type,
         string_split(p_name, ' ')[-1] AS blk
  FROM part
), pairs AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
         0.7 * (CASE WHEN greatest(len(a.p_name), len(b.p_name)) > 0
                THEN 1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
                       / greatest(len(a.p_name), len(b.p_name))
                ELSE 1.0 END)
         + 0.3 * (CASE WHEN a.p_type = b.p_type THEN 1.0 ELSE 0.0 END)
           AS score
  FROM recs a JOIN recs b
    ON a.blk = b.blk AND a.p_partkey < b.p_partkey
), matches AS (
  SELECT id_a, id_b FROM pairs WHERE score >= 0.8
), edges AS (
  SELECT id_a AS a, id_b AS b FROM matches
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM matches
), reach AS (
  SELECT DISTINCT a AS id, a AS comp FROM edges
  UNION
  SELECT e.b AS id, r.comp FROM reach r JOIN edges e ON r.id = e.a
), comp AS (
  SELECT id, min(comp) AS component FROM reach GROUP BY id
)
SELECT p.p_partkey, p.p_name, p.p_type,
       coalesce(c.component, p.p_partkey) AS entity_id,
       p.p_partkey = coalesce(c.component, p.p_partkey) AS is_canonical
FROM part p LEFT JOIN comp c ON p.p_partkey = c.id
"""

QUERIES.update({
    "part_entity_resolution": Q(part_entity_resolution, _ER_SQL),
})


def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2's correlated-minimum shape on this schema (no partsupp
    table — the observed supply relation is lineitem): for each part,
    the supplier(s) whose realized unit price (decimal-summed
    extendedprice / quantity) equals the part's minimum. Spark-first
    decorrelation: instead of re-scanning the aggregate per part (the
    literal Q2 subquery), the per-(part, supplier) aggregate is built
    once and the correlated MIN becomes a window over the part key —
    one extra exchange-free window on the same partitioning. Doubles
    compare exactly because both engines produce them from identical
    decimal sums and identical division order."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    per = (li.groupBy("l_partkey", "l_suppkey")
           .agg(dsum(F.col("l_extendedprice")).alias("sum_price"),
                dsum(F.col("l_quantity")).alias("sum_qty")))
    per = per.withColumn("unit_cost", F.col("sum_price") / F.col("sum_qty"))
    w = Window.partitionBy("l_partkey")
    best = (per.withColumn("min_cost", F.min("unit_cost").over(w))
            .filter(F.col("unit_cost") == F.col("min_cost")))
    return (best.join(F.broadcast(s), best["l_suppkey"] == s["s_suppkey"])
            .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
            .select(F.col("l_partkey").alias("p_partkey"),
                    "s_name", "n_name", "unit_cost"))


_Q2_SQL = """
WITH per AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE)
           / CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE)
           AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), best AS (
  SELECT l_partkey, l_suppkey, unit_cost,
         MIN(unit_cost) OVER (PARTITION BY l_partkey) AS min_cost
  FROM per
)
SELECT b.l_partkey AS p_partkey, s.s_name AS s_name, n.n_name AS n_name,
       b.unit_cost AS unit_cost
FROM best b
JOIN supplier s ON b.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE b.unit_cost = b.min_cost
"""


def regional_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8's conditional-share shape: among orders placed by customers
    of region 'ASIA', the revenue share supplied by nation 'NATION_3'
    suppliers, per order year. One join tree, decimal numerator and
    denominator in the SAME aggregate (no second scan), final double
    division. Output: (o_year, total_rev, share)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cust_region = (c.join(F.broadcast(
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
         .filter(F.col("r_name") == "ASIA").select("n_nationkey")),
        c["c_nationkey"] == F.col("n_nationkey")))
    supp_nation = (s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
                   .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    joined = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
              .join(cust_region.select("c_custkey"),
                    o["o_custkey"] == F.col("c_custkey"))
              .join(F.broadcast(supp_nation),
                    li["l_suppkey"] == F.col("s_suppkey"))
              .select(F.year("o_orderdate").alias("o_year"),
                      rev.alias("rev"), "supp_nation"))
    return (joined.groupBy("o_year")
            .agg(dsum(F.col("rev")).alias("total_rev"),
                 dsum(F.when(F.col("supp_nation") == "NATION_3",
                             F.col("rev")).otherwise(F.lit(0.0)))
                 .alias("n0_rev"))
            .select("o_year", "total_rev",
                    (F.col("n0_rev") / F.col("total_rev")).alias("share")))


_Q8_SQL = """
WITH cust_r AS (
  SELECT c_custkey FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), supp_n AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
)
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                     AS DECIMAL(30,10))) AS DOUBLE) AS total_rev,
       CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3'
                          THEN l_extendedprice * (1.0 - l_discount)
                          ELSE 0.0 END AS DECIMAL(30,10))) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(30,10))) AS DOUBLE) AS share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN cust_r ON o_custkey = c_custkey
JOIN supp_n ON l_suppkey = s_suppkey
GROUP BY year(o_orderdate)
"""


def suppliers_with_excess_supply(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Q20's nested-aggregate-subquery shape: suppliers who shipped
    MORE THAN A FIFTH of some part's total shipped quantity (dominant
    suppliers — the availability-risk audit; the fixture spreads each
    part across ~10+ suppliers, so a literal >1/2 threshold matches
    nobody at sf0.01 — the 1/5 share keeps the query non-vacuous at
    every SF while exercising the identical shape). The literal form is a
    correlated 'qty > 0.5 * (SELECT sum ...)' subquery; Spark-first
    it's the per-(part, supplier) aggregate joined to the per-part
    aggregate — both grow out of ONE shuffled frame (partial agg
    reuse), then a semi-style distinct count per supplier. Output:
    (s_suppkey, s_name, n_parts_dominated)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    per_ps = (li.groupBy("l_partkey", "l_suppkey")
              .agg(F.sum(F.col("l_quantity").cast("decimal(30,10)"))
                   .alias("sq")))
    per_p = (per_ps.groupBy("l_partkey")
             .agg(F.sum("sq").alias("tq")))
    dom = (per_ps.join(per_p, "l_partkey")
           .filter(F.col("sq") * 5 > F.col("tq")))
    return (dom.groupBy("l_suppkey")
            .agg(F.count("*").alias("n_parts_dominated"))
            .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
            .select("s_suppkey", "s_name", "n_parts_dominated"))


_Q20_SQL = """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(30,10))) AS sq
  FROM lineitem GROUP BY l_partkey, l_suppkey
), per_p AS (
  SELECT l_partkey, SUM(sq) AS tq FROM per_ps GROUP BY l_partkey
), dom AS (
  SELECT l_suppkey, count(*) AS n_parts_dominated
  FROM per_ps JOIN per_p USING (l_partkey)
  WHERE sq * 5 > tq
  GROUP BY l_suppkey
)
SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name,
       CAST(d.n_parts_dominated AS BIGINT) AS n_parts_dominated
FROM dom d JOIN supplier s ON d.l_suppkey = s.s_suppkey
"""

QUERIES.update({
    "cheapest_supplier_per_part": Q(cheapest_supplier_per_part, _Q2_SQL),
    "regional_market_share": Q(regional_market_share, _Q8_SQL),
    "suppliers_with_excess_supply": Q(suppliers_with_excess_supply,
                                      _Q20_SQL),
})


def orders_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size forecasting from mergeable sketches (operators/
    sketches.countmin_inner_product — the AMS inner-product estimate):
    |orders ⋈ lineitem on orderkey| predicted from the two key grids
    WITHOUT running the join — the shuffle-sizing / skew-alert signal
    a planner wants before committing 100 TB to an exchange, and the
    grids are the same per-day mergeable artifacts the frequency tier
    already maintains. The exact join count rides along so the
    one-sided contract (est >= exact, collisions only ADD) is
    driver-certified on real data. Output: (est_join_size,
    exact_join_size)."""
    from ..operators import sketches
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"))
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"))
    # join-size estimation needs width >> distinct keys (cross terms
    # add Na*Nb/width per hash row): 64k buckets against the ~20k
    # distinct orderkeys keeps the overshoot ~30% where the default
    # 1024-bucket frequency grid would be ~16x. Grid rows stay
    # bounded by depth x distinct keys.
    ga = sketches.countmin_build(o, "key", width=65536)
    gb = sketches.countmin_build(li, "key", width=65536)
    est = sketches.countmin_inner_product(ga, gb)
    exact = (o.join(li, "key")
             .agg(F.count("*").alias("exact_join_size")))
    return est.crossJoin(F.broadcast(exact))


_JOINSIZE_SQL = r"""
WITH ga AS (
  SELECT row_id, bucket, count(*) AS c FROM (
    SELECT i AS row_id,
           CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' ||
                CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)
                % 65536 AS INT) AS bucket
    FROM orders, (SELECT unnest(generate_series(0, 3)) AS i)
  ) GROUP BY row_id, bucket
), gb AS (
  SELECT row_id, bucket, count(*) AS c FROM (
    SELECT i AS row_id,
           CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' ||
                CAST(l_orderkey AS VARCHAR)), 1, 8) AS BIGINT)
                % 65536 AS INT) AS bucket
    FROM lineitem, (SELECT unnest(generate_series(0, 3)) AS i)
  ) GROUP BY row_id, bucket
), ip AS (
  SELECT ga.row_id, SUM(ga.c * gb.c) AS ip
  FROM ga JOIN gb ON ga.row_id = gb.row_id AND ga.bucket = gb.bucket
  GROUP BY ga.row_id
), est AS (
  SELECT CAST(MIN(ip) AS BIGINT) AS est_join_size FROM ip
), ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_join_size
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
SELECT est_join_size, exact_join_size FROM est, ex
"""

QUERIES.update({
    "orders_join_size_estimate": Q(orders_join_size_estimate,
                                   _JOINSIZE_SQL),
})


def event_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key derivation over (value, user_id) — the
    computational core of sources/bucketing.write_zordered, exposed
    as an oracled query so the interleave itself is driver-certified
    (the file-skipping effect is pinned separately from parquet
    footer stats in tests/test_bucketing.py). Min-max grid scaling
    uses one broadcast two-row aggregate; the bit interleave is a
    static fold of shifts/ORs, whole-stage codegen'd."""
    from ..sources import bucketing
    ev = _t(spark, sf_dir, "events").select("event_id", "value", "user_id")
    out = bucketing.zorder_value(ev, ["value", "user_id"], bits=8)
    return out.select("event_id", "zvalue")


def _zorder_sql(cols: tuple[str, ...] = ("value", "user_id"),
                bits: int = 8) -> str:
    k = len(cols)
    mx = (1 << bits) - 1
    grids = []
    for c in cols:
        grids.append(
            f"CAST(least(CASE WHEN (mx_{c} - mn_{c}) > 0 THEN "
            f"floor(({c} - mn_{c}) / CAST(mx_{c} - mn_{c} AS DOUBLE)"
            f" * {mx}) ELSE 0 END, {mx}) AS BIGINT)")
    terms = []
    for i in range(bits):
        for j, g in enumerate(grids):
            terms.append(f"((({g} >> {i}) & 1) << {i * k + (k - 1 - j)})")
    z = " | ".join(terms)
    agg = ", ".join(f"min({c}) AS mn_{c}, max({c}) AS mx_{c}"
                    for c in cols)
    return f"""
WITH rng AS (SELECT {agg} FROM events)
SELECT event_id, CAST({z} AS BIGINT) AS zvalue
FROM events, rng
"""

QUERIES.update({
    "event_zorder_keys": Q(event_zorder_keys, _zorder_sql()),
})


def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (the recommendation tier's first
    signal): part pairs bought in the same order, with lift =
    P(a,b) / (P(a) P(b)) — the support-normalized ratio that
    separates genuinely-associated parts from merely-popular ones.
    Shape: distinct (order, part) -> self-join WITHIN order (the
    basket is the block, so the join is bounded by basket size, not
    catalog size: C(3,2) pairs per typical order, never |parts|^2)
    -> pair counts joined to the two per-part supports and one
    broadcast order-count scalar. Lift is a ratio of exact integers,
    double-divided in identical order both engines. Output pairs
    with support >= 3."""
    li = _t(spark, sf_dir, "lineitem")
    # basket-keyed repartition before the distinct — one exchange
    # feeds distinct + self-join (see copurchase_triangles' r13 note)
    op = (li.select("l_orderkey", "l_partkey")
          .repartition("l_orderkey").distinct())
    a = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("part_b"))
    pairs = (a.join(b, "ok").filter(F.col("part_a") < F.col("part_b"))
             .groupBy("part_a", "part_b")
             .agg(F.count("*").alias("n_both")))
    support = op.groupBy("l_partkey").agg(F.count("*").alias("n_orders"))
    n_orders = op.select("l_orderkey").distinct().agg(
        F.count("*").alias("total_orders"))
    return (pairs.filter(F.col("n_both") >= 3)
            .join(support.select(F.col("l_partkey").alias("part_a"),
                                 F.col("n_orders").alias("n_a")), "part_a")
            .join(support.select(F.col("l_partkey").alias("part_b"),
                                 F.col("n_orders").alias("n_b")), "part_b")
            .crossJoin(F.broadcast(n_orders))
            .select("part_a", "part_b", "n_both", "n_a", "n_b",
                    (F.col("n_both").cast("double")
                     * F.col("total_orders")
                     / (F.col("n_a") * F.col("n_b"))).alias("lift")))


_COPURCHASE_SQL = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), support AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_orders FROM op
  GROUP BY 1
), tot AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS total_orders
  FROM op
)
SELECT p.part_a, p.part_b, p.n_both,
       sa.n_orders AS n_a, sb.n_orders AS n_b,
       CAST(p.n_both AS DOUBLE) * tot.total_orders
         / (sa.n_orders * sb.n_orders) AS lift
FROM pairs p
JOIN support sa ON p.part_a = sa.l_partkey
JOIN support sb ON p.part_b = sb.l_partkey, tot
WHERE p.n_both >= 3
"""

QUERIES.update({
    "copurchase_lift": Q(copurchase_lift, _COPURCHASE_SQL),
})


def event_type_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring (the ops check every scoring
    pipeline needs between a reference window and the current one):
    chi-squared decomposition of the event_type distribution, first
    half of the month as reference vs second half as current.
    Per type: expected = n_ref * (N_cur / N_ref); chi2_term =
    (n_cur - expected)^2 / expected. The per-type terms localize WHAT
    drifted (sum them for the global statistic). Ratio-of-exact-ints
    double math in identical order both engines — unlike PSI, no ln,
    so the whole report is hash-oracled. One scan, one conditional
    aggregate, one broadcast totals scalar."""
    ev = _t(spark, sf_dir, "events")
    cur = F.col("ts") >= F.lit("2024-01-16").cast("timestamp")
    per = (ev.groupBy("event_type")
           .agg(F.sum(F.when(~cur, 1).otherwise(0)).alias("n_ref"),
                F.sum(F.when(cur, 1).otherwise(0)).alias("n_cur")))
    tot = per.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    expected = (F.col("n_ref").cast("double")
                * F.col("tc") / F.col("tr"))
    return (per.crossJoin(F.broadcast(tot))
            .select("event_type",
                    F.col("n_ref").cast("long").alias("n_ref"),
                    F.col("n_cur").cast("long").alias("n_cur"),
                    expected.alias("expected"),
                    ((F.col("n_cur") - expected) * (F.col("n_cur") - expected)
                     / expected).alias("chi2_term")))


_DRIFT_SQL = """
WITH per AS (
  SELECT event_type,
         SUM(CASE WHEN NOT (ts >= TIMESTAMP '2024-01-16') THEN 1 ELSE 0 END)
           AS n_ref,
         SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
           AS n_cur
  FROM events GROUP BY event_type
), tot AS (
  SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM per
)
SELECT event_type,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       CAST(n_ref AS DOUBLE) * tc / tr AS expected,
       (n_cur - CAST(n_ref AS DOUBLE) * tc / tr)
         * (n_cur - CAST(n_ref AS DOUBLE) * tc / tr)
         / (CAST(n_ref AS DOUBLE) * tc / tr) AS chi2_term
FROM per, tot
"""

QUERIES.update({
    "event_type_drift_chi2": Q(event_type_drift_chi2, _DRIFT_SQL),
})


def customer_kanonymity_report(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """k-anonymity audit over the customer quasi-identifiers
    (nation, market segment) — the privacy-tier counterpart of the
    PII scrubber: a release is k-anonymous iff every quasi-identifier
    combination matches at least k records; smaller groups
    re-identify. Per combination: group size, at_risk flag (size <
    k=5), and the share of ALL records sitting in at-risk groups
    (broadcast total — the headline number a release gate checks).
    One aggregate + one broadcast scalar; generalization (coarsening
    QIs until the audit passes) is the caller's loop."""
    c = _t(spark, sf_dir, "customer")
    groups = (c.groupBy("c_nationkey", "c_mktsegment")
              .agg(F.count("*").alias("group_size")))
    tot = groups.agg(
        F.sum("group_size").alias("n_total"),
        F.sum(F.when(F.col("group_size") < 5, F.col("group_size"))
              .otherwise(F.lit(0))).alias("n_at_risk"))
    return (groups.crossJoin(F.broadcast(tot))
            .select("c_nationkey", "c_mktsegment",
                    F.col("group_size").cast("long").alias("group_size"),
                    (F.col("group_size") < 5).alias("at_risk"),
                    (F.col("n_at_risk").cast("double") / F.col("n_total"))
                    .alias("at_risk_share")))


_KANON_SQL = """
WITH groups AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS group_size
  FROM customer GROUP BY 1, 2
), tot AS (
  SELECT SUM(group_size) AS n_total,
         SUM(CASE WHEN group_size < 5 THEN group_size ELSE 0 END)
           AS n_at_risk
  FROM groups
)
SELECT c_nationkey, c_mktsegment,
       CAST(group_size AS BIGINT) AS group_size,
       group_size < 5 AS at_risk,
       CAST(n_at_risk AS DOUBLE) / n_total AS at_risk_share
FROM groups, tot
"""

QUERIES.update({
    "customer_kanonymity_report": Q(customer_kanonymity_report,
                                    _KANON_SQL),
})


def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query: parts on the (cheap price, large size) Pareto
    frontier — dominated parts (someone is at-least-as-cheap AND
    at-least-as-large, strictly better on one axis) drop. The naive
    definition is an all-pairs NOT EXISTS (the oracle runs exactly
    that — a genuinely different ALGORITHM, so the hash match
    certifies the set equivalence, not a shared formula); the
    distributed shape here is the sort-based sweep: collapse to
    per-price max sizes (one aggregate), take running maxima over
    the price order (two frames on one tiny distinct-price window),
    join back — a part is dominated iff the strictly-cheaper running
    max reaches its size or the cheaper-or-equal running max exceeds
    it. Cost: one aggregate + one |distinct prices| window + one
    key join; never pairwise."""
    p = _t(spark, sf_dir, "part")
    per_price = (p.groupBy("p_retailprice")
                 .agg(F.max("p_size").alias("msz")))
    w_lt = (Window.orderBy("p_retailprice")
            .rowsBetween(Window.unboundedPreceding, -1))
    w_le = (Window.orderBy("p_retailprice")
            .rowsBetween(Window.unboundedPreceding, 0))
    ranked = per_price.select(
        "p_retailprice",
        F.max("msz").over(w_lt).alias("max_cheaper"),
        F.max("msz").over(w_le).alias("max_cheaper_eq"))
    joined = p.join(ranked, "p_retailprice")
    dominated = ((F.col("max_cheaper").isNotNull()
                  & (F.col("max_cheaper") >= F.col("p_size")))
                 | (F.col("max_cheaper_eq") > F.col("p_size")))
    return (joined.filter(~dominated)
            .select("p_partkey", "p_name", "p_retailprice", "p_size"))


_PARETO_SQL = """
SELECT p_partkey, p_name, p_retailprice, p_size
FROM part b
WHERE NOT EXISTS (
  SELECT 1 FROM part a
  WHERE a.p_retailprice <= b.p_retailprice
    AND a.p_size >= b.p_size
    AND (a.p_retailprice < b.p_retailprice OR a.p_size > b.p_size)
)
"""

QUERIES.update({
    "pareto_frontier_parts": Q(pareto_frontier_parts, _PARETO_SQL),
})


def revenue_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty for the total-revenue estimate via the
    deterministic Poisson bootstrap (operators/bootstrap — one scan
    computes all 64 replicates as hash-derived Poisson(1) weights;
    no resample shuffles, reproducible bit-for-bit, fully
    DuckDB-oracled because the weights come from the same md5
    uniform + exact CDF literals in both engines). Output one row:
    (boot_mean, boot_se, n_replicates) over orders.o_totalprice."""
    from ..operators import bootstrap
    o = _t(spark, sf_dir, "orders")
    reps = bootstrap.bootstrap_replicates(o, "o_orderkey",
                                          "o_totalprice", b=64)
    return bootstrap.bootstrap_summary(reps)


def _bootstrap_sql() -> str:
    from ..operators.bootstrap import poisson_weight_sql
    u = ("(CAST(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) "
         "|| '|' || CAST(rep AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)"
         " / 4294967296.0)")
    w = poisson_weight_sql(u)
    return f"""
WITH reps AS (
  SELECT rep,
         CAST(SUM(CAST(({w}) * o_totalprice AS DECIMAL(30,10)))
              AS DOUBLE) AS est
  FROM orders, (SELECT unnest(generate_series(0, 63)) AS rep)
  GROUP BY rep
), agg AS (
  SELECT count(*) AS n,
         CAST(SUM(CAST(est AS DECIMAL(30,10))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(est * est AS DECIMAL(38,6))) AS DOUBLE) AS s2
  FROM reps
)
SELECT s1 / n AS boot_mean,
       sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) AS boot_se,
       CAST(n AS BIGINT) AS n_replicates
FROM agg
"""

QUERIES.update({
    "revenue_bootstrap_se": Q(revenue_bootstrap_se, _bootstrap_sql()),
})


def simple_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: the pure predicate-pushdown aggregate — revenue delta from
    a discount band within a date/quantity window, no joins at all.
    The benchmark's scan-efficiency probe: every filter must reach
    the parquet footer (pushdown pinned for this scan family in
    plans/); one decimal sum."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * F.col("l_discount")
    return (li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.08)
        & (F.col("l_quantity") < 30))
        .agg(dsum(rev).alias("revenue"),
             F.count("*").alias("n_lines")))


_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,10)))
            AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.08
  AND l_quantity < 30
"""


def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: customers ranked by revenue LOST to returns (returnflag
    'R') — join customers->orders->lineitem, one aggregate, top 20
    with a deterministic tiebreak. The classic revenue-attribution
    join tree with the dim broadcast."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    agg = (li.filter(F.col("l_returnflag") == "R")
           .join(o, li["l_orderkey"] == o["o_orderkey"])
           .join(c, o["o_custkey"] == c["c_custkey"])
           .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
           .groupBy("c_custkey", "c_name", "n_name")
           .agg(dsum(rev).alias("lost_revenue"),
                F.count("*").alias("n_lines")))
    return (agg.orderBy(F.desc("lost_revenue"), F.col("c_custkey"))
            .limit(20))


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                     AS DECIMAL(30,10))) AS DOUBLE) AS lost_revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""


def late_shipment_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12: shipping-delay buckets x order priority — the conditional
    two-column pivot (high/low priority counts per lateness bucket).
    One join, one conditional aggregate."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 45 DAYS")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy(late.alias("late"))
            .agg(F.sum(F.when(high, 1).otherwise(0)).cast("long")
                 .alias("high_priority_lines"),
                 F.sum(F.when(~high, 1).otherwise(0)).cast("long")
                 .alias("low_priority_lines")))


_Q12_SQL = """
SELECT l_shipdate > o_orderdate + INTERVAL 45 DAY AS late,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS high_priority_lines,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT)
         AS low_priority_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def top_supplier_revenue_share(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Q15: the revenue view + its maximum — suppliers whose revenue
    EQUALS the max (the correlated-max-on-a-view shape; emitted as
    the exact tie set, no arbitrary pick). Broadcast-scalar
    decorrelation over the supplier-revenue aggregate (the repo's
    standard shape for uncorrelated scalar subqueries); broadcast
    supplier dim."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per = (li.groupBy("l_suppkey")
           .agg(dsum(rev).alias("total_revenue")))
    mx = per.agg(F.max("total_revenue").alias("mx"))
    return (per.crossJoin(F.broadcast(mx))
            .filter(F.col("total_revenue") == F.col("mx"))
            .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
            .select("s_suppkey", "s_name", "total_revenue"))


_Q15_SQL = """
WITH per AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                       AS DECIMAL(30,10))) AS DOUBLE) AS total_revenue
  FROM lineitem GROUP BY l_suppkey
), mx AS (SELECT max(total_revenue) AS m FROM per)
SELECT s_suppkey, s_name, total_revenue
FROM per JOIN supplier ON l_suppkey = s_suppkey, mx
WHERE total_revenue = mx.m
"""

QUERIES.update({
    "simple_revenue_forecast": Q(simple_revenue_forecast, _Q6_SQL),
    "returned_item_customers": Q(returned_item_customers, _Q10_SQL),
    "late_shipment_priorities": Q(late_shipment_priorities, _Q12_SQL),
    "top_supplier_revenue_share": Q(top_supplier_revenue_share, _Q15_SQL),
})


def forget_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR erasure audit (operators/forget): the subject set is every
    customer with c_custkey % 13 == 0; the cascade dooms their orders,
    those orders' lineitems, and their events via the declared FK
    edges; the report is each table's (dropped, kept) split — the
    erasure receipt, hash-oracled so the cascade MATH is driver-
    certified (the atomic rewrite itself is pytest-verified in
    tests/test_forget.py)."""
    from ..operators import forget
    tables = {n: _t(spark, sf_dir, n)
              for n in ("customer", "orders", "lineitem", "events")}
    subjects = (tables["customer"]
                .filter(F.col("c_custkey") % 13 == 0)
                .select("c_custkey"))
    edges = [
        forget.FkEdge("orders", "o_custkey", "customer", "c_custkey",
                      child_pk="o_orderkey"),
        forget.FkEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
        forget.FkEdge("events", "user_id", "customer", "c_custkey"),
    ]
    doomed = forget.doomed_keys(tables, "customer", "c_custkey",
                                subjects, edges)
    key_cols = {"customer": "c_custkey", "orders": "o_orderkey",
                "lineitem": "l_orderkey", "events": "user_id"}
    return (forget.audit(tables, doomed, key_cols)
            .select("table_name",
                    F.col("n_dropped").cast("long").alias("n_dropped"),
                    F.col("n_kept").cast("long").alias("n_kept")))


_FORGET_SQL = """
WITH doomed_c AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 13 = 0
), doomed_o AS (
  SELECT DISTINCT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM doomed_c)
)
SELECT 'customer' AS table_name,
  CAST((SELECT count(*) FROM customer
        WHERE c_custkey IN (SELECT c_custkey FROM doomed_c)) AS BIGINT)
    AS n_dropped,
  CAST((SELECT count(*) FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM doomed_c)) AS BIGINT)
    AS n_kept
UNION ALL
SELECT 'events',
  CAST((SELECT count(*) FROM events
        WHERE user_id IN (SELECT c_custkey FROM doomed_c)) AS BIGINT),
  CAST((SELECT count(*) FROM events
        WHERE user_id NOT IN (SELECT c_custkey FROM doomed_c)) AS BIGINT)
UNION ALL
SELECT 'lineitem',
  CAST((SELECT count(*) FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM doomed_o)) AS BIGINT),
  CAST((SELECT count(*) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM doomed_o)) AS BIGINT)
UNION ALL
SELECT 'orders',
  CAST((SELECT count(*) FROM orders
        WHERE o_orderkey IN (SELECT o_orderkey FROM doomed_o)) AS BIGINT),
  CAST((SELECT count(*) FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM doomed_o)) AS BIGINT)
"""

QUERIES.update({
    "forget_cascade_report": Q(forget_cascade_report, _FORGET_SQL),
})


def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the co-purchase graph (parts
    sharing an order = an edge; operators/graph.triangle_counts with
    degree orientation). Triangles are the basket-affinity step past
    copurchase_lift's pairs: three parts mutually co-bought. Edges
    require SUPPORT >= 2 (co-bought in at least two orders): the
    standard co-occurrence-graph threshold — one shared basket is
    coincidence — and the scale discipline: the unthresholded graph
    grows quadratically dense with order volume (measured at sf0.1:
    1.196M edges vs 3.6k at support 2, i.e. a ~35M-row wedge join
    collapsing to thousands; copurchase_lift applies the same family
    of filter). The oracle counts the SAME triangles with plain
    id-ordering (a<b<c three-way join) — the triangle SET is
    orientation-independent, so the per-node counts hash-match even
    though the engine-side join is the degree-bounded one."""
    from ..operators import graph
    li = _t(spark, sf_dir, "lineitem")
    # repartition by the BASKET key before the distinct (r13
    # optimization round, guide §2.4): hashpartitioning(l_orderkey)
    # satisfies the distinct's (orderkey, partkey) clustering AND the
    # self-join's orderkey requirement, so one exchange feeds both —
    # the old shape shuffled by (orderkey, partkey) for the distinct
    # and then re-shuffled both join sides by orderkey. Measured
    # 1.6 -> 0.9 s on the edge build; identical edge set.
    op = (li.select("l_orderkey", "l_partkey")
          .repartition("l_orderkey").distinct())
    a = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pb"))
    edges = (a.join(b, "ok").filter(F.col("pa") < F.col("pb"))
             .groupBy("pa", "pb").agg(F.count("*").alias("c"))
             .filter(F.col("c") >= 2).select("pa", "pb"))
    return (graph.triangle_counts(edges, "pa", "pb")
            .select(F.col("node").alias("part"),
                    F.col("n_triangles").cast("long")
                    .alias("n_triangles")))


_TRIANGLE_SQL = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
)
SELECT node AS part, CAST(count(*) AS BIGINT) AS n_triangles
FROM (SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri)
GROUP BY node
"""

QUERIES.update({
    "copurchase_triangles": Q(copurchase_triangles, _TRIANGLE_SQL),
})


def order_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window breadth closer: percent_rank / cume_dist /
    ntile(4) / nth_value in one pass per order-priority partition
    (ordered by totalprice with the orderkey tiebreak so every rank
    function is deterministic). percent_rank and cume_dist are exact
    integer-ratio doubles (identical IEEE division both engines);
    ntile's uneven-bucket rule (first buckets take the remainder) is
    the SQL standard in both; nth_value reads the full frame, pinned
    explicitly because the DEFAULT frame with ORDER BY stops at the
    current row and would NULL the first row."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_key"),
        F.first("o_orderkey").over(wfull).alias("cheapest_key"))


_WINDOW_ANALYTICS_SQL = """
SELECT o_orderkey, o_orderpriority,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       nth_value(o_orderkey, 2) OVER wf AS second_key,
       first_value(o_orderkey) OVER wf AS cheapest_key
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey),
       wf AS (PARTITION BY o_orderpriority
              ORDER BY o_totalprice, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING)
"""

QUERIES.update({
    "order_window_analytics": Q(order_window_analytics,
                                _WINDOW_ANALYTICS_SQL),
})


def important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11's important-stock shape, adapted to this schema (the
    fixture has no partsupp table — lineitem serves as the supply
    relation): per-part shipped value, kept when it exceeds 1/2000 of
    the GLOBAL shipped value (the fixture's ~2000-part catalog makes
    that genuinely selective — 966/2000 at sf0.01; TPC-H's literal
    0.0001 fraction assumes the full-SF part count). The literal form is a HAVING against an
    uncorrelated scalar subquery; Spark-first it's one shuffled
    per-part aggregate re-aggregated to the 1-row total, broadcast
    back, compared in exact DECIMAL (value*2000 > total — the 1/2000
    fraction, no float threshold ambiguity at the cut line). Completes the TPC-H shape
    family at 22/22. Output: (p_partkey, stock_value)."""
    li = _t(spark, sf_dir, "lineitem")
    per = (li.groupBy(F.col("l_partkey").alias("p_partkey"))
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(30,10)"))
                .alias("v")))
    total = per.agg(F.sum("v").alias("tv"))
    return (per.crossJoin(F.broadcast(total))
            .filter(F.col("v") * 2000 > F.col("tv"))
            .select("p_partkey",
                    F.col("v").cast("double").alias("stock_value")))


_Q11_SQL = """
WITH per AS (
  SELECT l_partkey AS p_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS v
  FROM lineitem GROUP BY l_partkey
), total AS (SELECT SUM(v) AS tv FROM per)
SELECT p_partkey, CAST(v AS DOUBLE) AS stock_value
FROM per, total WHERE v * 2000 > tv
"""


def part_supplier_relationship(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Q16's supplier-relationship shape: how many DISTINCT suppliers
    can provide each (brand, type, size) bucket of mid-size parts,
    EXCLUDING suppliers in arrears (the fixture's analog of Q16's
    complaint suppliers; the literal NOT IN subquery decorrelates to
    a broadcast anti join — the exclusion set is request-sized).
    One distinct (part, supplier) projection from lineitem, the part
    dim broadcast, count_distinct per bucket. Output: (p_brand,
    p_type, p_size, supplier_cnt)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    ps = (li.select("l_partkey", "l_suppkey").distinct()
          .join(F.broadcast(bad),
                F.col("l_suppkey") == F.col("s_suppkey"), "anti"))
    # the part dim is SF-proportional (unlike the fixed exclusion
    # set) — no forced broadcast; AQE picks broadcast at fixture
    # scale and a shuffled join past the threshold
    mid = p.filter((F.col("p_size") >= 10) & (F.col("p_size") <= 40))
    return (ps.join(mid, F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.count_distinct("l_suppkey").alias("supplier_cnt")))


_Q16_SQL = """
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
  WHERE l_suppkey NOT IN
        (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
)
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT ps.l_suppkey) AS supplier_cnt
FROM ps JOIN part p ON ps.l_partkey = p.p_partkey
WHERE p.p_size BETWEEN 10 AND 40
GROUP BY p.p_brand, p.p_type, p.p_size
"""

QUERIES.update({
    "important_part_stock": Q(important_part_stock, _Q11_SQL),
    "part_supplier_relationship": Q(part_supplier_relationship,
                                    _Q16_SQL),
})
