"""Driver-facing query registry (SURVEY.md §2 operator inventory).

Every operator class the engine implements appears here twice: as an
idiomatic-PySpark callable ``(spark, sf_dir) -> DataFrame`` and (when
SQL-expressible) as the equivalent ANSI SQL the DuckDB oracle runs on
the same parquet tables. The driver hash-compares the two at sf=0.01.

Determinism conventions (SURVEY.md §7.4):
* every computed column is aliased identically in both forms;
* float outputs are ``ROUND``-ed (2 decimals for monetary sums, 6 for
  means/ratios) so partial-aggregation order can't flip the hash;
* integer outputs are cast to BIGINT on both sides (DuckDB widens some
  counts/sums to HUGEINT, Spark keeps long);
* timestamps are emitted as epoch milliseconds or formatted strings,
  never raw timestamp values;
* every top-k / ranking order has a unique tiebreak column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import PersistSlot
from ..operators.asof import asof_join_backward
from ..operators.dedup import keep_latest
from ..operators.features import add_rolling_features, sessionize
from ..sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    sql: str | None  # None → non-SQL-expressible; driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None, tags: tuple[str, ...] = ()):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(name, fn, sql, tags)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec_avg(col: str, nd: int = 6):
    """Order-independent 6-dp average: exact DECIMAL(18,6) sum (both
    engines sum decimals exactly, in any order) divided as identical
    IEEE doubles — see the cross-engine hardening note in PERF.md."""
    return F.round(
        F.sum(F.col(col).cast("decimal(18,6)")).cast("double") / F.count(col), nd
    )


# --------------------------------------------------------------------------
# Scans + multi-key hash aggregation (SURVEY §2.5 A1-A7): TPC-H Q1 shape.
# Filter is pushed to the parquet scan; Catalyst plans partial+final
# hash agg, so the shuffle carries 4 groups regardless of input size.
# --------------------------------------------------------------------------
@register(
    "pricing_summary",
    sql="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(l_quantity), 6)    AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(l_extendedprice), 6) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(l_discount), 6)    AS avg_disc,
           CAST(COUNT(*) AS BIGINT)         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "scan", "filter"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            # decimal-sum averages: order-independent across engines
            # (see hourly_event_aggregate; inputs are exact 2-dp values)
            _dec_avg("l_quantity").alias("avg_qty"),
            _dec_avg("l_extendedprice").alias("avg_price"),
            _dec_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Multi-way equi-join + agg (SURVEY §2.4 J1 generalized): the flagship.
# nation/region are broadcast (tiny dims); the fact-side joins shuffle
# on their keys with AQE skew handling. Lineitem is PRE-AGGREGATED per
# orderkey before the join (group key = join key ⇒ partial-agg
# pushdown below the join is exact): the join and every shuffle after
# it carry one row per order instead of one per line item — at 100 TB
# that divides fact-side network volume by the lines-per-order factor.
# --------------------------------------------------------------------------
@register(
    "revenue_by_nation",
    sql="""
    SELECT r_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    tags=("join", "broadcast", "agg"),
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum("rev"), 2).alias("revenue"),
            F.sum("cnt").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Top-k over join+agg (sort + limit with deterministic tiebreak).
# --------------------------------------------------------------------------
@register(
    "top_orders_by_revenue",
    sql="""
    SELECT o_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY SUM(l_extendedprice * (1 - l_discount)) DESC, o_orderkey ASC
    LIMIT 10
    """,
    tags=("join", "agg", "topk", "sort"),
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-aggregated: revenue per orderkey is computed BEFORE the
    join (group key = join key ⇒ exact), so the join input is one row
    per order and the post-join groupBy disappears — TakeOrdered runs
    straight off the join output."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_order = li.groupBy("l_orderkey").agg(rev.alias("__rev"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .filter(F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00")))
        .orderBy(F.col("__rev").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            F.round(F.col("__rev"), 2).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


# --------------------------------------------------------------------------
# Left-semi join (EXISTS) — SURVEY §2.4 inventory breadth.
# --------------------------------------------------------------------------
@register(
    "order_priority_semi_join",
    sql="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_discount > 0.05
    )
    GROUP BY o_orderpriority
    """,
    tags=("join", "semi", "agg"),
)
def order_priority_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------------
# Left-anti join (NOT EXISTS) — the reference's new-IP detection shape
# (elb_logs.py:408-409, J2) over the TPC-H tables.
# --------------------------------------------------------------------------
@register(
    "customers_without_orders_anti_join",
    sql="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS sum_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
    tags=("join", "anti", "agg"),
)
def customers_without_orders_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# Left-outer join + two-level aggregation (TPC-H Q13 shape).
# --------------------------------------------------------------------------
@register(
    "customer_order_distribution",
    sql="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    ) t
    GROUP BY c_count
    """,
    tags=("join", "outer", "agg"),
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --------------------------------------------------------------------------
# Ranking window (SURVEY §2.6 W7 generalized to top-n-per-group).
# --------------------------------------------------------------------------
@register(
    "top3_customers_per_nation",
    sql="""
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(rn AS BIGINT) AS rank_in_nation,
           c_custkey,
           ROUND(c_acctbal, 2) AS acctbal
    FROM (
        SELECT c_nationkey, c_custkey, c_acctbal,
               row_number() OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_acctbal DESC, c_custkey ASC
               ) AS rn
        FROM customer
    ) t
    WHERE rn <= 3
    """,
    tags=("window", "rank"),
)
def top3_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.col("rn").cast("long").alias("rank_in_nation"),
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
    )


# --------------------------------------------------------------------------
# Running cumulative window (SURVEY §2.6 W4 shape on orders).
# ROWS frame + total order ⇒ identical fp summation order in both
# engines, so the running double is bit-identical.
# --------------------------------------------------------------------------
@register(
    "running_order_total",
    sql="""
    SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_total
    FROM orders
    """,
    tags=("window", "cumsum"),
)
def running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


# --------------------------------------------------------------------------
# lag-diff (SURVEY §2.6 W2: the reference's inter-request gap).
# --------------------------------------------------------------------------
@register(
    "event_lag_diff",
    sql="""
    SELECT event_id, user_id,
           CAST(COALESCE(
               epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ), 0) AS BIGINT) AS gap_ms
    FROM events
    """,
    tags=("window", "lag"),
)
def event_lag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    return e.select(
        "event_id",
        "user_id",
        F.coalesce(ms - F.lag(ms).over(w), F.lit(0)).cast("long").alias("gap_ms"),
    )


# --------------------------------------------------------------------------
# Sessionization (SURVEY §2.6 W1-W4, reference elb_logs.py:310-316)
# transplanted onto the events table, aggregated per session.
# --------------------------------------------------------------------------
@register(
    "sessionize_events",
    sql="""
    WITH t AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
    ), d AS (
        SELECT *, CASE WHEN ms - lag(ms) OVER (
                   PARTITION BY user_id ORDER BY ms, event_id) > 1800000
               THEN 1 ELSE 0 END AS brk
        FROM t
    ), s AS (
        SELECT *, CAST(SUM(brk) OVER (
                   PARTITION BY user_id ORDER BY ms, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_number
        FROM d
    )
    SELECT user_id,
           concat(user_id, '_s', session_number) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ms) AS session_start_ms,
           MAX(ms) AS session_end_ms
    FROM s
    GROUP BY user_id, session_number
    """,
    tags=("window", "session"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    sess = sessionize(e, key="user_id", ts="ts", gap_minutes=30, tiebreak="event_id")
    ms = F.unix_millis("ts")
    return (
        sess.withColumn("ms", ms)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ms").alias("session_start_ms"),
            F.max("ms").alias("session_end_ms"),
        )
    )


# --------------------------------------------------------------------------
# Time-range rolling windows (SURVEY §2.6 W5/W6). Closed [t-w, t]
# RANGE frames on epoch-ms in both engines (boundary-semantics note in
# operators/features.py).
# --------------------------------------------------------------------------
@register(
    "rolling_5min_event_count",
    sql="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_ms(ts)
               RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_5min_request_count
    FROM events
    """,
    tags=("window", "rolling"),
)
def rolling_5min_event_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    rolled = add_rolling_features(
        e, key="user_id", ts="ts", count_col="event_id", avg_col="value"
    )
    return rolled.select("event_id", "user_id", "rolling_5min_request_count")


@register(
    "rolling_1h_avg_value",
    sql="""
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (
               PARTITION BY user_id ORDER BY epoch_ms(ts)
               RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW
           ), 6) AS rolling_1h_avg_value
    FROM events
    """,
    tags=("window", "rolling"),
)
def rolling_1h_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    rolled = add_rolling_features(
        e, key="user_id", ts="ts", count_col="event_id", avg_col="value"
    )
    return rolled.select(
        "event_id",
        "user_id",
        F.round("rolling_1h_avg_processing", 6).alias("rolling_1h_avg_value"),
    )


# --------------------------------------------------------------------------
# Keep-latest-per-key dedup (SURVEY §2.4 J4 / §2.6 W7: the geo-cache
# upsert's last-write-wins rule) on events.
# --------------------------------------------------------------------------
@register(
    "latest_event_per_user",
    sql="""
    SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) t
    WHERE rn = 1
    """,
    tags=("dedup", "window"),
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    latest = keep_latest(e, ["user_id"], "ts", tiebreak=["event_id"])
    return latest.select(
        "user_id", "event_id", F.unix_millis("ts").alias("ms"), "event_type"
    )


# --------------------------------------------------------------------------
# The reference's hourly aggregate (SURVEY §2.5 A1-A7) transplanted:
# calendar keys, count, exact count-distinct, mean, exact median, sums,
# conditional counts — count_if replacing the Python agg lambdas.
# --------------------------------------------------------------------------
@register(
    "hourly_event_aggregate",
    sql="""
    SELECT CAST(year(ts) AS BIGINT)  AS request_year,
           CAST(month(ts) AS BIGINT) AS request_month,
           CAST(day(ts) AS BIGINT)   AS request_day,
           CAST(hour(ts) AS BIGINT)  AS request_hour,
           CAST(COUNT(user_id) AS BIGINT)          AS request_count,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_user_count,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(value), 6)  AS avg_value,
           ROUND(MEDIAN(value), 6) AS median_value,
           ROUND(SUM(value), 2)    AS sum_value,
           CAST(count_if(event_type = 'click') AS BIGINT)    AS count_click,
           CAST(count_if(event_type = 'error') AS BIGINT)    AS count_error,
           CAST(count_if(event_type = 'purchase') AS BIGINT) AS count_purchase
    FROM events
    GROUP BY year(ts), month(ts), day(ts), hour(ts)
    """,
    tags=("agg", "median", "count_distinct", "count_if"),
)
def hourly_event_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.year("ts").cast("long").alias("request_year"),
            F.month("ts").cast("long").alias("request_month"),
            F.dayofmonth("ts").cast("long").alias("request_day"),
            F.hour("ts").cast("long").alias("request_hour"),
        )
        .agg(
            F.count("user_id").alias("request_count"),
            F.count_distinct(F.col("user_id")).alias("unique_user_count"),
            # decimal-sum average: double AVG accumulates in engine-
            # specific order, and at sf0.1 the ±1-ulp drift flipped 3/720
            # six-dp roundings vs DuckDB; an exact DECIMAL sum is order-
            # independent in BOTH engines, so round(sum/n) is bit-stable
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("value"),
                6,
            ).alias("avg_value"),
            F.round(F.median("value"), 6).alias("median_value"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.count_if(F.col("event_type") == "click").alias("count_click"),
            F.count_if(F.col("event_type") == "error").alias("count_error"),
            F.count_if(F.col("event_type") == "purchase").alias("count_purchase"),
        )
    )


# --------------------------------------------------------------------------
# CASE WHEN bucketing (SURVEY §2.2 P13: categorize_status as a pure
# expression chain; synthetic code derived from event_id).
# --------------------------------------------------------------------------
@register(
    "status_bucket_case_when",
    sql="""
    SELECT CASE
             WHEN code >= 100 AND code < 200 THEN '1xx_Informational'
             WHEN code >= 200 AND code < 300 THEN '2xx_Success'
             WHEN code >= 300 AND code < 400 THEN '3xx_Redirection'
             WHEN code >= 400 AND code < 500 THEN '4xx_ClientError'
             WHEN code >= 500 AND code < 600 THEN '5xx_ServerError'
             ELSE 'Other'
           END AS status_code_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM (SELECT event_id % 700 AS code, value FROM events) t
    GROUP BY 1
    """,
    tags=("case_when", "agg"),
)
def status_bucket_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.elb_logs import categorize_status

    e = _t(spark, sf_dir, "events")
    code = (F.col("event_id") % 700).alias("code")
    return (
        e.select(code, "value")
        .groupBy(categorize_status(F.col("code")).alias("status_code_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# JSON scalar extraction (SURVEY §1.2 note: events.props).
# --------------------------------------------------------------------------
@register(
    "json_extract_events",
    sql="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k
    FROM events
    GROUP BY 1
    """,
    tags=("json", "agg"),
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
        )
    )


# --------------------------------------------------------------------------
# ROLLUP grouping sets (inventory breadth; reference has only flat
# group-by, SURVEY §2.5).
# --------------------------------------------------------------------------
@register(
    "rollup_acctbal_by_region_nation",
    sql="""
    SELECT COALESCE(r_name, '__ALL__') AS region_name,
           COALESCE(n_name, '__ALL__') AS nation_name,
           CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS grp_level,
           ROUND(SUM(c_acctbal), 2) AS sum_acctbal,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
    tags=("rollup", "grouping_sets", "join"),
)
def rollup_acctbal_by_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
            (F.grouping("r_name") * 2 + F.grouping("n_name"))
            .cast("long")
            .alias("grp_level"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("__ALL__")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("__ALL__")).alias("nation_name"),
            "grp_level",
            "sum_acctbal",
            "n_customers",
        )
    )


# --------------------------------------------------------------------------
# Set operations (SURVEY §2.7: union — extended with intersect/except).
# --------------------------------------------------------------------------
#: persisted cohort frames from the PREVIOUS set_ops call, released at
#: the next call's entry (the memo.PersistSlot discipline).
_SETOPS_SLOT = PersistSlot()


@register(
    "set_ops_customer_cohorts",
    sql="""
    WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders
               WHERE o_totalprice > 150000),
         b AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
    SELECT 'union' AS op, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT k FROM a UNION SELECT k FROM b) u
    UNION ALL
    SELECT 'intersect' AS op, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT k FROM a INTERSECT SELECT k FROM b) i
    UNION ALL
    SELECT 'except' AS op, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT k FROM a EXCEPT SELECT k FROM b) e
    """,
    tags=("setops",),
)
def set_ops_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _SETOPS_SLOT.release()
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    # persisted (r10): each cohort feeds all three set operations —
    # unpersisted, the orders scan + distinct shuffle and the customer
    # scan each ran three times
    a = (
        o.filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        .persist()
    )
    b = (
        c.filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("k"))
        .persist()
    )
    _SETOPS_SLOT.hold(a, b)

    def count_of(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        count_of(a.union(b).distinct(), "union")
        .unionByName(count_of(a.intersect(b), "intersect"))
        .unionByName(count_of(a.subtract(b), "except"))
    )


# --------------------------------------------------------------------------
# Scalar subquery (uncorrelated): filter against a global aggregate.
# Spark: cross-join of a broadcast 1-row aggregate — no driver round
# trip, stays lazy.
# --------------------------------------------------------------------------
@register(
    "orders_above_avg_scalar_subquery",
    sql="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_price
    FROM orders
    WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                                      AS DOUBLE) / COUNT(*) FROM orders)
    GROUP BY o_orderpriority
    """,
    tags=("subquery", "agg"),
)
def orders_above_avg_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    # decimal-sum averages for BOTH the threshold and the output: the
    # threshold average can land exactly ON a 2-dp price, where an
    # order-drifted double sum flips row membership across engines
    global_avg = o.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__avg")
    )
    return (
        o.crossJoin(F.broadcast(global_avg))
        .filter(F.col("o_totalprice") > F.col("__avg"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_avg("o_totalprice").alias("avg_price"),
        )
    )


# --------------------------------------------------------------------------
# Backward as-of join (custom operator, operators/asof.py): for each
# event, the user's latest order at-or-before the event time.
# --------------------------------------------------------------------------
@register(
    "asof_latest_order_before_event",
    sql="""
    WITH o AS (
        SELECT o_custkey, o_orderdate, o_orderkey FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY o_custkey, o_orderdate
                       ORDER BY o_orderkey DESC) AS rn
            FROM orders
        ) WHERE rn = 1
    )
    SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ms,
           o.o_orderkey AS last_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS last_order_date
    FROM events e
    ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
    tags=("asof", "join", "custom"),
)
def asof_latest_order_before_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders")
    joined = asof_join_backward(
        e,
        o,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_orderdate"],
        right_tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_order_date"),
    )


#: Registry order; the driver checks the first 50 names each round.
#: Rule: queries whose plan changed since their last driver row first,
#: then the rest stalest-first per scripts/driver_staleness.py (ties keep order).
DRIVER_ORDER = [
    "elb_pipeline_hourly",
    "elb_error_report",
    "elb_bot_report",
    "streaming_elb_pipeline_hourly",
    "ab_welch_ttest",
    "ols_order_value_regression",
    "embedding_dim_profile",
    "bm25_top_docs",
    "knn_label_agreement",
    "count_min_sketch_audit",
    "nation_trade_pagerank",
    "stratified_sample_audit",
    "lateral_top2_customers",
    "expectations_audit",
    "training_export_pipeline",
    "gapfill_locf_hourly",
    "cohort_retention_matrix",
    "funnel_view_click_purchase",
    "dsir_importance_weights",
    "semdedup_survivors",
    "l_diversity_audit",
    "column_encryption_roundtrip",
    "range_lookup_join",
    "heavy_hitter_tokens",
    "simhash_block_bias_audit",
    "multimodal_image_resize_stats",
    "multimodal_audio_frame_features",
    "multimodal_video_frame_sample_stats",
    "cosine_topk_lsh",
    "winnowing_collision_pairs",
    "duplicated_span_coverage",
    "gopher_quality_battery",
    "rfm_segment_counts",
    "benford_first_digit_audit",
    "string_function_battery",
    "incremental_hourly_rollup",
    "pmi_collocations",
    "cusum_changepoint",
    "user_survival_curve",
    "cosine_topk_arrow",
    "bloom_decontamination_audit",
    "tfidf_top_terms",
    "multimodal_pixel_roundtrip_stats",
    "multimodal_wav_roundtrip_stats",
    "multimodal_video_motion_stats",
    "udtf_token_spans",
    "grouped_agg_pandas_gmean",
    "jsonl_roundtrip_stats",
    "naive_bayes_langid_confusion",
    "streaming_sliding_window_counts",
    "shard_rebalance_audit",
    "seasonal_residual_anomalies",
    "gini_concentration",
    "deterministic_uniform_sample",
    "geo_cell_density",
    "dynamic_gap_sessions",
    "multimodal_sniff_stats",
    "cube_status_priority",
    "asof_next_order_after_event",
    "salted_event_mktsegment_join",
    "streaming_ohlc_bars",
    "streaming_stateful_user_totals",
    "per_nation_deterministic_sample",
    "schema_drift_union_stats",
    "seasonal_naive_backtest",
    "variant_props_stats",
    "elb_template_mining",
    "datetime_function_battery",
    "sql_api_region_order_totals",
    "from_json_props_stats",
    "doc_fingerprint_summary",
    "shingle_containment_pairs",
    "streaming_dedup_distinct_users",
    "filtered_revenue_simple",
    "returned_items_topk",
    "window_value_functions",
    "null_safe_join_battery",
    "grouping_sets_customer",
    "cheapest_part_per_type_size",
    "sole_fault_suppliers",
    "priority_exists_orders",
    "market_share_ratio",
    "high_balance_no_orders",
    "shipping_priority_topk",
    "top_supplier_by_revenue",
    "large_volume_customers",
    "dedup_cluster_sizes",
    "simhash_documents",
    "winnowing_fingerprints",
    "incremental_ingest_dedup",
    "recursive_knn_bfs_levels",
    "knn_clustering_coefficient",
    "supplier_knn_triangles",
    "streaming_wap_publish_stats",
    "streaming_dedup_hourly_active_users",
    "ohlc_bars_events",
    "event_transition_matrix",
    "max_concurrent_shipments",
    "synthetic_source_status_counts",
    "equi_depth_histogram_orders_approx",
    "iqr_outlier_audit_approx",
    "vocab_growth_audit_approx",
    "bpe_encode_stats",
    "profit_by_nation_year",
    "nation_pair_volume",
    "local_supplier_volume",
    "promo_revenue_ratio",
    "quarterly_growth_by_priority",
    "supplier_variety_by_part",
    "cube_priority_status",
    "excess_volume_suppliers",
    "important_parts_value_threshold",
    "shipment_priority_buckets",
    "small_qty_order_revenue",
    "disjunctive_bracket_revenue",
    "array_function_battery",
    "null_handling_battery",
    "listagg_bitwise_battery",
    "map_struct_event_stats",
    "posexplode_ordinal_tokens",
    "unpivot_order_status_counts",
    "pii_redaction_stats",
    "text_quality_scores",
    "token_entropy_quality",
    "doc_chunking_stats",
    "minhash_calibration",
    "stratified_sample_counts",
    "langid_confusion",
    "leakage_safe_split_audit",
    "curation_funnel_by_source",
    "dedup_survivor_stats",
    "batch_session_window_stats",
    "rolling_distinct_users",
    "time_weighted_avg_users",
    "parquet_footer_stats",
    "streaming_neardup_ingest_stats",
    "streaming_ingest_dedup_stats",
    "k_anonymity_audit",
    "srm_balance_audit",
    "multimodal_pipeline_stats",
    "exact_dedup_map_payload",
    "elb_device_report",
    "approx_aggregates_events",
    "cosine_topk_pq",
    "cosine_topk_ivfpq",
    "embedding_pca_variance",
    "cosine_topk_ivfpq_rerank",
    "embedding_centroid_drift",
    "embedding_quantization_error",
    "feature_hashing_vectors",
    "nearest_dc_assignment",
    "ab_conversion_ztest",
    "mad_outlier_census",
    "stat_moments_by_returnflag",
    "regression_battery",
    "column_profile_lineitem",
    "table_content_digest",
    "compaction_binpack_plan",
    "shard_assignment_stats",
    "uniqueness_violations",
    "skew_profile_events",
    "equi_depth_histogram_orders",
    "iqr_outlier_audit",
    "readability_scores",
    "token_diversity_flags",
    "bigram_repetition_flags",
    "doc_length_histogram",
    "fuzzy_name_match_stats",
    "token_explode_topk",
    "weighted_sample_audit",
    "deterministic_split_counts",
    "source_mixing_weights",
    "mixture_rebalance_weights",
    "session_relative_features",
    "activity_bitmap_stats",
    "hinted_join_strategies",
    "bpe_merge_table",
    "cosine_topk_ivf",
    "cosine_topk_ivf_bucketed",
    "chunk_dedup_stats",
    "cross_join_region_priority",
    "decontamination_overlap",
    "event_neighbors",
    "events_within_5min_pairs",
    "hierarchical_time_rollup",
    "json_extract_events",
    "orders_above_customer_avg",
    "set_ops_customer_cohorts",
    "status_bucket_case_when",
    "token_budget_topp",
    "top_tokens_wordcount",
    "unigram_logprob_quality",
    "user_activity_calendar",
    "value_percentiles_by_type",
    "cogroup_user_activity",
    "customer_order_distribution",
    "customers_without_orders_anti_join",
    "event_lag_diff",
    "extreme_events_by_type",
    "full_outer_nation_presence",
    "large_orders_having",
    "latest_event_per_user",
    "minhash_lsh_near_dup",
    "order_priority_semi_join",
    "pivot_event_type_counts",
    "promo_revenue_disjunctive_filter",
    "rolling_1h_avg_value",
    "rolling_5min_event_count",
    "rollup_acctbal_by_region_nation",
    "running_order_total",
    "salted_user_event_totals",
    "streaming_view_purchase_join",
    "token_count_documents",
    "top_orders_by_revenue",
    "zscore_outlier_events_builtin",
    "revenue_by_nation",
    "sessionize_events",
    "pricing_summary",
    "asof_latest_order_before_event",
    "bucketed_join_agg",
    "chi_square_independence",
    "cosine_topk_bruteforce",
    "hourly_event_aggregate",
    "incremental_join_rollup",
    "exact_median_two_pass",
    "forget_entity_audit",
    "temporal_embargo_split_audit",
    "padding_waste_audit",
    "mann_whitney_u",
    "kruskal_wallis_value_by_type",
    "simhash_near_dup",
    "simhash_weighted_near_dup",
    "association_rules_parts",
    "multi_horizon_backtest",
    "dim_truncation_recall",
    "cuped_adjusted_lift",
    "value_drift_audit",
    "watermark_lateness_profile",
    "hll_sketch_distinct_users",
    "embedding_near_dup_pairs",
    "ewma_control_chart",
    "mergeable_histogram_quantiles",
    "multimodal_decode_stats",
    "ngram_jaccard_near_dup",
    "order_price_quartiles",
    "orders_above_avg_scalar_subquery",
    "pareto_concentration",
    "snapshot_diff_orders",
    "streaming_hourly_counts",
    "streaming_sessionize_events",
    "streaming_static_nation_counts",
    "streaming_view_purchase_outer",
    "top3_customers_per_nation",
    "zscore_outlier_events",
    "exact_dedup_documents",
    "format_matrix_roundtrip",
    "geo_hotspot_clusters",
    "join_cardinality_estimate",
    "leakproof_customer_split",
    "lpa_communities",
    "partition_backfill_stats",
    "pii_redaction_audit",
    "referential_integrity_audit",
    "scd2_user_event_intervals",
    "segment_digest_reconcile",
    "sequence_packing_stats",
    "streaming_timeout_sessions",
    "vocab_growth_audit",
    "write_audit_publish_stats",
    "zorder_layout_audit",
]


def _ordered_specs() -> list[QuerySpec]:
    return [REGISTRY[n] for n in DRIVER_ORDER]


def all_queries() -> dict[str, QueryFn]:
    _load_extensions()
    return {spec.name: spec.fn for spec in _ordered_specs()}


def all_oracle_sql() -> dict[str, str]:
    _load_extensions()
    return {
        spec.name: spec.sql for spec in _ordered_specs() if spec.sql is not None
    }


def _load_extensions() -> None:
    """Pull in the registry modules that live in separate files (they
    self-register via @register on import)."""
    from . import (  # noqa: F401
        queries_curation,
        queries_ext,
        queries_functions,
        queries_geo,
        queries_layout,
        queries_privacy,
        queries_profiling,
        queries_quality,
        queries_sampling,
        queries_sql4,
        queries_stats,
        queries_text,
        queries_timeseries,
        queries_training,
        queries_tpch,
        queries_tpch2,
    )
