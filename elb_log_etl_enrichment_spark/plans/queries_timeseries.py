"""Time-series tier: OHLC bars, time-weighted averages, gap-filled
LOCF series (operators/timeseries.py).

Extends the reference's time-bucketed aggregation surface
(etl/aggregate.py hourly rollups) with the hypertable-style operators
a telemetry pipeline needs: deterministic open/close bars under
timestamp ties, step-function time-weighted means, and dense spines
with last-observation-carried-forward fill.

Determinism: open/close pick values by (ts, event_id) struct order —
never by arrival order; all float outputs are rounded AFTER ratio
formation (raw weighted sums are order-dependent at 1e15 magnitude,
ratios are not); bucket timestamps are emitted as epoch seconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import PersistSlot, scratch_dir
from ..operators.timeseries import gapfill_locf, ohlc_bars, time_weighted_avg
from .queries import _t, register

_BUCKET_S = 21600  # 6-hour bars


@register(
    "ohlc_bars_events",
    sql=f"""
    WITH b AS (
        SELECT event_type AS series,
               CAST(FLOOR(epoch(ts) / {_BUCKET_S}) * {_BUCKET_S} AS BIGINT)
                   AS bucket_epoch,
               value, ts, event_id
        FROM events
    ),
    w AS (
        SELECT series, bucket_epoch, value,
               first_value(value) OVER
                   (PARTITION BY series, bucket_epoch
                    ORDER BY ts, event_id) AS open_v,
               last_value(value) OVER
                   (PARTITION BY series, bucket_epoch
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING) AS close_v
        FROM b
    )
    SELECT series, bucket_epoch,
           ROUND(MIN(open_v), 6)  AS open,
           ROUND(MAX(value), 6)   AS high,
           ROUND(MIN(value), 6)   AS low,
           ROUND(MIN(close_v), 6) AS close,
           CAST(COUNT(*) AS BIGINT) AS volume
    FROM w
    GROUP BY series, bucket_epoch
    """,
    tags=("timeseries", "agg", "ohlc"),
)
def ohlc_bars_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hash agg, no window pass: open/close via min_by/max_by on a
    (ts, event_id) struct — the oracle reproduces the same pick with
    deterministic-order window functions."""
    e = _t(spark, sf_dir, "events")
    return ohlc_bars(
        e,
        series_col="event_type",
        ts_col="ts",
        value_col="value",
        bucket_seconds=_BUCKET_S,
        tiebreak_col="event_id",
    )


@register(
    "time_weighted_avg_users",
    sql="""
    WITH d AS (
        SELECT user_id AS key, value AS v,
               lead(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)
                 - epoch_us(ts) AS dt_us
        FROM events
    )
    SELECT key,
           ROUND(SUM(v * dt_us) / SUM(dt_us), 6) AS twa,
           CAST(SUM(dt_us) AS BIGINT)   AS total_us,
           CAST(COUNT(*) AS BIGINT)     AS n_intervals
    FROM d
    WHERE dt_us IS NOT NULL
    GROUP BY key
    """,
    tags=("timeseries", "window", "agg"),
)
def time_weighted_avg_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-function TWA per user: one Exchange on user_id serves both
    the lead() window and the final hash agg."""
    e = _t(spark, sf_dir, "events")
    return time_weighted_avg(
        e, key_col="user_id", ts_col="ts", value_col="value", tiebreak_col="event_id"
    )


@register(
    "gapfill_locf_hourly",
    sql="""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
        FROM bounds
    ),
    series AS (SELECT DISTINCT event_type AS series FROM events),
    obs AS (
        -- exact decimal sum, then ONE double division: both engines
        -- produce the identical IEEE double, so no final ROUND — at
        -- sf1 a quotient landing on a .xxxxxx5 representation tie
        -- rounds differently in Spark (BigDecimal half-up on the
        -- shortest repr) vs DuckDB (nearbyint on the scaled double)
        SELECT event_type AS series,
               date_trunc('hour', ts) AS bucket_ts,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(value) AS observed
        FROM events
        GROUP BY 1, 2
    ),
    g AS (
        SELECT s.series, sp.bucket_ts, o.observed
        FROM spine sp
        CROSS JOIN series s
        LEFT JOIN obs o ON o.series = s.series AND o.bucket_ts = sp.bucket_ts
    )
    SELECT series,
           CAST(epoch(bucket_ts) AS BIGINT) AS bucket_epoch,
           observed,
           last_value(observed IGNORE NULLS) OVER
               (PARTITION BY series ORDER BY bucket_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
           observed IS NULL AS is_gap
    FROM g
    """,
    tags=("timeseries", "gapfill", "locf", "window"),
)
def gapfill_locf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly spine per event_type with LOCF fill. Spine
    cardinality is series x hours — independent of event volume; the
    running fill windows over the spine, never over raw events."""
    e = _t(spark, sf_dir, "events")
    # decimal-sum average, NO final round: the exact sums cast to the
    # same double on both engines and one shared division is IEEE-
    # identical, while ROUND(double, 6) tie-breaks differently across
    # engines (caught by the sf1 sweep: 2/3600 cells off by 1 ulp-of-
    # the-6th-decimal)
    exact_avg = (
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
        / F.count("value")
    )
    filled = gapfill_locf(
        e, series_col="event_type", ts_col="ts", agg_expr=exact_avg
    )
    return filled.select(
        "series",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "observed",
        "filled",
        "is_gap",
    )


# --------------------------------------------------------------------------
# SCD2 interval builder (gaps-and-islands): collapse each user's
# consecutive runs of equal event_type into [valid_from, valid_to)
# versions — the warehouse "slowly changing dimension" build, derived
# from an append-only event log in two window passes over ONE
# Exchange on user_id.
# --------------------------------------------------------------------------
@register(
    "scd2_user_event_intervals",
    sql="""
    WITH o AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT user_id, event_type, ts, event_id,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM o
    ),
    iv AS (
        SELECT user_id, run_id, event_type,
               MIN(epoch_ms(ts)) AS valid_from_ms,
               COUNT(*) AS n_events
        FROM runs
        GROUP BY user_id, run_id, event_type
    )
    SELECT user_id, event_type,
           CAST(run_id AS BIGINT) AS version,
           CAST(valid_from_ms AS BIGINT) AS valid_from_ms,
           CAST(lead(valid_from_ms) OVER
               (PARTITION BY user_id ORDER BY run_id) AS BIGINT) AS valid_to_ms,
           CAST(n_events AS BIGINT) AS n_events
    FROM iv
    """,
    tags=("timeseries", "scd2", "window", "islands"),
)
def scd2_user_event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encode each user's event_type history into SCD2
    versions. All three window passes and the run aggregation hash-
    partition on user_id, so Catalyst plans a single Exchange."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    runs = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run_id"),
    )
    iv = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min(F.unix_millis("ts")).alias("valid_from_ms"),
        F.count(F.lit(1)).alias("n_events"),
    )
    lead_w = Window.partitionBy("user_id").orderBy("run_id")
    return iv.select(
        "user_id",
        "event_type",
        F.col("run_id").cast("long").alias("version"),
        F.col("valid_from_ms").cast("long").alias("valid_from_ms"),
        F.lead("valid_from_ms").over(lead_w).cast("long").alias("valid_to_ms"),
        F.col("n_events").cast("long").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Rolling distinct-user cardinality: 1-hour trailing window per event
# row. Spark has no count_distinct window aggregate; size(collect_set)
# over a RANGE frame expresses it exactly (the set dedups regardless
# of arrival order). Output is reduced to one row per event_type so
# the result is scale-stable.
# --------------------------------------------------------------------------
@register(
    "rolling_distinct_users",
    sql="""
    WITH r AS (
        SELECT event_type,
               len(list_distinct(list(user_id) OVER
                   (PARTITION BY event_type ORDER BY epoch_us(ts)
                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)))
                   AS rolling_users
        FROM events
    )
    SELECT event_type,
           CAST(MAX(rolling_users) AS BIGINT) AS peak_rolling_users,
           ROUND(AVG(rolling_users), 6)       AS avg_rolling_users,
           CAST(COUNT(*) AS BIGINT)           AS n_events
    FROM r
    GROUP BY event_type
    """,
    tags=("timeseries", "window", "distinct", "rolling"),
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour distinct users at every event, reduced per
    event_type. The RANGE frame keys on integer epoch MICROSECONDS
    (truncating to seconds would shift frame boundaries relative to
    the oracle's fractional epochs); collect_set keeps the frame's
    state bounded by the window span."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    r = e.select(
        "event_type",
        F.size(F.collect_set("user_id").over(w)).alias("rolling_users"),
    )
    return r.groupBy("event_type").agg(
        F.max("rolling_users").cast("long").alias("peak_rolling_users"),
        F.round(F.avg("rolling_users"), 6).alias("avg_rolling_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------------
# Cohort retention matrix: users grouped by first-seen week, tracked
# by weeks-since-cohort activity. Two shuffles total — the per-user
# first-seen reduction and the (cohort, offset) matrix agg; the
# per-user cohort frame re-joins the event stream on user_id. Weeks
# are epoch-aligned 7-day buckets (no calendar dependency, identical
# in any engine).
# --------------------------------------------------------------------------
@register(
    "cohort_retention_matrix",
    sql="""
    WITH wk AS (
        SELECT user_id,
               CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS week
        FROM events
    ),
    first_seen AS (
        SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id
    ),
    cohort_size AS (
        SELECT cohort_week, COUNT(*) AS n_users
        FROM first_seen GROUP BY cohort_week
    ),
    active AS (
        SELECT DISTINCT f.cohort_week, wk.week - f.cohort_week AS week_offset,
               wk.user_id
        FROM wk JOIN first_seen f USING (user_id)
    )
    SELECT a.cohort_week,
           a.week_offset,
           CAST(COUNT(*) AS BIGINT) AS active_users,
           CAST(MIN(cs.n_users) AS BIGINT) AS cohort_users,
           ROUND(COUNT(*) * 1.0 / MIN(cs.n_users), 6) AS retention
    FROM active a JOIN cohort_size cs USING (cohort_week)
    GROUP BY a.cohort_week, a.week_offset
    """,
    tags=("timeseries", "cohort", "retention", "agg", "join"),
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    wk = e.select(
        "user_id", F.floor(F.unix_timestamp("ts") / 604800).alias("week")
    )
    # cohort_week via a window MIN reuses the user_id partitioning the
    # distinct below needs anyway — no separate first-seen join
    w = Window.partitionBy("user_id")
    active = (
        wk.select(
            "user_id", "week", F.min("week").over(w).alias("cohort_week")
        )
        .select(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"),
            "user_id",
        )
        .distinct()
    )
    cohort_size = (
        active.filter(F.col("week_offset") == 0)
        .groupBy("cohort_week")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    return (
        active.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .join(F.broadcast(cohort_size), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            F.col("active_users").cast("long").alias("active_users"),
            F.col("n_users").cast("long").alias("cohort_users"),
            F.round(F.col("active_users") * 1.0 / F.col("n_users"), 6).alias(
                "retention"
            ),
        )
    )


# --------------------------------------------------------------------------
# First-order Markov transition matrix over each user's event-type
# sequence: P(next_type | type), row-normalized from lead() pairs.
# One Exchange on user_id for the sequence, then a vocabulary-sized
# (5x5) aggregation — the transition table of a 100 TB event log fits
# in a broadcast variable by construction.
# --------------------------------------------------------------------------
@register(
    "event_transition_matrix",
    sql="""
    WITH pairs AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    counts AS (
        SELECT from_type, to_type, COUNT(*) AS c
        FROM pairs WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type,
           CAST(c AS BIGINT) AS transitions,
           ROUND(c * 1.0 / SUM(c) OVER (PARTITION BY from_type), 6) AS p
    FROM counts
    """,
    tags=("timeseries", "markov", "window", "agg"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("c"))
    row_w = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        F.col("c").cast("long").alias("transitions"),
        F.round(F.col("c") * 1.0 / F.sum("c").over(row_w), 6).alias("p"),
    )


# --------------------------------------------------------------------------
# Sweep-line max concurrency: how many lineitem shipments are
# simultaneously in transit, per return flag. In transit =
# [l_shipdate, l_shipdate + l_quantity days) — the driver's lineitem
# carries no receipt date, so transit time derives from quantity; the
# bound is pure integer epoch-ms math so Spark and DuckDB agree bit
# for bit. The classic interval problem solved WITHOUT an interval
# join: ±1 events + a running sum — one Exchange per key, O(n log n)
# in the sort, no pair explosion. [start, end) semantics: at equal
# timestamps the -1 sorts first.
# --------------------------------------------------------------------------
@register(
    "max_concurrent_shipments",
    sql="""
    WITH pts AS (
        SELECT l_returnflag AS flag, epoch_ms(l_shipdate) AS t, 1 AS delta
        FROM lineitem
        UNION ALL
        SELECT l_returnflag AS flag,
               epoch_ms(l_shipdate) + 86400000 * CAST(l_quantity AS BIGINT) AS t,
               -1 AS delta
        FROM lineitem
    ),
    run AS (
        SELECT flag, t, delta,
               SUM(delta) OVER (PARTITION BY flag ORDER BY t, delta
                                ROWS UNBOUNDED PRECEDING) AS conc
        FROM pts
    )
    SELECT flag,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent,
           CAST(MIN(CASE WHEN conc = mx THEN t END) AS BIGINT)
               AS first_peak_ms
    FROM (SELECT flag, t, conc, MAX(conc) OVER (PARTITION BY flag) AS mx
          FROM run)
    GROUP BY flag
    ORDER BY flag
    """,
    tags=("timeseries", "sweepline", "intervals", "window"),
)
def max_concurrent_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak in-transit shipment count per return flag via sweep-line.
    The ±1 event stream is 2× the fact rows but 3 narrow columns; the
    running sum, the per-flag MAX window, and the final agg all share
    ONE hash partitioning on flag. Compare an interval self-join,
    which explodes quadratically in the overlap degree — at 100 TB
    the sweep-line is the only shape that survives."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("flag"),
        F.unix_millis("l_shipdate").alias("t"),
        F.lit(1).alias("delta"),
    ).unionByName(
        li.select(
            F.col("l_returnflag").alias("flag"),
            (
                F.unix_millis("l_shipdate")
                + F.lit(86400000) * F.col("l_quantity").cast("long")
            ).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    w_run = (
        Window.partitionBy("flag")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.withColumn("conc", F.sum("delta").over(w_run))
    w_flag = Window.partitionBy("flag")
    peaked = run.withColumn("mx", F.max("conc").over(w_flag))
    return (
        peaked.groupBy("flag")
        .agg(
            F.max("conc").cast("long").alias("max_concurrent"),
            F.min(F.when(F.col("conc") == F.col("mx"), F.col("t")))
            .cast("long")
            .alias("first_peak_ms"),
        )
        .orderBy("flag")
    )


# --------------------------------------------------------------------------
# Session-relative event features — the per-event feature-engineering
# companion to `sessionize_events`. The naive formulation windows over
# (user_id, session_number), which needs a SECOND Exchange after the
# session-number window; instead every feature here is expressed as a
# running aggregate over the SAME (user_id // ms, event_id) window
# spec — session start rank/ms are running MAXes gated on the break
# flag — so Catalyst plans ONE Exchange + ONE Sort for all five
# window functions. At 100 TB that's half the shuffle I/O of the
# naive plan.
# --------------------------------------------------------------------------
@register(
    "session_relative_features",
    sql="""
    WITH t AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
    ), d AS (
        SELECT *,
               row_number() OVER w AS rn,
               CASE WHEN ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS brk
        FROM t
        WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
    ), s AS (
        SELECT *,
               CAST(SUM(brk) OVER w2 AS BIGINT) AS session_number,
               MAX(CASE WHEN brk = 1 OR rn = 1 THEN rn END) OVER w2 AS start_rn,
               MAX(CASE WHEN brk = 1 OR rn = 1 THEN ms END) OVER w2 AS start_ms
        FROM d
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ms, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id,
           user_id,
           concat(user_id, '_s', session_number) AS session_id,
           CAST(rn - start_rn + 1 AS BIGINT) AS idx_in_session,
           CAST(ms - start_ms AS BIGINT)     AS ms_since_session_start
    FROM s
    """,
    tags=("timeseries", "session", "window", "features"),
)
def session_relative_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event index within session + ms since session start, computed
    with running aggregates only (no per-session partitioning)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = e.select("user_id", "event_id", F.unix_millis("ts").alias("ms"))
    d = t.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.when(
            F.col("ms") - F.lag("ms").over(w) > 1800000, 1
        ).otherwise(0).alias("brk"),
    )
    start_gate = F.when((F.col("brk") == 1) | (F.col("rn") == 1), F.col("rn"))
    start_ms_gate = F.when((F.col("brk") == 1) | (F.col("rn") == 1), F.col("ms"))
    s = d.select(
        "*",
        F.sum("brk").over(w2).cast("long").alias("session_number"),
        F.max(start_gate).over(w2).alias("start_rn"),
        F.max(start_ms_gate).over(w2).alias("start_ms"),
    )
    return s.select(
        "event_id",
        "user_id",
        F.concat(F.col("user_id"), F.lit("_s"), F.col("session_number")).alias(
            "session_id"
        ),
        (F.col("rn") - F.col("start_rn") + 1).cast("long").alias("idx_in_session"),
        (F.col("ms") - F.col("start_ms")).cast("long").alias("ms_since_session_start"),
    )


# --------------------------------------------------------------------------
# Batch session_window: Spark's dedicated sessionization operator
# (gap-merged grouping state, the same primitive the streaming tier
# uses) run in BATCH mode — vs `sessionize_events`, which derives
# sessions from lag/cumsum window functions. Both must agree: the
# oracle reproduces session_window's [min ts, max ts + gap) windows
# from the break-flag recursion, so this query cross-validates the
# two sessionization formulations against each other AND DuckDB.
# --------------------------------------------------------------------------
@register(
    "batch_session_window_stats",
    sql="""
    WITH t AS (
        SELECT user_id, value, epoch_ms(ts) AS ms, event_id FROM events
    ), d AS (
        SELECT *, CASE WHEN ms - lag(ms) OVER w > 1800000
                       THEN 1 ELSE 0 END AS brk
        FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
    ), s AS (
        SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sn
        FROM d
    )
    SELECT user_id,
           MIN(ms)            AS session_start_ms,
           MAX(ms) + 1800000  AS session_end_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6)     AS total_value
    FROM s
    GROUP BY user_id, sn
    """,
    tags=("timeseries", "session", "session_window", "batch"),
)
def batch_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessions via the native session_window aggregate."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# Incremental hourly-rollup maintenance: the reference's cron pattern
# (recompute the WHOLE hourly aggregate from the full prefix every 2
# minutes, elb_logs.py:351-368 + cron_test.txt) done the way a 100 TB
# system must — each run aggregates ONLY its new slice into mergeable
# partials (count + decimal sum) and merges them into a persisted
# state table. Means are derived at read time from the merged sums:
# the classic incremental-rollup rule that averages don't merge but
# (sum, count) pairs do. Batches are split by event_id, NOT by time,
# so the state merge is exercised out of time order — correctness
# comes from commutative merge, not arrival order. State writes
# alternate between two directories because overwriting the directory
# a frame is being read from is undefined; the final state is
# hash-checked against the oracle's one-shot recompute over all
# events, proving 3 incremental runs ≡ 1 full batch.
# --------------------------------------------------------------------------


@register(
    "incremental_hourly_rollup",
    sql="""
    SELECT epoch_ms(date_trunc('hour', ts)) AS hour_start_ms, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS sum_value,
           -- no ROUND on the derived mean: decimal sum -> double ->
           -- one division is engine-identical; ROUND(double,6)
           -- tie-breaking is not (sf1 sweep finding)
           SUM(CAST(value AS DECIMAL(18,6)))::DOUBLE / COUNT(*)
               AS avg_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("timeseries", "incremental", "rollup", "state", "agg"),
)
def incremental_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three incremental runs over disjoint event slices maintain one
    persisted (hour, event_type) → (n, decimal sum) state table; the
    query returns the final state with read-time derived averages and
    must hash-match a single full recompute."""
    import os

    ev = _t(spark, sf_dir, "events")
    base = scratch_dir("rollup_state_", sf_dir)

    keys = [
        F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("hour_start_ms"),
        F.col("event_type"),
    ]
    state_path = None
    state_schema = None  # known after the first write: re-reads skip
    for i in range(3):  # the per-read footer schema inference (r10)
        batch = ev.filter(F.col("event_id") % 3 == i)
        partial = batch.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_val"),
        )
        if state_path is not None:
            state = spark.read.schema(state_schema).parquet(state_path)
            merged = (
                state.unionByName(partial)
                .groupBy("hour_start_ms", "event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_val")
                    .cast("decimal(18,6)")
                    .alias("sum_val"),
                )
            )
        else:
            merged = partial
        new_path = os.path.join(base, f"state_{i}")
        merged.write.mode("overwrite").parquet(new_path)
        state_path = new_path
        state_schema = merged.schema

    final = spark.read.schema(state_schema).parquet(state_path)
    return final.select(
        "hour_start_ms",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("sum_val"), 2).cast("double").alias("sum_value"),
        (F.col("sum_val").cast("double") / F.col("n_events")).alias(
            "avg_value"
        ),
    ).orderBy("hour_start_ms", "event_type")


# --------------------------------------------------------------------------
# Incremental JOIN+AGG view maintenance: delta propagation through a
# join. incremental_hourly_rollup proves (sum,count) states merge for
# a plain aggregate; real rollups sit on top of a JOIN, and the delta
# rule there is Δ(R ⋈ S) = R ⋈ ΔS when only the fact side S changes
# (a static R is exactly the orders-dim-vs-arriving-lineitem shape;
# if R also changed you'd add ΔR ⋈ S and ΔR ⋈ ΔS terms). Each run
# joins ONLY its new fact slice — never the accumulated history —
# so per-run cost is O(|ΔS|), not O(|S|): the difference between a
# 2-minute cron that rereads everything (reference elb_logs.py:351)
# and one that stays 2 minutes at 100 TB.
# --------------------------------------------------------------------------

#: persisted dim frames from the PREVIOUS incremental_join_rollup call
#: (released at the next call's entry — the memo.PersistSlot discipline;
#: the returned frame is lazy so the persist must outlive the call).
_JOIN_ROLLUP_SLOT = PersistSlot()


@register(
    "incremental_join_rollup",
    sql="""
    SELECT epoch_ms(date_trunc('day', o_orderdate)) AS day_ms,
           o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
               AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("timeseries", "incremental", "rollup", "join", "ivm"),
)
def incremental_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain daily revenue per order priority (orders ⋈ lineitem)
    incrementally: lineitem arrives in three disjoint slices (split
    by l_orderkey % 3, deliberately OUT of time order), each run
    joins orders against ITS SLICE ONLY and merges the mergeable
    (count, decimal-sum) partials into a persisted state table.
    The returned final state must hash-match the oracle's one-shot
    full join-aggregate — proving the delta rule, not just the
    merge. State writes alternate directories for the same
    read-before-overwrite reason as ``incremental_hourly_rollup``.
    """
    import os

    _JOIN_ROLLUP_SLOT.release()
    # the dim side joins against every delta run: project it to the
    # three columns the rollup needs and persist ONCE (r10) — an IVM
    # deployment holds its dim table resident for exactly this reason;
    # re-scanning + re-projecting orders per delta was 3x the work
    o = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
        .persist()
    )
    _JOIN_ROLLUP_SLOT.hold(o)
    li = _t(spark, sf_dir, "lineitem")
    base = scratch_dir("join_rollup_state_", sf_dir)

    rev = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,6)")
    )
    keys = [
        F.unix_millis(F.date_trunc("day", F.col("o_orderdate"))).alias(
            "day_ms"
        ),
        F.col("o_orderpriority"),
    ]
    state_path = None
    state_schema = None  # known after the first write: re-reads skip
    for i in range(3):  # the per-read footer schema inference (r10)
        delta = li.filter(F.col("l_orderkey") % 3 == i)
        partial = (
            o.join(delta, o.o_orderkey == delta.l_orderkey)
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(rev).cast("decimal(28,12)").alias("rev_sum"),
            )
        )
        if state_path is not None:
            state = spark.read.schema(state_schema).parquet(state_path)
            merged = (
                state.unionByName(partial)
                .groupBy("day_ms", "o_orderpriority")
                .agg(
                    F.sum("n_items").alias("n_items"),
                    F.sum("rev_sum").cast("decimal(28,12)").alias("rev_sum"),
                )
            )
        else:
            merged = partial
        new_path = os.path.join(base, f"state_{i}")
        merged.write.mode("overwrite").parquet(new_path)
        state_path = new_path
        state_schema = merged.schema

    final = spark.read.schema(state_schema).parquet(state_path)
    return final.select(
        "day_ms",
        "o_orderpriority",
        F.col("n_items").cast("long").alias("n_items"),
        F.round(F.col("rev_sum"), 2).cast("double").alias("revenue"),
    ).orderBy("day_ms", "o_orderpriority")


# --------------------------------------------------------------------------
# Dynamic-gap sessionization: the session timeout depends on the
# EVENT (a purchase holds a session open for an hour, a view for 15
# minutes) — the native session_window gap-expression feature, which
# no fixed-gap lag/cumsum reconstruction can express. The oracle is
# the classic gaps-and-islands build over per-event [ts, ts+gap)
# intervals: a new island starts when ts moves strictly past the
# running max interval end (session_window merges on boundary
# equality — pinned by test_timeseries.py).
# --------------------------------------------------------------------------
_GAP_CASE_SQL = (
    "CASE event_type WHEN 'view' THEN 900000 WHEN 'click' THEN 1800000 "
    "WHEN 'purchase' THEN 3600000 ELSE 1200000 END"
)


@register(
    "dynamic_gap_sessions",
    sql=f"""
    WITH e AS (
        SELECT user_id, event_type, epoch_ms(ts) AS ms,
               epoch_ms(ts) + {_GAP_CASE_SQL} AS end_ms
        FROM events
    ),
    m AS (
        SELECT *, MAX(end_ms) OVER (
                   PARTITION BY user_id ORDER BY ms, end_ms
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_end
        FROM e
    ),
    s AS (
        SELECT *, SUM(CASE WHEN prev_end IS NULL OR ms > prev_end
                           THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ms, end_ms
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    )
    SELECT user_id,
           CAST(MIN(ms) AS BIGINT) AS session_start_ms,
           CAST(MAX(end_ms) AS BIGINT) AS session_end_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
               AS BIGINT) AS n_purchases
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, session_start_ms
    """,
    tags=("timeseries", "session", "session_window", "dynamic_gap"),
)
def dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions whose inactivity timeout depends on the event type
    (purchase 60 min, click 30 min, view 15 min, else 20 min) via
    ``session_window``'s gap EXPRESSION — each event holds the
    session open for its own duration, so a purchase-ending session
    survives a longer quiet period than a view-ending one.

    Scale shape: the native session aggregate is ONE user_id-hash
    exchange with merging partial states — no per-user sort or lag
    chain on the Spark side; the oracle reconstructs the identical
    islands with per-user ordered windows, so every session boundary
    is hash-verified including the merge-on-boundary-equality rule.
    """
    e = _t(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "view", "900 seconds")
        .when(F.col("event_type") == "click", "1800 seconds")
        .when(F.col("event_type") == "purchase", "3600 seconds")
        .otherwise("1200 seconds")
    )
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "n_purchases"
            ),
        )
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "n_events",
            "n_purchases",
        )
        .orderBy("user_id", "session_start_ms")
    )


# --------------------------------------------------------------------------
# Bitmap-index activity analytics: one BIGINT per user encodes the
# whole observation window (bit d = "active on day d"), built with a
# bit_or aggregate; every downstream cohort/retention/intensity
# question becomes bitwise arithmetic on 8 bytes per user — the
# roaring-bitmap trick OLAP engines use, here in its dense-window
# special case where a plain BIGINT suffices (<= 64-day windows;
# longer windows shard into an array of words, same operations).
# --------------------------------------------------------------------------


@register(
    "activity_bitmap_stats",
    sql="""
    WITH b AS (
        SELECT MIN(epoch_ms(ts) // 86400000) AS d0 FROM events
    ),
    u AS (
        SELECT user_id,
               bit_or(CAST(1 AS BIGINT)
                      << CAST(epoch_ms(ts) // 86400000 - b.d0 AS INT))
                   AS bm
        FROM events CROSS JOIN b
        GROUP BY user_id
    ),
    f AS (
        SELECT user_id, bm,
               bit_count(bm) AS active_days,
               bit_count(bm & 127) AS first_week_days,        -- days 0-6
               bit_count(bm & (127::BIGINT << 23)) AS last_week_days
        FROM u
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(active_days) AS BIGINT) AS sum_active_days,
           CAST(MAX(active_days) AS BIGINT) AS max_active_days,
           CAST(COUNT(CASE WHEN first_week_days > 0
                            AND last_week_days > 0 THEN 1 END) AS BIGINT)
               AS n_retained_first_to_last_week,
           CAST(COUNT(CASE WHEN active_days = 1 THEN 1 END) AS BIGINT)
               AS n_one_day_users
    FROM f
    """,
    tags=("timeseries", "bitmap", "retention", "cohort"),
)
def activity_bitmap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity packed into ONE BIGINT (bit d = active on
    day d of the observation window, day 0 from a broadcast 1-row
    min), then retention and intensity read off with bit_count and
    mask ANDs: users active in BOTH the first and last week, one-day
    users, total/max active days.  The per-user state is 8 bytes and
    the merge is bit_or — associative, commutative, map-side
    combined — so the same query at 100 TB shuffles one word per
    user instead of one row per event."""
    e = _t(spark, sf_dir, "events")
    b = e.agg(F.expr("min(unix_millis(ts) div 86400000)").alias("d0"))
    u = (
        e.crossJoin(F.broadcast(b))
        .select(
            "user_id",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), "
                "CAST(unix_millis(ts) div 86400000 - d0 AS INT))"
            ).alias("bit"),
        )
        .groupBy("user_id")
        .agg(F.expr("bit_or(bit)").alias("bm"))
    )
    f = u.select(
        "user_id",
        F.expr("bit_count(bm)").alias("active_days"),
        F.expr("bit_count(bm & 127)").alias("first_week_days"),
        F.expr(
            "bit_count(bm & shiftleft(CAST(127 AS BIGINT), 23))"
        ).alias("last_week_days"),
    )
    return f.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("active_days").cast("long").alias("sum_active_days"),
        F.max("active_days").cast("long").alias("max_active_days"),
        F.count(
            F.when(
                (F.col("first_week_days") > 0) & (F.col("last_week_days") > 0),
                1,
            )
        ).alias("n_retained_first_to_last_week"),
        F.count(F.when(F.col("active_days") == 1, 1)).alias(
            "n_one_day_users"
        ),
    )


# --------------------------------------------------------------------------
# Watermark-lateness profiler: how late do events actually arrive?
# Lateness of an event = (max event-time seen earlier in ARRIVAL
# order) - (its own event time), when positive. The distribution
# answers the question every streaming job must settle before it
# runs: what withWatermark() delay keeps X% of events inside the
# window state. Arrival order is event_id; the prior-max runs as the
# two-pass bucketed scheme (percentile cuts -> per-bucket offsets ->
# within-bucket window), so no single reducer sees the whole stream —
# while the DuckDB oracle's plain global window proves the
# distributed prior-max exact.
# --------------------------------------------------------------------------
_WM_DELAYS_S = (0, 10, 60, 300, 600)

#: persisted bucketed frames from the PREVIOUS watermark_lateness_profile
#: call, released at the next call's entry (memo.PersistSlot discipline).
_WM_SLOT = PersistSlot()


@register(
    "watermark_lateness_profile",
    sql=f"""
    WITH a AS (
        SELECT epoch_ms(ts) AS ms,
               MAX(epoch_ms(ts)) OVER (
                   ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prior_max
        FROM events
    ),
    l AS (
        SELECT CASE WHEN prior_max > ms THEN prior_max - ms
                    ELSE 0 END AS late_ms
        FROM a
    ),
    s AS (
        SELECT COUNT(*) AS n, MAX(late_ms) AS max_late_ms,
               {", ".join(
                   f"COUNT(CASE WHEN late_ms > {d * 1000} THEN 1 END) AS c{d}"
                   for d in _WM_DELAYS_S
               )}
        FROM l
    )
    {" UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS delay_s,"
        f" CAST(c{d} AS BIGINT) AS n_late,"
        f" CAST(c{d} * 10000 // n AS BIGINT) AS late_bp,"
        f" CAST(max_late_ms AS BIGINT) AS max_late_ms FROM s"
        for d in _WM_DELAYS_S
    )}
    ORDER BY delay_s
    """,
    tags=("timeseries", "streaming", "watermark", "lateness"),
)
def watermark_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile of the event stream: for candidate
    watermark delays (0 s, 10 s, 1 min, 5 min, 10 min), how many
    events would still arrive LATER than the watermark allows, in
    exact counts and basis points, plus the maximum observed
    lateness.  All five delay rows come from ONE aggregate over the
    lateness column (conditional counts + stack — no row
    expansion)."""
    e = _t(spark, sf_dir, "events").select(
        "event_id", F.expr("unix_millis(ts)").alias("ms")
    )
    n_buckets = 32
    # Bucket cuts only need to be MONOTONE — any split of the event_id
    # domain yields the same exact lateness (prior_max = greatest of
    # the in-bucket running max and the previous buckets' offset, for
    # ANY bucketing) — so the mergeable t-digest sketch replaces the
    # exact percentile, whose single final reducer buffered every
    # event_id (isolated re-time at 10x sf0.1: 7.4 s -> 1.2 s steady,
    # growth for 10x data drops from 4.9x to ~1.1x; PERF.md r04).
    cuts = e.agg(
        F.approx_percentile(
            "event_id",
            F.array(*[F.lit(i / n_buckets) for i in range(1, n_buckets)]),
            F.lit(10_000),
        ).alias("_cs")
    )
    _WM_SLOT.release()
    rb = F.size(F.filter(F.col("_cs"), lambda x: x <= F.col("event_id")))
    # persisted (r10): b feeds the bucket-max totals AND the final
    # bucketed join — unpersisted, both branches re-ran the events scan
    b = e.join(F.broadcast(cuts)).withColumn("_rb", rb).drop("_cs").persist()
    _WM_SLOT.hold(b)
    totals = b.groupBy("_rb").agg(F.max("ms").alias("_m"))
    off_w = Window.orderBy("_rb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_rb", F.max("_m").over(off_w).alias("_off")
    )
    in_w = (
        Window.partitionBy("_rb")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = (
        b.join(F.broadcast(offsets), "_rb")
        .withColumn(
            "prior_max",
            F.greatest(
                F.max("ms").over(in_w),
                F.col("_off"),
            ),
        )
    )
    late = prior.select(
        F.when(
            F.col("prior_max") > F.col("ms"), F.col("prior_max") - F.col("ms")
        )
        .otherwise(0)
        .alias("late_ms")
    )
    counts = late.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("late_ms").alias("max_late_ms"),
        *[
            F.count(F.when(F.col("late_ms") > d * 1000, 1)).alias(f"c{d}")
            for d in _WM_DELAYS_S
        ],
    )
    stack = ", ".join(f"{d}L, c{d}" for d in _WM_DELAYS_S)
    return (
        counts.selectExpr(
            "n",
            "max_late_ms",
            f"stack({len(_WM_DELAYS_S)}, {stack}) AS (delay_s, n_late)",
        )
        .selectExpr(
            "CAST(delay_s AS BIGINT) AS delay_s",
            "CAST(n_late AS BIGINT) AS n_late",
            "CAST(n_late * 10000 div n AS BIGINT) AS late_bp",
            "CAST(max_late_ms AS BIGINT) AS max_late_ms",
        )
        .orderBy("delay_s")
    )
