"""Time-series operators: semantics on a hand-built frame + the plan
properties the 100 TB design depends on (agg-only OHLC, single
Exchange for TWA, broadcast spine join for gapfill)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from elb_log_etl_enrichment_spark.operators.asof import asof_join_backward
from elb_log_etl_enrichment_spark.operators.timeseries import (
    gapfill_locf,
    ohlc_bars,
    time_weighted_avg,
)
from elb_log_etl_enrichment_spark.plans.audit import plan_stats, plan_text

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1, 0, 0, s), u, t, v)
            for i, (s, u, t, v) in enumerate(rows)
        ],
        SCHEMA,
    )


def test_ohlc_open_close_respect_tiebreak(spark):
    # two events share ts=0s: event_id decides open deterministically
    e = _ev(spark, [(0, 1, "a", 5.0), (0, 1, "a", 9.0), (30, 1, "a", 7.0)])
    row = ohlc_bars(e, "event_type", "ts", "value", 3600, "event_id").collect()[0]
    assert (row["open"], row["high"], row["low"], row["close"], row["volume"]) == (
        5.0,
        9.0,
        5.0,
        7.0,
        3,
    )


def test_twa_step_function_semantics(spark):
    # value 10 held 10s, value 20 held 30s, last obs weightless:
    # twa = (10*10 + 20*30) / 40 = 17.5
    e = _ev(spark, [(0, 1, "a", 10.0), (10, 1, "a", 20.0), (40, 1, "a", 99.0)])
    row = time_weighted_avg(e, "user_id", "ts", "value", "event_id").collect()[0]
    assert row["twa"] == 17.5
    assert row["total_us"] == 40_000_000
    # single-observation key yields no row (zero duration)
    single = _ev(spark, [(0, 2, "a", 1.0)])
    assert time_weighted_avg(single, "user_id", "ts", "value", "event_id").count() == 0


def test_gapfill_fills_gaps_and_keeps_leading_nulls(spark):
    e = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 30), 1, "a", 4.0),
            (2, dt.datetime(2024, 1, 1, 3, 0), 1, "a", 8.0),
            (3, dt.datetime(2024, 1, 1, 2, 15), 1, "b", 6.0),
        ],
        SCHEMA,
    )
    out = gapfill_locf(e, "event_type", "ts", F.round(F.avg("value"), 6))
    rows = {(r["series"], r["bucket_ts"].hour): r for r in out.collect()}
    assert len(rows) == 8  # 2 series x 4-hour global spine
    assert rows[("a", 1)]["is_gap"] and rows[("a", 1)]["filled"] == 4.0  # LOCF
    assert rows[("a", 3)]["observed"] == 8.0 and not rows[("a", 3)]["is_gap"]
    # series b before its first observation: gap with NULL fill
    assert rows[("b", 0)]["is_gap"] and rows[("b", 0)]["filled"] is None
    assert rows[("b", 3)]["filled"] == 6.0


def test_ohlc_is_pure_aggregation_no_window_sort(spark):
    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    df = REGISTRY["ohlc_bars_events"].fn(spark, "/root/testdata/sf0.001")
    plan = plan_text(df)
    # min_by/max_by on the decimal-packed key keep OHLC a two-phase
    # HASH agg: no Window pass, no SortAggregate partition sort
    assert "Window" not in plan
    assert "HashAggregate" in plan and "SortAggregate" not in plan
    assert plan_stats(plan)["exchanges"] == 1


def test_twa_single_exchange(spark):
    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    df = REGISTRY["time_weighted_avg_users"].fn(spark, "/root/testdata/sf0.001")
    # the lead() window and the final agg share one hash partitioning
    assert plan_stats(df)["exchanges"] == 1


def test_gapfill_spine_is_broadcast(spark):
    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    df = REGISTRY["gapfill_locf_hourly"].fn(spark, "/root/testdata/sf0.001")
    stats = plan_stats(df)
    # the series dim is explicitly broadcast into the spine cross join
    assert stats["broadcast_joins"] >= 1


def test_scd2_collapses_runs_and_chains_validity(spark, tmp_path):
    import pandas as pd

    rows = [
        (0, "2024-01-01 00:00:00", 1, "view", 0.0, "{}"),
        (1, "2024-01-01 00:01:00", 1, "view", 0.0, "{}"),
        (2, "2024-01-01 00:02:00", 1, "click", 0.0, "{}"),
        (3, "2024-01-01 00:03:00", 1, "view", 0.0, "{}"),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).assign(ts=lambda d: pd.to_datetime(d["ts"])).to_parquet(
        f"{tmp_path}/events.parquet"
    )
    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    out = sorted(
        REGISTRY["scd2_user_event_intervals"].fn(spark, str(tmp_path)).collect(),
        key=lambda r: r["version"],
    )
    assert [r["event_type"] for r in out] == ["view", "click", "view"]
    assert out[0]["n_events"] == 2  # consecutive equal types collapse
    # each version closes exactly when the next opens; last stays open
    assert out[0]["valid_to_ms"] == out[1]["valid_from_ms"]
    assert out[1]["valid_to_ms"] == out[2]["valid_from_ms"]
    assert out[2]["valid_to_ms"] is None


def test_rolling_distinct_users_window_is_inclusive(spark, tmp_path):
    import pandas as pd

    # u1 at t0, u2 at t0+3600s (inside the inclusive 1h frame),
    # u3 at t0+3601s (u1 now outside)
    rows = [
        (0, "2024-01-01 00:00:00", 1, "view", 0.0, "{}"),
        (1, "2024-01-01 01:00:00", 2, "view", 0.0, "{}"),
        (2, "2024-01-01 01:00:01", 3, "view", 0.0, "{}"),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).assign(ts=lambda d: pd.to_datetime(d["ts"])).to_parquet(
        f"{tmp_path}/events.parquet"
    )
    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    out = REGISTRY["rolling_distinct_users"].fn(spark, str(tmp_path)).collect()[0]
    # rolling counts per event: 1, 2, 2 -> peak 2
    assert out["peak_rolling_users"] == 2 and out["n_events"] == 3


def test_session_window_exact_gap_boundary(spark, tmp_path):
    """Pin the 30-min boundary semantics (ADVICE r01): an event exactly
    1800000 ms after its predecessor MERGES into the same session under
    Spark's session_window (empirically: next_start == window_end still
    merges), matching the oracle's strict `diff > 1800000` break rule.
    One ms past the gap splits. The lag/cumsum formulation
    (sessionize_events) must agree on both cases."""
    import pandas as pd

    rows = [
        # user 1: pair exactly 1800000 ms apart -> ONE session
        (0, "2024-01-01 00:00:00.000", 1, "view", 1.0, "{}"),
        (1, "2024-01-01 00:30:00.000", 1, "view", 1.0, "{}"),
        # user 2: pair 1800001 ms apart -> TWO sessions
        (2, "2024-01-01 00:00:00.000", 2, "view", 1.0, "{}"),
        (3, "2024-01-01 00:30:00.001", 2, "view", 1.0, "{}"),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).assign(ts=lambda d: pd.to_datetime(d["ts"])).to_parquet(
        f"{tmp_path}/events.parquet"
    )
    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    native = REGISTRY["batch_session_window_stats"].fn(spark, str(tmp_path))
    per_user = {
        r["user_id"]: r["n"]
        for r in native.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_user == {1: 1, 2: 2}

    lagged = REGISTRY["sessionize_events"].fn(spark, str(tmp_path))
    n_sessions = {
        r["user_id"]: r["n"]
        for r in lagged.groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n"))
        .collect()
    }
    assert n_sessions == {1: 1, 2: 2}


def test_incremental_join_rollup_hand_case(spark, tmp_path):
    """Hand-computed IVM: 2 orders x 3 lineitems split across the
    three l_orderkey%3 delta slices; final state must equal the
    full join-aggregate computed by hand."""
    import datetime as dt

    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    orders = [
        Row(o_orderkey=3, o_custkey=1, o_orderstatus="O",
            o_totalprice=10.0, o_orderdate=dt.datetime(2024, 1, 1),
            o_orderpriority="1-URGENT"),
        Row(o_orderkey=4, o_custkey=2, o_orderstatus="O",
            o_totalprice=20.0, o_orderdate=dt.datetime(2024, 1, 2),
            o_orderpriority="2-HIGH"),
    ]
    li = [
        # slice %3==0: key 3
        Row(l_orderkey=3, l_partkey=1, l_suppkey=1, l_linenumber=1,
            l_quantity=1.0, l_extendedprice=100.0, l_discount=0.1,
            l_tax=0.0, l_returnflag="N", l_linestatus="O",
            l_shipdate=dt.datetime(2024, 1, 3)),
        # slice %3==1: key 4, two rows
        Row(l_orderkey=4, l_partkey=2, l_suppkey=2, l_linenumber=1,
            l_quantity=1.0, l_extendedprice=50.0, l_discount=0.0,
            l_tax=0.0, l_returnflag="N", l_linestatus="O",
            l_shipdate=dt.datetime(2024, 1, 3)),
        Row(l_orderkey=4, l_partkey=3, l_suppkey=3, l_linenumber=2,
            l_quantity=1.0, l_extendedprice=30.0, l_discount=0.5,
            l_tax=0.0, l_returnflag="N", l_linestatus="O",
            l_shipdate=dt.datetime(2024, 1, 4)),
    ]
    spark.createDataFrame(orders).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(li).write.parquet(f"{tmp_path}/lineitem.parquet")
    out = {
        (r.day_ms, r.o_orderpriority): (r.n_items, r.revenue)
        for r in REGISTRY["incremental_join_rollup"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    day1 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
    day2 = int(dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert out == {
        (day1, "1-URGENT"): (1, 90.0),          # 100 * 0.9
        (day2, "2-HIGH"): (2, 50.0 + 15.0),     # 50*1.0 + 30*0.5
    }


def test_incremental_join_rollup_empty_inputs(spark, tmp_path):
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
    from elb_log_etl_enrichment_spark.sources.tables import load_table

    all_queries()
    for t in ("orders", "lineitem"):
        load_table(spark, "/root/testdata/sf0.001", t).filter(
            F.lit(False)
        ).write.parquet(f"{tmp_path}/{t}.parquet")
    assert (
        REGISTRY["incremental_join_rollup"].fn(spark, str(tmp_path)).count()
        == 0
    )


def test_dynamic_gap_sessions_boundary_semantics(spark, tmp_path):
    """Pin the merge rule the oracle encodes: an event landing
    EXACTLY at the running window end merges (session_window's
    boundary-equality behavior); one millisecond past it starts a
    new session. The purchase gap (1h) must hold a session open
    where a view gap (15min) would have closed it."""
    import datetime as dt

    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, user, seconds_ms, etype):
        return Row(
            event_id=eid,
            ts=t0 + dt.timedelta(milliseconds=seconds_ms),
            user_id=user,
            event_type=etype,
            value=1.0,
            props="{}",
        )

    rows = [
        # user 1: view at 0 → window ends at 900_000; event AT the
        # boundary merges; then one 1ms past the merged end breaks
        ev(1, 1, 0, "view"),
        ev(2, 1, 900_000, "view"),          # == end → same session
        ev(3, 1, 1_800_001, "view"),        # 1ms past new end → new
        # user 2: purchase at 0 holds the session open a full hour —
        # a view 30min later is still inside
        ev(4, 2, 0, "purchase"),
        ev(5, 2, 1_800_000, "view"),
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/events.parquet")
    out = [
        (r.user_id, r.n_events, r.session_end_ms - r.session_start_ms)
        for r in REGISTRY["dynamic_gap_sessions"]
        .fn(spark, str(tmp_path))
        .orderBy("user_id", "session_start_ms")
        .collect()
    ]
    assert out == [
        (1, 2, 1_800_000),   # 0..(900000+900000)
        (1, 1, 900_000),
        # session end = MAX of member interval ends: the purchase's
        # 1h interval outlasts the later view's 15min one
        (2, 2, 3_600_000),
    ]


def test_activity_bitmap_hand_case(spark, tmp_path):
    """Hand-built 30-day window: user 1 active days {0, 29} (retained
    first→last week), user 2 active only day 10 (one-day user,
    retained in neither mask)."""
    import datetime as dt

    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    t0 = dt.datetime(2024, 3, 1)
    rows = [
        Row(event_id=1, ts=t0, user_id=1, event_type="view",
            value=1.0, props="{}"),
        Row(event_id=2, ts=t0 + dt.timedelta(days=29), user_id=1,
            event_type="view", value=1.0, props="{}"),
        Row(event_id=3, ts=t0 + dt.timedelta(days=10, hours=5), user_id=2,
            event_type="view", value=1.0, props="{}"),
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/events.parquet")
    r = REGISTRY["activity_bitmap_stats"].fn(spark, str(tmp_path)).collect()[0]
    assert r.n_users == 2
    assert r.sum_active_days == 3
    assert r.max_active_days == 2
    assert r.n_retained_first_to_last_week == 1  # only user 1
    assert r.n_one_day_users == 1                # only user 2


def test_watermark_lateness_hand_case(spark, tmp_path):
    """Arrival order event_id 1..4 with event times 100s, 50s, 200s,
    190s: two late events (50 s and 10 s behind the running max), so
    delay 0 catches 2, delay 10 s catches 1, delay 60 s catches 0."""
    import datetime as dt

    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    t0 = dt.datetime(2024, 3, 1)
    secs = {1: 100, 2: 50, 3: 200, 4: 190}
    rows = [
        Row(event_id=i, ts=t0 + dt.timedelta(seconds=s), user_id=1,
            event_type="view", value=1.0, props="{}")
        for i, s in secs.items()
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/events.parquet")
    out = {
        r.delay_s: (r.n_late, r.max_late_ms)
        for r in REGISTRY["watermark_lateness_profile"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert out[0] == (2, 50_000)
    assert out[10] == (1, 50_000)
    assert out[60] == (0, 50_000)
    assert out[300] == (0, 50_000)


def test_asof_payload_not_torn_across_right_rows(spark):
    """last(ignorenulls) per column would stitch (a=1, b=2) from two
    different right rows; the struct fill must return the latest row
    as-is: (a=NULL, b=2)."""
    left = spark.createDataFrame([Row(k=1, t=3)])
    right = spark.createDataFrame(
        [Row(k=1, rt=1, a=1, b=None), Row(k=1, rt=2, a=None, b=2)],
        schema="k long, rt long, a long, b long",
    )
    out = asof_join_backward(
        left, right, left_on="k", right_on="k",
        left_time="t", right_time="rt", payload_cols=["a", "b"],
    ).collect()
    assert len(out) == 1
    assert out[0].a is None and out[0].b == 2  # the t=2 row, untorn


def test_asof_null_keys_and_times_never_match(spark):
    """Code-review r05 (reproduced): NULL left keys used to pair with
    NULL right keys through the window's NULL partition, violating
    SQL/DuckDB ASOF semantics where NULL never matches."""
    from elb_log_etl_enrichment_spark.operators.asof import (
        asof_join_backward,
        asof_join_forward,
    )

    left = spark.createDataFrame(
        [(None, 5), (1, 5), (1, None)], "k int, t int"
    )
    right = spark.createDataFrame(
        [(None, 3, 99), (1, 3, 7), (1, None, 55)], "k int, rt int, pay int"
    )
    back = {
        (r["k"], r["t"]): r["pay"]
        for r in asof_join_backward(
            left, right, "k", "k", "t", "rt", ["pay"]
        ).collect()
    }
    assert back[(None, 5)] is None  # NULL key: no match
    assert back[(1, 5)] == 7  # real match unaffected
    assert back[(1, None)] is None  # NULL time: no match
    fwd = {
        (r["k"], r["t"]): r["pay"]
        for r in asof_join_forward(
            left, right, "k", "k", "t", "rt", ["pay"]
        ).collect()
    }
    assert fwd[(None, 5)] is None
    assert fwd[(1, None)] is None


def test_asof_rejects_payload_collision_and_bad_tiebreak(spark):
    """Code-review r05 (reproduced): a payload column sharing a left
    column name silently NULLed the left column and emitted a
    duplicate; a right_tiebreak not carried through the union raised
    UNRESOLVED_COLUMN (or silently no-opped). Both now fail loudly /
    work without being listed in payload_cols."""
    import pytest

    from elb_log_etl_enrichment_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame([(1, 5, 111)], "k int, t int, pay int")
    right = spark.createDataFrame([(1, 3, 7, 2)], "k int, rt int, pay int, tb int")
    with pytest.raises(ValueError, match="already exist in the left frame"):
        asof_join_backward(left, right, "k", "k", "t", "rt", ["pay"])
    with pytest.raises(ValueError, match="not a right-frame column"):
        asof_join_backward(
            left.drop("pay"), right, "k", "k", "t", "rt", ["pay"],
            right_tiebreak="nope",
        )
    # tiebreak WITHOUT being a payload col: greatest tb wins on ties
    right2 = spark.createDataFrame(
        [(1, 3, 7, 2), (1, 3, 8, 9)], "k int, rt int, pay int, tb int"
    )
    out = asof_join_backward(
        left.drop("pay"), right2, "k", "k", "t", "rt", ["pay"],
        right_tiebreak="tb",
    ).collect()
    assert out[0]["pay"] == 8
