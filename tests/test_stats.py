"""Statistics tier: ground-truth unit tests INDEPENDENT of the DuckDB
oracle — hand-built fixtures with hand-computed answers, plus
recursion-vs-closed-form identities for EWMA and CUSUM. The oracle
differential proves Spark == DuckDB; these prove both == the math."""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
import pytest

from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

all_queries()

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _write_events(spark, path, rows):
    """rows: (event_id, ts, user_id, event_type, value, props)"""
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    ).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_ewma_closed_form_equals_recursion(spark, tmp_path):
    """The bit-shift closed form must equal the literal recursion
    s_t = x_t/2 + s_(t-1)/2 (s_1 = x_1) evaluated in Python."""
    # one event_type, one day, hourly counts 5,1,7,2,9,4 (hours 0..5)
    counts = [5, 1, 7, 2, 9, 4]
    rows = []
    eid = 0
    for hr, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, T0 + dt.timedelta(hours=hr, minutes=1), 1,
                         "click", 1.0, "{}"))
            eid += 1
    _write_events(spark, tmp_path, rows)
    out = REGISTRY["ewma_control_chart"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # python recursion
    s = counts[0]
    max_s = s
    alerts = 0
    for x in counts[1:]:
        if 2 * abs(x - s) > max(s, 4.0):
            alerts += 1
        s = x / 2 + s / 2
        max_s = max(max_s, s)
    assert r.n_points == len(counts)
    assert r.max_ewma == pytest.approx(max_s, abs=1e-9)
    assert r.n_alerts == alerts
    assert r.mean_hourly == pytest.approx(sum(counts) / len(counts), abs=1e-6)


def test_cusum_closed_form_equals_recursion(spark, tmp_path):
    """P_t - min(0, running-min P) == max(0, S_(t-1) + y_t) recursion."""
    counts = [3, 3, 3, 3, 10, 12, 11, 3, 3, 3]
    rows = []
    eid = 0
    for hr, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, T0 + dt.timedelta(hours=hr, minutes=2), 1,
                         "err", 1.0, "{}"))
            eid += 1
    _write_events(spark, tmp_path, rows)
    r = REGISTRY["cusum_changepoint"].fn(spark, str(tmp_path)).collect()[0]
    n, total = len(counts), sum(counts)
    s = 0
    max_s = 0
    alerts = 0
    first_alert = None
    for hr, x in enumerate(counts):
        s = max(0, s + (n * x - total))
        max_s = max(max_s, s)
        if s > 3 * total:
            alerts += 1
            if first_alert is None:
                first_alert = hr  # hour index within our synthetic day
    assert r.n_hours == n
    assert r.max_cusum == pytest.approx(max_s / n, abs=1e-9)
    assert r.n_alert_hours == alerts
    if first_alert is not None:
        # query reports the absolute epoch-hour index
        base_hour = int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600
        assert r.first_alert_hour == base_hour + first_alert


def test_welch_t_matches_numpy(spark, tmp_path):
    """t statistic equals the textbook Welch formula on the values the
    hash actually routed to each arm."""
    import numpy as np

    from elb_log_etl_enrichment_spark.plans.queries_sampling import (
        hash_bucket,
    )

    rng = np.random.RandomState(7)
    rows = [
        (i, T0 + dt.timedelta(minutes=i), i % 37, "click",
         float(round(rng.uniform(0, 100), 3)), "{}")
        for i in range(400)
    ]
    _write_events(spark, tmp_path, rows)
    r = REGISTRY["ab_welch_ttest"].fn(spark, str(tmp_path)).collect()[0]

    # recompute variant assignment through the engine's own hash
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(u,) for u in sorted({row[2] for row in rows})], "user_id long"
    ).select("user_id", (hash_bucket(F.col("user_id"), "ab|") % 2).alias("v"))
    vmap = {x.user_id: x.v for x in df.collect()}
    a = np.array([row[4] for row in rows if vmap[row[2]] == 0])
    b = np.array([row[4] for row in rows if vmap[row[2]] == 1])
    t = (a.mean() - b.mean()) / math.sqrt(
        a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
    )
    assert r.n_a == len(a) and r.n_b == len(b)
    assert r.t_stat == pytest.approx(t, abs=1e-5)


def test_pareto_concentration_handcrafted(spark, tmp_path):
    """4 customers in one nation with revenues 70/20/9/1 — the top
    customer alone is 70% (<80%), two reach 90%: n_top80 == 2; top
    decile = ceil(4/10)=1 customer = 7000 bp."""
    spark.createDataFrame(
        [(1, "C1", 0, 0.0, "B"), (2, "C2", 0, 0.0, "B"),
         (3, "C3", 0, 0.0, "B"), (4, "C4", 0, 0.0, "B")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        [(0, "N", 0, "")],
        "n_nationkey int, n_name string, n_regionkey int, n_comment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/nation.parquet")
    orders = [
        (10, 1, "O", 70.0, T0, "1-URGENT"),
        (11, 2, "O", 20.0, T0, "1-URGENT"),
        (12, 3, "O", 9.0, T0, "1-URGENT"),
        (13, 4, "O", 1.0, T0, "1-URGENT"),
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    r = REGISTRY["pareto_concentration"].fn(spark, str(tmp_path)).collect()[0]
    assert r.n_customers == 4
    assert r.n_top80 == 2
    assert r.top10pct_share_bp == 7000
    g = REGISTRY["gini_concentration"].fn(spark, str(tmp_path)).collect()[0]
    # gini for [1,9,20,70]: (2*(1*1+2*9+3*20+4*70) - 5*100) / (4*100)
    assert g.gini == pytest.approx(
        (2 * (1 * 1 + 2 * 9 + 3 * 20 + 4 * 70) - 5 * 100) / 400.0, abs=1e-9
    )


def test_survival_curve_handcrafted(spark, tmp_path):
    """3 users with lifetimes 0, 2, 5 days: survival at d=0 is all,
    d=1..2 keeps two, d=3..5 keeps one, d>5 none."""
    rows = []
    eid = 0
    for uid, days in ((1, 0), (2, 2), (3, 5)):
        rows.append((eid, T0, uid, "view", 1.0, "{}")); eid += 1
        rows.append((eid, T0 + dt.timedelta(days=days), uid, "view", 1.0,
                     "{}")); eid += 1
    _write_events(spark, tmp_path, rows)
    out = {r.day: (r.n_surviving, r.survival_bp)
           for r in REGISTRY["user_survival_curve"].fn(spark, str(tmp_path)).collect()}
    assert len(out) == 15
    assert out[0] == (3, 10000)
    assert out[1] == (2, 6666) and out[2] == (2, 6666)
    assert out[3] == (1, 3333) and out[5] == (1, 3333)
    assert out[6] == (0, 0) and out[14] == (0, 0)


def test_drift_audit_handcrafted(spark, tmp_path):
    """Values 0..9 in period 1 vs all-5s in period 2: the all-5 bin
    absorbs the mass; TV distance contributions must sum to the
    hand-computed total variation."""
    rows = []
    eid = 0
    for v in range(10):  # period 1: one value per bin
        rows.append((eid, T0 + dt.timedelta(minutes=v), 1, "t",
                     float(v), "{}")); eid += 1
    for _ in range(10):  # period 2: all mass at 5
        rows.append((eid, T0 + dt.timedelta(days=10), 1, "t", 5.0,
                     "{}")); eid += 1
    _write_events(spark, tmp_path, rows)
    out = REGISTRY["value_drift_audit"].fn(spark, str(tmp_path)).collect()
    # bin width (9-0)/10: value v lands in bin min(floor(v/0.9),9)
    by_bin = {r.bin: r for r in out}
    five_bin = min(int(5.0 / 0.9), 9)
    assert by_bin[five_bin].n_cur == 10
    assert sum(r.n_ref for r in out) == 10
    assert sum(r.n_cur for r in out) == 10
    # total variation = (|0.1-0| * 9 bins + |0.1-1.0|) / 2 = 0.9
    tv_ubp = sum(r.tv_contrib_ubp for r in out)
    assert abs(tv_ubp - 900000) <= len(out)  # integer floor per bin


def test_mann_whitney_handcrafted(spark, tmp_path):
    """Hand-computed U with ties. Values arm A = [1, 2, 2], arm B =
    [2, 3]: midranks 1->1, 2->3 (three-way tie over ranks 2,3,4),
    3->5; R_A = 1+3+3 = 7, U_A = R_A - 3*4/2 = 1 -> u2_stat = 2."""
    from elb_log_etl_enrichment_spark.plans.queries_sampling import hash_bucket
    from pyspark.sql import functions as F

    # find user ids hashing to variant 0 and 1
    probe = spark.createDataFrame([(u,) for u in range(40)], "user_id long")
    vmap = {
        r.user_id: r.v
        for r in probe.select(
            "user_id", (hash_bucket(F.col("user_id"), "ab|") % 2).alias("v")
        ).collect()
    }
    u0 = next(u for u, v in vmap.items() if v == 0)
    u1 = next(u for u, v in vmap.items() if v == 1)
    rows = []
    for i, val in enumerate([1.0, 2.0, 2.0]):
        rows.append((i, T0, u0, "t", val, "{}"))
    for i, val in enumerate([2.0, 3.0]):
        rows.append((10 + i, T0, u1, "t", val, "{}"))
    _write_events(spark, tmp_path, rows)
    r = REGISTRY["mann_whitney_u"].fn(spark, str(tmp_path)).collect()[0]
    assert (r.n_a, r.n_b) == (3, 2)
    assert r.u2_stat == 2  # 2 * U_A


def test_exact_median_two_pass_hand_cases(spark, tmp_path):
    """Odd count → middle element; even count → LOWER median (order
    statistic (n+1)//2); duplicates straddling the pick are safe; and
    empty input yields zero rows."""
    import datetime as dt

    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()

    def run(values, sub):
        rows = [
            Row(event_id=i, ts=dt.datetime(2024, 3, 1, 0, 0, i % 60),
                user_id=1, event_type="view", value=float(v), props="{}")
            for i, v in enumerate(values)
        ]
        d = f"{tmp_path}/{sub}"
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.parquet(f"{d}/events.parquet")
        return REGISTRY["exact_median_two_pass"].fn(spark, d).collect()

    out = run([5, 1, 9, 3, 7], "odd")
    assert (out[0].n, out[0].k, out[0].median_value) == (5, 3, 5.0)

    out = run([4, 1, 3, 2], "even")  # lower median = 2nd smallest
    assert (out[0].n, out[0].k, out[0].median_value) == (4, 2, 2.0)

    out = run([2, 2, 2, 8, 9], "ties")
    assert out[0].median_value == 2.0

    out = run([], "empty")
    assert out == []


def test_seasonal_anomalies_hand_case(spark, tmp_path):
    """One seasonal cell with a planted outlier: 9 values at ~10
    (MAD 1) and one at 100 → exactly one anomaly; a constant cell
    (MAD 0) must flag nothing."""
    import datetime as dt

    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    rows = []
    # cell (view, hour 12): values 9,9,10,10,10,10,10,11,11 + outlier
    vals = [9, 9, 10, 10, 10, 10, 10, 11, 11, 100]
    for i, v in enumerate(vals):
        rows.append(
            Row(event_id=i, ts=dt.datetime(2024, 3, 1 + i % 5, 12, i, 0),
                user_id=1, event_type="view", value=float(v), props="{}")
        )
    # cell (click, hour 3): constant → MAD 0 → no flags even though
    # every residual is 0
    for i in range(5):
        rows.append(
            Row(event_id=100 + i, ts=dt.datetime(2024, 3, 1 + i, 3, 0, 0),
                user_id=2, event_type="click", value=7.0, props="{}")
        )
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/events.parquet")
    out = {
        r.event_type: r
        for r in REGISTRY["seasonal_residual_anomalies"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert out["view"].n_anomalies == 1
    assert out["click"].n_anomalies == 0


def test_rfm_segments_partition_all_customers(spark):
    """Invariants: every ordering customer lands in exactly one
    segment; digits stay in 1..4; champions (444) and at-risk (1xx)
    both exist at sf0.01; total cents reconciles with orders."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
    from elb_log_etl_enrichment_spark.sources.tables import load_table

    all_queries()
    sf = "/root/testdata/sf0.01"
    rows = REGISTRY["rfm_segment_counts"].fn(spark, sf).collect()
    o = load_table(spark, sf, "orders")
    assert sum(r.n_customers for r in rows) == (
        o.select("o_custkey").distinct().count()
    )
    for r in rows:
        d_r, d_f, d_m = r.segment // 100, (r.segment // 10) % 10, r.segment % 10
        assert 1 <= d_r <= 4 and 1 <= d_f <= 4 and 1 <= d_m <= 4
    assert any(r.segment == 444 for r in rows)
    assert any(r.segment // 100 == 1 for r in rows)
    total = o.agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    ).collect()[0][0]
    assert sum(r.total_cents for r in rows) == total


def test_hll_sketch_merge_consistency(spark):
    """The 100 TB distinct-count contract: per-group HLL sketches
    unioned must estimate the SAME value as one global sketch, and
    both must sit within a few percent of the exact distinct count."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "events")
    exact = e.select("user_id").distinct().count()
    global_est = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("long")
    ).first()[0]
    merged_est = (
        e.groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long"))
        .first()[0]
    )
    assert merged_est == global_est  # merge-invariance, not just closeness
    assert abs(global_est - exact) / exact < 0.05
