"""Semantic-parity tests for the traps in SURVEY.md §7.4:
weekday/ISO-week vs pandas (trap 4), rolling boundary semantics
(trap 1), and status-bucket edges."""

from __future__ import annotations

import datetime

import pandas as pd
from pyspark.sql import Row
from pyspark.sql import functions as F

from elb_log_etl_enrichment_spark.operators.features import (
    add_rolling_features,
    calendar_columns,
    sessionize,
)

# year-boundary dates where ISO week and weekday conventions diverge
BOUNDARY_DATES = [
    "2020-12-31", "2021-01-01", "2021-01-03", "2021-01-04",
    "2024-12-30", "2025-01-01", "2016-01-01", "2015-12-28",
    "2025-05-26",
]


def test_weekday_and_iso_week_match_pandas(spark):
    df = spark.createDataFrame(
        [Row(time=datetime.datetime.fromisoformat(d + "T12:00:00")) for d in BOUNDARY_DATES]
    )
    out = {
        r.time.date().isoformat(): r
        for r in df.withColumns(calendar_columns(F.col("time"))).collect()
    }
    for d in BOUNDARY_DATES:
        ts = pd.Timestamp(d)
        r = out[d]
        # pandas dt.weekday (Mon=0) ≡ Spark weekday()  (elb_logs.py:301)
        assert r.request_day_of_week_num == ts.weekday(), d
        # pandas isocalendar().week ≡ Spark weekofyear()  (elb_logs.py:302)
        assert r.request_week_of_year == ts.isocalendar().week, d
        # pandas dt.day_name() ≡ date_format 'EEEE'  (elb_logs.py:300)
        assert r.request_day_of_week == ts.day_name(), d


def test_rolling_window_closed_boundary(spark):
    """The engine uses closed [t-300s, t] RANGE frames (SQL semantics,
    matched by the oracle) — an event exactly 300 s earlier IS counted,
    unlike pandas' left-open rolling('5min'). Documented divergence
    (SURVEY.md §7.4 trap 1, operators/features.py)."""
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [
            Row(k="a", time=base, request="r"),
            Row(k="a", time=base + datetime.timedelta(seconds=300), request="r"),
            Row(k="a", time=base + datetime.timedelta(seconds=601), request="r"),
        ]
    )
    out = add_rolling_features(
        df, key="k", ts="time", count_col="request", avg_col="request"
    ).orderBy("time").collect()
    counts = [r.rolling_5min_request_count for r in out]
    # 2nd event: the t-300s event is inside the closed frame
    # 3rd event: 301s after the 2nd → only itself
    assert counts == [1, 2, 1]


def test_fingerprint_oracle_parity_on_empty_normalization(spark):
    """ADVICE medium: a corpus containing an all-punctuation / CJK doc
    must produce the SAME distinct-fingerprint count in Spark (NULL
    skipped by count_distinct) and the DuckDB oracle (md5(NULLIF(...))
    now also NULL)."""
    import duckdb

    from elb_log_etl_enrichment_spark.functions.text import fingerprint

    docs = [
        ("s", "hello world"),
        ("s", "HELLO, world!"),  # same fingerprint as above
        ("s", "!!!"),  # normalizes to nothing -> NULL fp
        ("s", "你好世界"),  # non-Latin -> NULL fp
    ]
    sdf = spark.createDataFrame(docs, schema="source string, text string")
    got = (
        sdf.select("source", fingerprint(F.col("text")).alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("fp").alias("n_distinct_fp"),
        )
        .collect()[0]
    )
    con = duckdb.connect()
    want = con.execute(
        """
        SELECT CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT md5(NULLIF(
                   regexp_replace(lower(txt), '[^a-z0-9]', '', 'g'), '')))
                   AS BIGINT)
        FROM (VALUES ('hello world'), ('HELLO, world!'), ('!!!'), ('你好世界'))
             t(txt)
        """
    ).fetchone()
    con.close()
    assert (got.n_docs, got.n_distinct_fp) == want == (4, 1)


def test_sessionize_subsecond_gap_boundary(spark):
    """Gap of 1800.5 s must break the session: second-truncated
    unix_timestamp would see 1800 and merge."""
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [
            Row(k="a", time=base, eid=0),
            Row(k="a", time=base + datetime.timedelta(seconds=1800, milliseconds=500), eid=1),
        ]
    )
    out = sessionize(df, key="k", ts="time", tiebreak="eid").orderBy("eid").collect()
    assert [r.session_number for r in out] == [0, 1]
    # exact 1800.0s gap: strict > keeps one session (reference semantics)
    df2 = spark.createDataFrame(
        [
            Row(k="a", time=base, eid=0),
            Row(k="a", time=base + datetime.timedelta(seconds=1800), eid=1),
        ]
    )
    out2 = sessionize(df2, key="k", ts="time", tiebreak="eid").orderBy("eid").collect()
    assert [r.session_number for r in out2] == [0, 0]


def test_sessionize_rejects_string_time_column(spark):
    """Code-review r05: a string time column silently collapsed every
    key into one session under non-ANSI (NULL diffs coalesced to 0)."""
    import pytest

    from elb_log_etl_enrichment_spark.operators.features import sessionize

    df = spark.createDataFrame(
        [("a", "2024-01-01T12:00:00Z")], "client_ip string, time string"
    )
    with pytest.raises(TypeError, match="parse it first"):
        sessionize(df)
