"""Feature-engineering column builders and operators (SURVEY.md §2.2
P15-P19, §2.6 W1-W6).

Each feature family is one builder returning Column expressions keyed
by output name; the ELB feature-chain template in ``plans.pipeline``
and the ``sessionize``/``add_rolling_features`` operators apply them.

Window-scale note: the session columns and the two rolling features
share a single hash partitioning on the session key; Spark plans ONE
shuffle exchange and evaluates every same-key window over it. The
reference instead sorts the whole dataset twice and merge-joins
rolling results back (elb_logs.py:272,290-291,311) — including a
row-duplicating merge bug on non-unique (key, time) that we
deliberately do not reproduce (SURVEY.md J3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PROCESSING_TIME_COLS = (
    "request_processing_time",
    "target_processing_time",
    "response_processing_time",
)


def calendar_columns(t: Column) -> dict[str, Column]:
    """Calendar features of the time Column ``t`` (reference
    elb_logs.py:295-303).

    ``weekday()`` is Monday=0 like pandas ``dt.weekday``;
    ``weekofyear()`` is ISO like ``dt.isocalendar().week``.
    """
    return {
        "request_year": F.year(t),
        "request_month": F.month(t),
        "request_day": F.dayofmonth(t),
        "request_hour": F.hour(t),
        "request_day_of_week": F.date_format(t, "EEEE"),
        "request_day_of_week_num": F.weekday(t),
        "request_week_of_year": F.weekofyear(t),
    }


def processing_time_total() -> Column:
    """Null-safe row sum (reference elb_logs.py:305-308): fillna(0) + sum."""
    return sum(
        (F.coalesce(F.col(c), F.lit(0.0)) for c in PROCESSING_TIME_COLS),
        F.lit(0.0),
    )


def session_columns(
    key: str, ms: Column, order: list[Column], gap_minutes: int
) -> tuple[dict[str, Column], ...]:
    """Gap-based session columns (reference elb_logs.py:310-316,
    W1-W4; the reference's gap is 30 min) over the epoch-millisecond
    Column ``ms``, per ``key`` in ``order``, as three stages that each
    read only columns added by the stages before it:

    lag-diff and break flag → running cumsum = session number →
    ``session_id = key || '_s' || n``. One window partitioning, no
    self-join.
    """
    w = Window.partitionBy(key).orderBy(*order)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    diff_ms = F.coalesce(ms - F.lag(ms, 1).over(w), F.lit(0))
    return (
        {
            "time_diff_s": diff_ms / 1000.0,
            "new_session": (diff_ms > gap_minutes * 60 * 1000).cast("int"),
        },
        {"session_number": F.sum("new_session").over(cum).cast("long")},
        {
            "session_id": F.concat(
                F.col(key).cast("string"),
                F.lit("_s"),
                F.col("session_number").cast("string"),
            )
        },
    )


def rolling_columns(
    key: str,
    ms: Column,
    count_col: str,
    avg_col: str,
    count_window_s: int,
    avg_window_s: int,
) -> dict[str, Column]:
    """Per-key time-range rolling features (reference elb_logs.py:271-292,
    W5/W6; the reference's windows are 5 min and 1 h): the count of
    ``count_col`` and the mean of ``avg_col``.

    RANGE frames over the epoch-millisecond Column ``ms`` — computed
    in place by the window operator, not merged back by a self-join.
    Boundary semantics: closed ``[t-w, t]`` (Spark/SQL RANGE), vs
    pandas' left-open ``(t-w, t]``; the closed form is what the DuckDB
    oracle uses too (SURVEY.md §7.4 trap 1).
    """
    base = Window.partitionBy(key).orderBy(ms)
    w_count = base.rangeBetween(-count_window_s * 1000, 0)
    w_avg = base.rangeBetween(-avg_window_s * 1000, 0)
    return {
        f"rolling_{count_window_s // 60}min_request_count":
            F.count(F.col(count_col)).over(w_count).cast("long"),
        f"rolling_{avg_window_s // 3600}h_avg_processing":
            F.avg(F.col(avg_col)).over(w_avg),
    }


def path_columns() -> dict[str, Column]:
    """Path depth + first segment of ``path`` (reference
    elb_logs.py:319-323, P17/P18) via higher-order functions — no
    Python lambdas."""
    segs = F.split(F.coalesce(F.col("path"), F.lit("")), "/")
    return {
        "path_depth": F.size(F.filter(segs, lambda x: x != "")),
        "path_main_segment": F.when(
            F.size(segs) > 1, segs.getItem(1)
        ).otherwise(""),
    }


def sessionize(
    df: DataFrame,
    key: str = "client_ip",
    ts: str = "time",
    gap_minutes: int = 30,
    tiebreak: str | None = None,
) -> DataFrame:
    """Adds :func:`session_columns` for the time column ``ts``: a
    timestamp, or numeric epoch SECONDS. ``tiebreak`` adds a
    deterministic order column for rows with identical timestamps
    (SURVEY.md §7.4 trap 7).
    """
    # millisecond gaps: unix_timestamp() truncates to seconds, which
    # would flip the break decision for gaps within 1s of the
    # threshold vs the reference's float total_seconds() comparison
    # (and vs the epoch_ms oracle SQL).
    ts_type = dict(df.dtypes)[ts]
    if ts_type.startswith("timestamp"):
        ms = F.unix_millis(F.col(ts))
    elif ts_type in ("bigint", "int", "long", "double", "float", "smallint") or ts_type.startswith("decimal"):
        ms = F.col(ts) * 1000  # epoch SECONDS as a numeric column
    else:
        # an unparsed string/date time column would silently cast to
        # NULL under non-ANSI -> diff 0 -> ONE session per key
        # (code-review r05); fail loudly instead
        raise TypeError(
            f"sessionize: time column {ts!r} has type {ts_type}; expected "
            "a timestamp or numeric epoch-seconds column — parse it first"
        )
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    for stage in session_columns(key, ms, order, gap_minutes):
        df = df.withColumns(stage)
    return df


def add_rolling_features(
    df: DataFrame,
    key: str = "client_ip",
    ts: str = "time",
    count_col: str = "request",
    avg_col: str = "total_processing_time",
    count_window_s: int = 300,
    avg_window_s: int = 3600,
) -> DataFrame:
    """Adds :func:`rolling_columns` over the timestamp column ``ts``."""
    return df.withColumns(
        rolling_columns(
            key, F.unix_millis(F.col(ts)), count_col, avg_col,
            count_window_s, avg_window_s,
        )
    )
