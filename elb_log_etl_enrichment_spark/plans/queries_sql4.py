"""Spark 4 SQL / Python-UDF surface: recursive CTEs, Python UDTFs,
and grouped-aggregate pandas UDFs.

Three API families the engine exposes beyond the classic DataFrame
operators:

* **Recursive CTE** (`WITH RECURSIVE`, Spark 4.0+) — iterative
  queries stated declaratively; the engine unrolls the fixpoint.
  Demonstrated as BFS shortest-hop levels over the supplier kNN
  graph (queries_training.knn_edges). The level cap bounds path
  enumeration; the kNN degree cap bounds the per-level frontier.
* **Python UDTF** (`@udtf`, Spark 3.5+) — one input row → many
  output rows with full Python control, the lateral-join form of
  custom parsing. Demonstrated as a token-span extractor (token +
  character offset), the shape tokenizer-alignment pipelines need.
  Registered UDTFs run row-at-a-time Python — the slow path — so the
  query pushes its doc_id subset BEFORE the lateral join; bulk-path
  equivalents of this exact result exist as pure expressions (the
  oracle SQL is one).
* **Grouped-aggregate pandas UDF** — a custom aggregate (log-mean /
  geometric mean) evaluated per group over Arrow batches, composable
  with built-in aggregates inside one ``groupBy.agg``.

Oracle notes: the UDTF's offsets are pure integer arithmetic over
`split(' ')` pieces (identical in DuckDB); the geometric mean is
written `exp(avg(ln(1+abs(v))))` with the same operand order both
sides and rounded to 6 dp.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _t, register
from .queries_training import _KNN_EDGE_CTE, knn_edges_cached

#: BFS hop cap for the recursive CTE (bounds path enumeration).
BFS_MAX_LVL = 3


# --------------------------------------------------------------------------
# Recursive CTE: BFS shortest-hop levels over the kNN graph
# --------------------------------------------------------------------------
@register(
    "recursive_knn_bfs_levels",
    sql=f"""
    WITH RECURSIVE {_KNN_EDGE_CTE},
    directed_e AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    root AS (SELECT MIN(u) AS s FROM edges),
    reach(s, lvl) AS (
        SELECT s, 0 FROM root
        UNION ALL
        SELECT d.v AS s, r.lvl + 1
        FROM reach r JOIN directed_e d ON d.u = r.s
        WHERE r.lvl < {BFS_MAX_LVL}
    )
    SELECT lvl, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM (SELECT s, CAST(MIN(lvl) AS BIGINT) AS lvl FROM reach GROUP BY s)
    GROUP BY lvl
    ORDER BY lvl
    """,
    tags=("sql4", "recursive_cte", "graph", "bfs"),
)
def recursive_knn_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-hop BFS levels from the minimum supplier node, written
    as a SQL ``WITH RECURSIVE`` over the kNN edge view — the
    declarative twin of the DataFrame power-iteration loop in
    operators/graph.py (there the driver unrolls; here the engine
    does). The recursive member SELECTs DISTINCT (node, lvl) so each
    level's frontier is bounded by node count, not path count — the
    final MIN(lvl) collapse makes the result invariant to that dedup
    (the DuckDB oracle keeps the raw path enumeration and agrees).
    Levels are capped at lvl<{BFS_MAX_LVL}."""
    # Materialize the edge list ONCE. The recursive member references
    # the view on every unrolled iteration; left lazy, the whole
    # multi-stage kNN derivation (distinct → self-join → window top-k)
    # would re-execute per level — measured 29 s warm at sf0.1 vs ~3 s
    # materialized. The edge list is node-pair-sized, so lineage
    # truncation via localCheckpoint is cheap and executor-resident.
    edges = knn_edges_cached(spark, sf_dir)
    edges.createOrReplaceTempView("knn_edges_v")
    return spark.sql(
        f"""
        WITH RECURSIVE reach(s, lvl) AS (
            SELECT CAST(MIN(u) AS BIGINT) AS s, 0 AS lvl FROM knn_edges_v
            UNION ALL
            SELECT DISTINCT d.v AS s, r.lvl + 1
            FROM reach r
            JOIN (SELECT u, v FROM knn_edges_v
                  UNION ALL
                  SELECT v AS u, u AS v FROM knn_edges_v) d
              ON d.u = r.s
            WHERE r.lvl < {BFS_MAX_LVL}
        )
        SELECT lvl, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM (SELECT s, CAST(MIN(lvl) AS BIGINT) AS lvl FROM reach GROUP BY s)
        GROUP BY lvl
        ORDER BY lvl
        """
    )


# --------------------------------------------------------------------------
# Python UDTF: token-span extraction (lateral join)
# --------------------------------------------------------------------------
@register(
    "udtf_token_spans",
    sql="""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS token,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents WHERE doc_id % 50 = 0
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS i,
           token,
           CAST(COALESCE(SUM(len(token) + 1) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS start
    FROM tok
    """,
    tags=("sql4", "udtf", "lateral", "tokenize"),
)
def udtf_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token + character-offset spans via a Python UDTF in a LATERAL
    join — the alignment-map shape (token → source offset) that
    tokenizer pipelines emit. The doc subset filter sits BELOW the
    lateral join (UDTFs are the Python slow path; never feed them the
    full corpus when a pushed filter can shrink the input first)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="i: bigint, token: string, start: bigint")
    class TokenSpans:
        def eval(self, text: str):
            pos = 0
            for i, tok in enumerate(text.split(" "), start=1):
                yield i, tok, pos
                pos += len(tok) + 1

    spark.udtf.register("token_spans", TokenSpans)
    d = _t(spark, sf_dir, "documents")
    d.filter(F.col("doc_id") % 50 == 0).createOrReplaceTempView("docs_subset_v")
    return spark.sql(
        """
        SELECT d.doc_id, s.i, s.token, s.start
        FROM docs_subset_v d, LATERAL token_spans(d.text) s
        """
    )


# --------------------------------------------------------------------------
# Grouped-aggregate pandas UDF: per-type geometric mean of |value|+1
# --------------------------------------------------------------------------
@register(
    "grouped_agg_pandas_gmean",
    sql="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(exp(AVG(ln(1 + abs(value)))), 6) AS gmean_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("sql4", "pandas_udf", "grouped_agg"),
)
def grouped_agg_pandas_gmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregates (count + geometric mean of 1+|value|) as
    GROUPED_AGG pandas UDFs — Arrow moves each group's column once;
    the aggregation itself is a numpy reduction, not per-row Python.
    Spark disallows mixing pandas and JVM aggregates in one
    ``groupBy.agg`` (INVALID_PANDAS_UDF_PLACEMENT), so the count is a
    pandas aggregate too. The gmean formula mirrors the oracle
    exactly: exp(mean(ln(1 + abs(v))))."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def gmean1p(v: pd.Series) -> float:
        return float(np.exp(np.log(1.0 + v.abs().to_numpy()).mean()))

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return int(len(v))

    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            n_rows("value").alias("n"),
            F.round(gmean1p("value"), 6).alias("gmean_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 stateful streaming). Per-batch
# update emissions depend on micro-batch file slicing → rows-only,
# like its applyInPandasWithState sibling.
#
# Environment gate: the transformWithState Python worker speaks
# protobuf to the JVM state server; without google.protobuf the
# worker crashes at init. The operator (streaming/stream.py
# tws_user_stats) is fully implemented; the registry entry only
# appears where it can actually run (tests/test_streaming.py carries
# the matching skip).
# --------------------------------------------------------------------------
def _tws_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def streaming_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import (
        read_events_stream,
        run_available_now,
        tws_user_stats,
    )
    from ..memo import scratch_dir

    events = read_events_stream(spark, sf_dir)
    stats = tws_user_stats(events)
    ckpt = scratch_dir("ckpt_", "tws_stateful")
    return run_available_now(
        stats, spark, "mem_stream_tws", ckpt, output_mode="update"
    )


if _tws_available():  # pragma: no cover - container lacks protobuf
    register(
        "streaming_tws_user_stats",
        sql=None,
        tags=("sql4", "streaming", "stateful", "transformWithState"),
    )(streaming_tws_user_stats)


# --------------------------------------------------------------------------
# Full CUBE with GROUPING flags — the remaining grouping-sets shape
# (ROLLUP is covered by rollup_acctbal_by_region_nation). GROUPING()
# flags disambiguate "aggregated over this column" from a data-borne
# placeholder, the thing COALESCE alone cannot do.
# --------------------------------------------------------------------------
@register(
    "cube_status_priority",
    sql="""
    SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT)   AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY g_status, g_priority, status, priority
    """,
    tags=("agg", "cube", "grouping_sets", "sql"),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four grouping sets of (status, priority) in ONE pass —
    Spark expands CUBE into a single Expand + hash aggregate, not four
    scans; at 100 TB that is the difference between one shuffle and
    four. Per-column GROUPING() flags (0 = grouped by, 1 = aggregated
    over) are the engine-portable way to tag subtotal rows."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "g_status",
            "g_priority",
            "n_orders",
            "sum_total",
        )
        .orderBy("g_status", "g_priority", "status", "priority")
    )


# --------------------------------------------------------------------------
# LATERAL correlated subquery (Spark 4 SQL) — per-outer-row "top N
# related rows", the SQL-surface dual of the window-rank formulation
# (top3_customers_per_nation): same result class, different API.
# --------------------------------------------------------------------------
@register(
    "lateral_top2_customers",
    sql="""
    SELECT n.n_name AS nation, t.c_name AS customer,
           ROUND(t.c_acctbal, 2) AS acctbal
    FROM nation n,
    LATERAL (SELECT c_name, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT 2) t
    ORDER BY nation, acctbal DESC, customer
    """,
    tags=("sql", "lateral", "correlated", "topk"),
)
def lateral_top2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 customers by balance per nation via a LATERAL correlated
    subquery — Catalyst decorrelates it into the same
    partition-rank plan the window formulation produces (no per-row
    re-execution), so the SQL shape is free at scale; pinned here so
    a user porting LATERAL queries from the reference's SQL dialect
    has a checked example."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    return spark.sql(
        """
        SELECT n.n_name AS nation, t.c_name AS customer,
               ROUND(t.c_acctbal, 2) AS acctbal
        FROM lat_nation n,
        LATERAL (SELECT c_name, c_acctbal FROM lat_customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        ORDER BY nation, acctbal DESC, customer
        """
    )


# --------------------------------------------------------------------------
# Join-strategy hint battery: the SAME logical join forced through
# BROADCAST, SHUFFLE_HASH, and MERGE hints must produce identical
# results (hints steer the planner, never semantics). The registry row
# returns the 3-way-verified result; the plan divergence is pinned in
# tests.
# --------------------------------------------------------------------------
@register(
    "hinted_join_strategies",
    sql="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
    tags=("join", "hints", "sql", "planner"),
)
def hinted_join_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer⨝nation aggregated under all three join-strategy hints;
    the query returns the BROADCAST variant and asserts at plan-build
    time that the other two strategies produce the same logical
    schema. Hints are how a user pins a physical strategy when
    statistics mislead the planner (the 100 TB escape hatch when AQE's
    estimate is wrong); they must never change results — the pytest
    contract collects all three and compares."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")

    def agg(hinted_n):
        return (
            c.join(hinted_n, c.c_nationkey == hinted_n.n_nationkey)
            .groupBy(hinted_n.n_name.alias("nation"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_customers"),
                F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            )
            .orderBy("nation")
        )

    broadcast_v = agg(n.hint("broadcast"))
    assert (
        agg(n.hint("shuffle_hash")).schema == broadcast_v.schema
        and agg(n.hint("merge")).schema == broadcast_v.schema
    )
    return broadcast_v


# --------------------------------------------------------------------------
# Schema-drift union: v1 events (no enrichment column) unioned with v2
# events (adds parsed_k) via unionByName(allowMissingColumns=True) —
# the ingestion reality of evolving producers; missing columns
# null-fill, nothing silently reorders by position.
# --------------------------------------------------------------------------
@register(
    "schema_drift_union_stats",
    sql="""
    WITH v1 AS (
        SELECT event_id, event_type, CAST(NULL AS BIGINT) AS parsed_k,
               'v1' AS producer
        FROM events WHERE event_id % 2 = 0
    ),
    v2 AS (
        SELECT event_id, event_type,
               CAST(json_extract(props, '$.k') AS BIGINT) AS parsed_k,
               'v2' AS producer
        FROM events WHERE event_id % 2 = 1
    ),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT producer, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(parsed_k) AS BIGINT) AS n_with_parsed,
           CAST(COALESCE(SUM(parsed_k), 0) AS BIGINT) AS sum_parsed
    FROM u
    GROUP BY producer, event_type
    ORDER BY producer, event_type
    """,
    tags=("union", "schema_evolution", "sql"),
)
def schema_drift_union_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two producer generations of the events feed merged by COLUMN
    NAME with null-fill for the v1 rows that predate the parsed_k
    column. Positional union here would silently misalign; at 100 TB
    schema drift is permanent, so every union in the engine is
    unionByName and this query pins the allowMissingColumns form."""
    e = _t(spark, sf_dir, "events")
    v1 = e.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", F.lit("v1").alias("producer")
    )
    v2 = e.filter(F.col("event_id") % 2 == 1).select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("parsed_k"),
        F.lit("v2").alias("producer"),
    )
    u = v1.unionByName(v2, allowMissingColumns=True)
    return (
        u.groupBy("producer", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("parsed_k").cast("long").alias("n_with_parsed"),
            F.coalesce(F.sum("parsed_k"), F.lit(0))
            .cast("long")
            .alias("sum_parsed"),
        )
        .orderBy("producer", "event_type")
    )
