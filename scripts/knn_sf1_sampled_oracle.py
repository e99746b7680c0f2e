"""Deterministic-subset sf1 differential for knn_clustering_coefficient
(VERDICT r05 item 2).

The full DuckDB oracle is infeasible at sf1 (PERF.md r5: exhausts a
24 GB memory limit plus 77 GB of spill), so the scale differential for
this one query stopped at sf0.1. This script closes the gap with a
BOUNDED oracle: every node with ``node % SAMPLE_MOD == 0`` (a seeded,
engine-portable sample — ~n/37 nodes) has its exact (degree, triangle
count) verified. The oracle never enumerates global triangles: it
materializes only the sampled nodes' neighborhoods (degree-bounded by
the kNN construction) and counts edges among neighbors — O(sample ·
k²) work regardless of corpus size. The engine side is the SAME
``knn_per_node`` frame the registry query aggregates, so a green run
pins the per-node values feeding avg_cc/transitivity at sf1.

Run:  python scripts/knn_sf1_sampled_oracle.py [sf_dir]   (default /tmp/sf1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
))

SAMPLE_MOD = 37


def _edges_table_sql() -> str:
    """Materialize the kNN edge list ONCE: DuckDB inlines WITH-CTEs
    per reference, so the one-query form re-ran the 6M-row
    lineitem self-join + window for every `edges` mention and
    exhausted spill even in the sampled oracle (r6 finding)."""
    from elb_log_etl_enrichment_spark.plans.queries_training import _KNN_EDGE_CTE

    return (
        "CREATE OR REPLACE TEMP TABLE knn_edges AS "
        f"WITH {_KNN_EDGE_CTE} SELECT * FROM edges"
    )


_SAMPLED_SQL = f"""
    WITH sym AS (
        SELECT u, v FROM knn_edges UNION ALL SELECT v AS u, u AS v FROM knn_edges
    ),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
    smp AS (SELECT node FROM deg WHERE node % {SAMPLE_MOD} = 0),
    nbr AS (
        SELECT s.node, sym.v AS nb
        FROM smp s JOIN sym ON sym.u = s.node
    ),
    tri AS (
        SELECT n1.node, CAST(COUNT(*) AS BIGINT) AS t
        FROM nbr n1
        JOIN nbr n2 ON n2.node = n1.node AND n1.nb < n2.nb
        JOIN knn_edges e ON e.u = n1.nb AND e.v = n2.nb
        GROUP BY n1.node
    )
    SELECT deg.node, deg.d, COALESCE(tri.t, 0) AS t
    FROM deg JOIN smp USING (node)
    LEFT JOIN tri USING (node)
    ORDER BY node
    """


def check(spark, con, sf_dir: str) -> list[str]:
    """The bounded differential as a callable: engine per-node values
    vs the materialized-neighborhood oracle on an EXISTING session +
    DuckDB connection (r7: `scripts/oracle_sweep.py` runs this inline
    at sf1 instead of printing a skip pointer). Returns compare()
    issues; idempotent on the connection (OR REPLACE temp table)."""
    from pyspark.sql import functions as F

    from oracle_harness import compare

    from elb_log_etl_enrichment_spark.plans.queries_profiling import knn_per_node

    engine = (
        knn_per_node(spark, sf_dir)
        .filter(F.col("node") % SAMPLE_MOD == 0)
        .select("node", F.col("d").cast("long").alias("d"),
                F.col("t").cast("long").alias("t"))
    )
    con.execute(_edges_table_sql())
    oracle = con.execute(_SAMPLED_SQL).fetchdf()
    return compare(engine, oracle, "knn_clustering_coefficient_sampled_sf1")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"

    from pyspark.sql import SparkSession

    from oracle_harness import duckdb_connection
    from query_runner import default_cpus

    cpus = default_cpus()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    issues = check(spark, duckdb_connection(sf_dir), sf_dir)
    if issues:
        for i in issues:
            print("MISMATCH:", i)
        return 1
    print(f"OK: sampled (degree, triangles) match at {sf_dir} "
          f"in {time.time() - t0:.1f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
