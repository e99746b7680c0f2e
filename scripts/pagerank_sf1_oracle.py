"""Materialized-iteration sf1 differential for nation_trade_pagerank
(r6 finding — same class as the kNN clustering oracle).

The registry oracle unrolls 10 power iterations into one WITH-chain;
under DuckDB's CTE handling at sf1 that re-evaluates the 6-way edge
join per iteration and exhausts a 24 GB limit (reproduced solo, and
still grinding at 60 GB). This script replays the SAME algebra — the
identical CTE bodies from ``_pagerank_sql_parts``, same full-precision
float literals, same IEEE arithmetic — but materializes each part as
a temp table, so the edge join runs ONCE and each iteration is a
dimension-sized join. A green run proves the registry query's values
at sf1; the sweep skips the single-statement form there and points
here.

Run:  python scripts/pagerank_sf1_oracle.py [sf_dir]   (default /tmp/sf1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
))

ITERS = 10


def check(spark, con, sf_dir: str) -> list[str]:
    """The materialized-iteration differential as a callable on an
    EXISTING session + DuckDB connection (r7: `scripts/oracle_sweep.py`
    runs this inline at sf1 instead of printing a skip pointer).
    Returns compare() issues; idempotent (OR REPLACE temp tables)."""
    import __spark_entry__ as ent
    from oracle_harness import compare

    from elb_log_etl_enrichment_spark.plans.queries_ext import (
        _pagerank_sql_parts,
    )

    engine = ent.queries()["nation_trade_pagerank"](spark, sf_dir)
    for part in _pagerank_sql_parts(ITERS):
        name, body = part.split(" AS ", 1)
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE {name.strip()} AS "
            f"SELECT * FROM {body.strip()}"
        )
    oracle = con.execute(
        f"SELECT name AS nation, ROUND(rank, 6) AS rank FROM pr{ITERS}"
    ).fetchdf()
    return compare(engine, oracle, "nation_trade_pagerank_sf1")


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
    print(f"OK: pagerank ranks match at {sf_dir} in {time.time() - t0:.1f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
