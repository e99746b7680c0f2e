"""Full oracle differential at an arbitrary SF (default sf0.1 — 100x
the local test SF, 10x the driver's correctness SF).

The per-commit gates run the 251 oracle-backed queries at sf0.001
(tests/test_oracle.py) and the driver checks its prefix at sf0.01;
this sweep re-runs every oracle pair at a bigger SF so value-hash
agreement is demonstrated at three scales, not one. Prints one JSON
line per FAILING query and a final summary line.

Run:  python scripts/oracle_sweep.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
)


def main() -> None:
    from pyspark.sql import SparkSession
    from query_runner import default_cpus

    cpus = default_cpus()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", cpus)
        # sf1 sweeps OOM the default 1g driver heap (broadcast builds);
        # match get_spark's sizing, overridable like bench.py
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as ent
    from oracle_harness import compare, duckdb_connection

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    con = duckdb_connection(sf_dir)
    osql = ent.oracle_sql()
    qs = ent.queries()
    # Two registry oracles are infeasible as single statements at the
    # LARGEST sweep scale (DuckDB re-evaluates WITH-CTE chains per
    # reference, PERF.md r5/r6). At sf1 the sweep swaps each to its
    # equivalent materialized-temp-table differential INLINE (VERDICT
    # r06 item 4 — one command, zero skips): same algebra, the
    # expensive CTE body evaluated once.
    sf1_variant = {}
    if os.path.basename(sf_dir.rstrip("/")) == "sf1":
        import knn_sf1_sampled_oracle
        import pagerank_sf1_oracle

        sf1_variant = {
            "knn_clustering_coefficient": (
                "sampled-node materialized-neighborhood differential "
                "(scripts/knn_sf1_sampled_oracle.check)",
                knn_sf1_sampled_oracle.check,
            ),
            "nation_trade_pagerank": (
                "materialized-iteration differential "
                "(scripts/pagerank_sf1_oracle.check)",
                pagerank_sf1_oracle.check,
            ),
        }

    n_checked = n_bad = 0
    t0 = time.time()
    variants = []
    for name, fn in qs.items():
        if name not in osql:
            continue
        n_checked += 1
        try:
            if name in sf1_variant:
                note, check_fn = sf1_variant[name]
                variants.append(name)
                print(json.dumps({"query": name, "variant": note}), flush=True)
                issues = check_fn(spark, con, sf_dir)
            else:
                issues = compare(
                    fn(spark, sf_dir), con.execute(osql[name]).fetchdf(), name
                )
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            issues = [f"error: {exc!r}"[:300]]
        if issues:
            n_bad += 1
            print(json.dumps({"query": name, "issues": issues}), flush=True)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "oracle_queries": n_checked,
                "mismatches": n_bad,
                "sf1_materialized_variants": variants,
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
