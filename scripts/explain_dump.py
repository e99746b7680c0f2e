"""Dump ``.explain("formatted")`` for named registry queries to files.

Optimization-round evidence tooling (guide §1 / §7.2): the judge checks
plan claims (Exchange counts, join strategies, PushedFilters,
BatchEvalPython nodes) against committed plan files, so every touched
query gets a ``plans/r10/<query>_before.txt`` / ``..._after.txt`` pair
captured with this script.

Usage:
    python scripts/explain_dump.py --out plans/r10 --suffix _before q1 q2 ...
    SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as for scripts/query_runner.py
"""

from __future__ import annotations

import argparse
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from query_runner import default_cpus, default_sf_dir  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--out", default=os.path.join(REPO_ROOT, "plans", "r10"))
    ap.add_argument("--suffix", default="_before")
    args = ap.parse_args()

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
    from elb_log_etl_enrichment_spark.session import get_spark

    all_queries()
    sf_dir = default_sf_dir()
    spark = get_spark(app_name="explain-dump", master=f"local[{default_cpus()}]")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)

    for name in args.names:
        if name not in REGISTRY:
            print(f"SKIP (not in registry): {name}")
            continue
        df = REGISTRY[name].fn(spark, sf_dir)
        # _jdf gives the exact string explain() prints, without stdout
        # capture games
        txt = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# query: {name}\n# sf_dir: {sf_dir}\n")
            fh.write(txt)
            if not txt.endswith("\n"):
                fh.write("\n")
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
