#!/usr/bin/env python3
"""Driver-row staleness gauge (VERDICT r9 item 5).

For every query in the registry, report the most recent driver
CORRECTNESS round that sampled it (and whether that row was a full
hash pass). The driver samples the FIRST 50 entries of
``all_queries()`` each round; that order is the literal
``DRIVER_ORDER`` list in ``plans/queries.py``. Rule for rotating it:
queries whose plan changed since their last driver row go first, then
every other name by this table's staleness, descending, ties keeping
their current ``DRIVER_ORDER`` position.

Usage:
    python scripts/driver_staleness.py            # table, stalest first
    python scripts/driver_staleness.py --stale 5  # only >=5 rounds stale
    python scripts/driver_staleness.py --json     # machine-readable
"""
from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_rounds() -> dict[int, dict]:
    rounds = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as fh:
            rounds[int(m.group(1))] = json.load(fh)
    return rounds


def registry_names() -> list[str]:
    sys.path.insert(0, REPO)
    from elb_log_etl_enrichment_spark.plans import queries

    return list(queries.all_queries().keys())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stale", type=int, default=0,
                    help="only show queries >= N rounds stale")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()

    rounds = load_rounds()
    latest_round = max(rounds)
    names = registry_names()

    rows = []
    for name in names:
        last = None
        last_pass = None
        for rnum in sorted(rounds, reverse=True):
            rec = rounds[rnum].get(name)
            if rec is not None:
                last = rnum
                last_pass = bool(
                    rec.get("rows_match") and rec.get("schema_match")
                    and (rec.get("hash_match") in (True, None))
                )
                break
        staleness = (latest_round - last) if last is not None else None
        rows.append({
            "query": name,
            "last_driver_round": last,
            "last_pass": last_pass,
            "staleness": staleness,
        })

    # never-sampled first (shouldn't exist after r9), then stalest
    rows.sort(key=lambda r: (-(r["staleness"] if r["staleness"] is not None
                               else 10**6), r["query"]))
    shown = [r for r in rows
             if (r["staleness"] is None or r["staleness"] >= args.stale)]

    if args.json:
        print(json.dumps({
            "latest_round": latest_round,
            "registry_size": len(names),
            "max_staleness": max((r["staleness"] or 0) for r in rows),
            "rows": shown,
        }, indent=1))
        return 0

    print(f"latest driver round: r{latest_round}; registry: {len(names)} "
          f"queries; max staleness: "
          f"{max((r['staleness'] or 0) for r in rows)} rounds")
    print(f"{'query':44s} {'last':>5s} {'stale':>5s} pass")
    for r in shown:
        last = f"r{r['last_driver_round']}" if r["last_driver_round"] else "-"
        stale = str(r["staleness"]) if r["staleness"] is not None else "inf"
        print(f"{r['query']:44s} {last:>5s} {stale:>5s} "
              f"{'ok' if r['last_pass'] else 'FAIL'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
