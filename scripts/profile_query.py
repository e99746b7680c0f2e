"""Per-stage profile of one registry query (optimization guide §1/§7).

Runs the named query in a fresh JVM with the Spark event log enabled,
times cold + N warm materializations (same `.count()` action as
bench.py, or the noop sink with --noop), then parses the event log and
prints, per job/stage of the LAST run: duration, task count, shuffle
read/write bytes, input bytes and spill — the numbers the Spark UI
would show, without the UI. Each run also prints how many classes
whole-stage codegen compiled during it and their mean Janino compile
ms: a warm run that still compiles is thrashing the JVM-wide codegen
cache, which otherwise shows only as a slower wall time.

Usage:
    python scripts/profile_query.py <query> [--warm 2] [--noop]
    SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as for bench.py
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, compile ms) since the JVM started."""
    jvm = spark._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return count, nanos / 1e6


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    args = ap.parse_args()

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
    from elb_log_etl_enrichment_spark.session import get_spark

    all_queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    evdir = f"/tmp/spark-events-{os.getpid()}"
    os.makedirs(evdir, exist_ok=True)
    spark = get_spark(
        app_name=f"profile-{args.name}",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    fn = REGISTRY[args.name].fn
    runs = []
    marks = []  # (t_start_ms, t_end_ms) per run, cluster clock ~ wall
    compiles = []  # (classes, mean compile ms) per run
    for i in range(args.warm + 1):
        spark.sparkContext.setJobDescription(f"{args.name} run {i}")
        n0, ms0 = codegen_counters(spark)
        t0 = time.time()
        df = fn(spark, sf_dir)
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        t1 = time.time()
        n1, ms1 = codegen_counters(spark)
        runs.append(round(t1 - t0, 3))
        marks.append((t0 * 1000, t1 * 1000))
        compiles.append((n1 - n0, (ms1 - ms0) / (n1 - n0) if n1 > n0 else 0.0))
    print(f"{args.name}: cold {runs[0]} s; warm {runs[1:]}")
    for i, (n, mean_ms) in enumerate(compiles):
        label = "cold" if i == 0 else f"warm {i}"
        print(f"  {label:>7}: {runs[i]:>8.3f} s, codegen compiled {n} classes, "
              f"mean {mean_ms:.1f} ms")

    spark.stop()
    # parse the event log for the LAST run's window
    logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
    path = max(logs, key=os.path.getmtime)
    if os.path.isdir(path):  # eventlog v2 writes a directory
        inner = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events")
        ]
        path = max(inner, key=os.path.getmtime)
    lo, hi = marks[-1]
    stages = {}
    jobs = []
    for line in open(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        k = ev.get("Event")
        if k == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub = si.get("Submission Time")
            if sub is None or not (lo <= sub <= hi):
                continue
            stages[si["Stage ID"]] = {
                "name": si["Stage Name"].split("\n")[0][:70],
                "ms": si.get("Completion Time", 0) - sub,
                "tasks": si["Number of Tasks"],
            }
        elif k == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            tm = ev.get("Task Metrics") or {}
            st = stages.get(sid)
            if st is None:
                continue
            st["in_mb"] = st.get("in_mb", 0) + (
                tm.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
            )
            st["sr_mb"] = st.get("sr_mb", 0) + (
                (tm.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
                 + tm.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)) / 1e6
            )
            st["sw_mb"] = st.get("sw_mb", 0) + (
                tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            )
            st["fetch_ms"] = st.get("fetch_ms", 0) + tm.get(
                "Shuffle Read Metrics", {}
            ).get("Fetch Wait Time", 0)
            st["gc_ms"] = st.get("gc_ms", 0) + tm.get("JVM GC Time", 0)
            st["cpu_ms"] = st.get("cpu_ms", 0) + tm.get(
                "Executor CPU Time", 0
            ) / 1e6
            st["spill_mb"] = st.get("spill_mb", 0) + (
                tm.get("Memory Bytes Spilled", 0) / 1e6
            )
        elif k == "SparkListenerJobEnd":
            jobs.append(ev["Job ID"])
    # task-end events may arrive for stages outside the window; drop
    # zero-duration leftovers
    total = sum(s["ms"] for s in stages.values())
    print(f"\nlast-run stages (sum {total} ms across {len(stages)} stages):")
    print(f"{'stage':>5} {'ms':>7} {'tasks':>5} {'cpu_ms':>8} {'gc':>5} "
          f"{'in_MB':>8} {'sr_MB':>8} {'sw_MB':>8} {'fetch':>5} {'spill':>6}  name")
    for sid in sorted(stages, key=lambda s: -stages[s]["ms"]):
        s = stages[sid]
        print(
            f"{sid:>5} {s['ms']:>7} {s['tasks']:>5} "
            f"{s.get('cpu_ms', 0):>8.0f} {s.get('gc_ms', 0):>5} "
            f"{s.get('in_mb', 0):>8.2f} {s.get('sr_mb', 0):>8.2f} "
            f"{s.get('sw_mb', 0):>8.2f} {s.get('fetch_ms', 0):>5} "
            f"{s.get('spill_mb', 0):>6.1f}  {s['name']}"
        )
    import shutil

    shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
