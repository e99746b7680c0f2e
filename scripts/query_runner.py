"""One fresh-JVM query runner for steady, A/B, scaling and profile timing.

The shared-session bench is exposed to host CPU steal (PERF.md records
the same query swinging 1 s <-> 20 s across idle runs), so per-query
numbers come from one solo protocol: each query runs in its own child
process — one fresh ``local[N]`` JVM, one cold + K warm ``.count()``
runs (``--noop``: the noop sink instead), steady = min of the warm
runs. The child also reads the JVM's codegen counters around each run
and, in profile mode, writes the Spark event log.

Modes:

* ``steady q1 q2 ... [--top N] [--stale]`` re-times queries into
  ``--out`` (default ``BENCH.steady.json``, which ``bench.py`` attaches
  to its report as the ``steady`` map). Before each attempt the
  1-minute load average is sampled, waiting up to ``--calm-wait`` s for
  load1 < ``--calm``; a loaded attempt is retried up to ``--attempts``
  times. The entry keeps the MINIMUM steady across attempts (steal only
  ever inflates) with the load of the attempt that produced it, and
  ``best_effort: true`` when no attempt ran calm. ``--top N`` adds the
  N slowest queries of ``BENCH.local.json``; ``--stale`` adds every
  entry of ``--out`` that ``bench.py``'s staleness rule rejects.
* ``ab --old ROOT q1 ...`` runs back-to-back pairs, one child on the
  ``ROOT`` checkout, then one on this one, and writes both runs, both
  steadies, their ratio and load1 to ``--out`` (default
  ``/tmp/ab_pairs.json``). Moderate steal leaves the ratio roughly
  intact where it swings solo numbers 3-4x.
* ``scaling [q ...] --cpus LOW,...,HIGH`` (at least two counts) runs
  one child per (query, cores), all counts back to back per query, and records per-count
  entries plus ``steady(LOW) / steady(HIGH)`` as ``ratio_low_over_high``
  in ``--out`` (default ``BENCH.scaling.json``). Run it on data big
  enough to parallelize: at sf0.1 nearly every query sits on the
  per-job scheduling floor, so its ratios say nothing.
* ``profile q [--noop]`` prints each run's wall time and the classes
  whole-stage codegen compiled during it (a warm run that still
  compiles is thrashing the JVM-wide codegen cache), then the last
  run's stages from the event log: duration, tasks, executor CPU, GC,
  input, shuffle read/write, fetch wait and spill.

Usage:
    python scripts/query_runner.py steady q1 q2 ... [--top 20] [--stale]
    python scripts/query_runner.py ab --old /path/to/base/checkout q1 ...
    python scripts/make_sf1.py /root/testdata/sf0.1 /tmp/sf1 10   # once
    SPARK_GRAFT_SF_DIR=/tmp/sf1 python scripts/query_runner.py scaling --cpus 8,32
    python scripts/query_runner.py profile q [--noop]

``SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) and
``SPARK_GRAFT_CPUS`` (default: the cores this process may run on) are
the variables ``bench.py`` reads; every child JVM runs ``local[N]`` at
that core count, except in ``scaling``, whose ``--cpus`` sets ``N`` per
child while the shuffle width stays ``SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD_TIMEOUT_S = 600

DEFAULT_OUT = {
    "steady": os.path.join(REPO_ROOT, "BENCH.steady.json"),
    "ab": "/tmp/ab_pairs.json",
    "scaling": os.path.join(REPO_ROOT, "BENCH.scaling.json"),
}

#: default scaling subset: data-proportional, shuffle/compute-heavy paths
#: (the BENCH.sf1.json heavy tier minus artifact-served ANN queries,
#: whose serve-only timing is deliberately layout-bound, plus the
#: classic wide-shuffle aggregates).
SCALING_QUERIES = [
    "salted_user_event_totals",   # two-level skew-safe aggregate
    "sessionize_events",          # per-user window over the fact table
    "dedup_cluster_sizes",        # connected components over pairs
    "minhash_lsh_near_dup",       # banded LSH mine
    "ngram_jaccard_near_dup",     # prefix-filtered pair join
    "simhash_near_dup",           # signature pass + blocked join
    "exact_median_two_pass",      # full-scan steering + selection
    "kruskal_wallis_value_by_type",  # bucketed global rank
    "padding_waste_audit",        # tokenize + two distributed ranks
    "naive_bayes_langid_confusion",  # token explode + scoring join
]

#: child body: one query, one fresh JVM, cold + K warm materializations.
#: argv: root name sf_dir cpus warm noop("1" or "") event_dir("" = off)
_CHILD = r"""
import json, sys, time
root, name, sf_dir, cpus, warm, noop, event_dir = sys.argv[1:8]
sys.path.insert(0, root)
from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
from elb_log_etl_enrichment_spark.session import get_spark
all_queries()
conf = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.dir": event_dir,
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
} if event_dir else None
spark = get_spark(app_name="runner-" + name, master="local[" + cpus + "]",
                  extra_conf=conf)
spark.sparkContext.setLogLevel("ERROR")
jvm = spark._jvm
def codegen():
    return (
        jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount(),
        jvm.org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime() / 1e6,
    )
runs = []
for i in range(int(warm) + 1):
    spark.sparkContext.setJobDescription(name + " run " + str(i))
    n0, ms0 = codegen()
    t0, p0 = time.time(), time.perf_counter()
    df = REGISTRY[name].fn(spark, sf_dir)
    if noop:
        df.write.format("noop").mode("overwrite").save()
    else:
        df.count()
    s, t1 = time.perf_counter() - p0, time.time()
    n1, ms1 = codegen()
    runs.append({"s": round(s, 3), "t0_ms": t0 * 1000, "t1_ms": t1 * 1000,
                 "classes": n1 - n0, "compile_ms": ms1 - ms0})
print("RUNNER_JSON:" + json.dumps(runs), flush=True)
spark.stop()
"""


def default_cpus() -> str:
    """``SPARK_GRAFT_CPUS``, else the number of cores this process may
    run on (not the machine's total: a container or taskset may grant
    fewer)."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _git_head() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=REPO_ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip()
    except Exception:
        return "unknown"


def _load1() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


def run_child(
    root: str, name: str, sf_dir: str, cpus: str, warm: int,
    noop: bool = False, event_dir: str = "",
) -> list[dict] | None:
    """Run ``name`` from the checkout at ``root`` in a fresh JVM. Per
    run: wall ``s``, its wall-clock window ``t0_ms``/``t1_ms``, and the
    codegen ``classes`` compiled with their ``compile_ms``. None (with
    the child's stderr tail) when the child fails or outlives
    ``CHILD_TIMEOUT_S``, so one hung JVM cannot stall a whole run."""
    try:
        proc = subprocess.run(
            [sys.executable, "-c", _CHILD, root, name, sf_dir, cpus,
             str(warm), "1" if noop else "", event_dir],
            capture_output=True, text=True, cwd=root, timeout=CHILD_TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"{name}@{cpus}c ({root}): child timed out after "
                         f"{CHILD_TIMEOUT_S} s\n")
        return None
    for line in proc.stdout.splitlines():
        if line.startswith("RUNNER_JSON:"):
            return json.loads(line[len("RUNNER_JSON:"):])
    sys.stderr.write(f"{name}@{cpus}c ({root}): child failed\n"
                     f"{proc.stderr[-2000:]}\n")
    return None


def _time(root: str, name: str, sf_dir: str, cpus: str, warm: int) -> dict | None:
    """``cold``, ``warm`` and ``steady`` (= min warm) of one child: the
    fields every mode's record shares."""
    runs = run_child(root, name, sf_dir, cpus, warm)
    if runs is None:
        return None
    times = [r["s"] for r in runs]
    return {"cold": times[0], "warm": times[1:], "steady": min(times[1:])}


# -- steady ----------------------------------------------------------


def _wait_for_calm(calm: float, budget_s: float) -> float | None:
    """Poll load1 until it drops below ``calm`` or the waiting budget
    runs out; returns the last sample. A child run under steal is
    ~25 s of wasted wall-clock AND a misleading number, while a 10 s
    sleep costs only the sleep."""
    load1 = _load1()
    deadline = time.time() + budget_s
    while load1 is not None and load1 >= calm and time.time() < deadline:
        time.sleep(10)
        load1 = _load1()
    return load1


def retime(
    name: str, sf_dir: str, cpus: str, warm: int,
    calm: float, attempts: int, calm_wait: float, commit: str,
) -> dict | None:
    """The steady entry for ``name``: load1 is sampled BEFORE each
    attempt (ambient pressure, not the run's own load), the minimum
    steady across attempts is kept, and ``best_effort`` marks an entry
    no calm attempt produced."""
    recs: list[dict] = []
    for attempt in range(1, attempts + 1):
        load1 = _wait_for_calm(calm, calm_wait)
        rec = _time(REPO_ROOT, name, sf_dir, cpus, warm)
        if rec is None:
            continue
        rec["load1"] = load1
        recs.append(rec)
        if load1 is not None and load1 < calm:
            break
        if attempt < attempts:
            print(f"{name}: attempt {attempt} at load1={load1} >= {calm}; "
                  "retrying for a calm window", flush=True)
    if not recs:
        return None
    best = min(recs, key=lambda r: r["steady"])
    best["attempts"] = len(recs)
    if best["load1"] is None or best["load1"] >= calm:
        best["best_effort"] = True
    best.update({"sf_dir": sf_dir, "cpus": cpus, "commit": commit})
    return best


def _top_from_bench(n: int) -> list[str]:
    with open(os.path.join(REPO_ROOT, "BENCH.local.json")) as fh:
        timings = json.load(fh)["queries"]
    return [k for k, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:n]]


def _stale_names(book: dict) -> list[str]:
    sys.path.insert(0, REPO_ROOT)
    from bench import _stale_steady_entries
    from elb_log_etl_enrichment_spark.plans.queries import all_queries

    all_queries()
    return _stale_steady_entries(book)


# -- profile ---------------------------------------------------------


def parse_stages(lines, lo_ms: float, hi_ms: float) -> dict[int, dict]:
    """Per stage SUBMITTED inside ``[lo_ms, hi_ms]``: wall ``ms``,
    ``tasks``, and task-metric sums (``cpu_ms``, ``gc_ms``, ``in_mb``,
    ``sr_mb``, ``sw_mb``, ``fetch_ms``, ``spill_mb``) from event-log
    JSON lines. A stage's task-end events precede its completion event,
    so metrics are summed per stage id first and joined at the end."""
    stages: dict[int, dict] = {}
    metrics: dict[int, dict] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub = si.get("Submission Time")
            if sub is not None and lo_ms <= sub <= hi_ms:
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split("\n")[0][:70],
                    "ms": si.get("Completion Time", 0) - sub,
                    "tasks": si["Number of Tasks"],
                }
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics", {})
            m = metrics.setdefault(ev["Stage ID"], {})
            for key, value in (
                ("in_mb", tm.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6),
                ("sr_mb", (sr.get("Local Bytes Read", 0)
                           + sr.get("Remote Bytes Read", 0)) / 1e6),
                ("sw_mb", tm.get("Shuffle Write Metrics", {})
                 .get("Shuffle Bytes Written", 0) / 1e6),
                ("fetch_ms", sr.get("Fetch Wait Time", 0)),
                ("gc_ms", tm.get("JVM GC Time", 0)),
                ("cpu_ms", tm.get("Executor CPU Time", 0) / 1e6),
                ("spill_mb", tm.get("Memory Bytes Spilled", 0) / 1e6),
            ):
                m[key] = m.get(key, 0) + value
    for sid, st in stages.items():
        st.update(metrics.get(sid, {}))
    return stages


def _event_log(event_dir: str) -> str:
    path = max((os.path.join(event_dir, f) for f in os.listdir(event_dir)),
               key=os.path.getmtime)
    if os.path.isdir(path):  # eventlog v2 writes a directory
        path = max((os.path.join(path, f) for f in os.listdir(path)
                    if f.startswith("events")), key=os.path.getmtime)
    return path


def print_profile(name: str, runs: list[dict], stages: dict[int, dict]) -> None:
    secs = [r["s"] for r in runs]
    print(f"{name}: cold {secs[0]} s; warm {secs[1:]}")
    for i, r in enumerate(runs):
        label = "cold" if i == 0 else f"warm {i}"
        n = r["classes"]
        mean_ms = r["compile_ms"] / n if n > 0 else 0.0
        print(f"  {label:>7}: {r['s']:>8.3f} s, codegen compiled {n} classes, "
              f"mean {mean_ms:.1f} ms")
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


# -- main ------------------------------------------------------------


def _load_book(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def _save_book(path: str, book: dict) -> None:
    with open(path, "w") as fh:
        json.dump(book, fh, indent=1, sort_keys=True)
        fh.write("\n")


def _parser() -> argparse.ArgumentParser:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--warm", type=int, default=2,
                        help="warm runs per child after the cold run")
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    modes = {m: sub.add_parser(m, parents=[common])
             for m in ("steady", "ab", "scaling", "profile")}
    for mode, out in DEFAULT_OUT.items():
        modes[mode].add_argument("--out", default=out,
                                 help=f"output JSON (default {out})")
    p = modes["steady"]
    p.add_argument("names", nargs="*", help="query names to re-time")
    p.add_argument("--top", type=int, default=0,
                   help="also re-time the N slowest queries from BENCH.local.json")
    p.add_argument("--stale", action="store_true",
                   help="also re-time every --out entry bench.py's "
                        "staleness rule rejects")
    p.add_argument("--calm", type=float, default=1.0,
                   help="load1 threshold below which a window counts as quiet")
    p.add_argument("--attempts", type=int, default=2,
                   help="max measurement attempts per query when no calm window")
    p.add_argument("--calm-wait", type=float, default=60.0,
                   help="seconds to poll for a calm window before each attempt")
    modes["ab"].add_argument("names", nargs="+")
    modes["ab"].add_argument("--old", required=True,
                             help="root of the baseline checkout")
    modes["scaling"].add_argument(
        "names", nargs="*", help=f"queries (default: {len(SCALING_QUERIES)} "
                                 "shuffle-heavy ones)")
    modes["scaling"].add_argument(
        "--cpus", required=True,
        help="two or more core counts, comma-separated (e.g. 8,32): one "
             "local[N] JVM per count")
    modes["profile"].add_argument("name")
    modes["profile"].add_argument("--noop", action="store_true",
                                  help="write to the noop sink instead of .count()")
    return ap


def main() -> None:
    ap = _parser()
    args = ap.parse_args()
    sf_dir = default_sf_dir()
    if not os.path.isdir(sf_dir):
        ap.error(f"SPARK_GRAFT_SF_DIR={sf_dir} is not a directory "
                 "(scripts/make_sf1.py builds an sf1 copy)")
    cpus = default_cpus()
    # the children size their shuffles from this, as bench.py's do
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    if args.mode == "scaling":
        cpu_list = sorted((c.strip() for c in args.cpus.split(",")),
                          key=int)  # numeric: ratio_low_over_high is first/last
        if len(cpu_list) < 2:
            ap.error("scaling needs at least two --cpus counts, e.g. --cpus 8,32")

    if args.mode == "profile":
        event_dir = tempfile.mkdtemp(prefix="spark-events-")
        try:
            runs = run_child(REPO_ROOT, args.name, sf_dir, cpus, args.warm,
                             noop=args.noop, event_dir=event_dir)
            if runs is None:
                raise SystemExit(1)
            with open(_event_log(event_dir)) as fh:
                stages = parse_stages(fh, runs[-1]["t0_ms"], runs[-1]["t1_ms"])
            print_profile(args.name, runs, stages)
        finally:
            shutil.rmtree(event_dir, ignore_errors=True)
        return

    book = {} if args.mode == "ab" else _load_book(args.out)
    names = args.names
    if args.mode == "steady":
        stale = _stale_names(book) if args.stale and book else []
        if args.stale:
            print(f"stale steady entries: {stale or 'none'}", flush=True)
        names = list(dict.fromkeys(
            names + (_top_from_bench(args.top) if args.top else []) + stale
        ))
        if not names:
            if args.stale:
                return
            ap.error("no queries: pass names, --top N, or --stale")
    elif args.mode == "scaling":
        names = names or SCALING_QUERIES
    commit = _git_head()

    for name in names:
        if args.mode == "steady":
            rec = retime(name, sf_dir, cpus, args.warm, args.calm,
                         args.attempts, args.calm_wait, commit)
            if rec is None:
                continue
            flag = " (BEST-EFFORT: no calm window)" if rec.get("best_effort") else ""
            print(f"{name}: cold {rec['cold']} s; warm {rec['warm']} -> "
                  f"steady {rec['steady']} s @ load1={rec['load1']}{flag}",
                  flush=True)
        elif args.mode == "ab":
            l0 = _load1()
            old = _time(args.old, name, sf_dir, cpus, args.warm)
            new = old and _time(REPO_ROOT, name, sf_dir, cpus, args.warm)
            if not new:
                print(f"{name}: ERR child failed", flush=True)
                continue
            s_old, s_new = old["steady"], new["steady"]
            ratio = s_new / s_old if s_old else float("nan")
            rec = {
                "old_runs": [old["cold"], *old["warm"]],
                "new_runs": [new["cold"], *new["warm"]],
                "old_steady": s_old, "new_steady": s_new,
                "ratio": round(ratio, 3), "load1_at_start": l0,
            }
            print(f"{name}: old {s_old:.2f}s -> new {s_new:.2f}s (x{ratio:.2f}, "
                  f"cold {old['cold']:.1f}->{new['cold']:.1f}, load1 {l0})",
                  flush=True)
        else:
            rec = {"sf_dir": sf_dir, "commit": commit, "load1": _load1(),
                   "cpus": {}}
            # all counts back to back per query so they share ambient load
            for c in cpu_list:
                r = _time(REPO_ROOT, name, sf_dir, c, args.warm)
                if r is not None:
                    rec["cpus"][c] = r
            if len(rec["cpus"]) == len(cpu_list):
                lo, hi = cpu_list[0], cpu_list[-1]
                s_lo, s_hi = rec["cpus"][lo]["steady"], rec["cpus"][hi]["steady"]
                rec["ratio_low_over_high"] = round(s_lo / s_hi, 2) if s_hi else None
                print(f"{name}: {lo}c {s_lo:.2f}s / {hi}c {s_hi:.2f}s "
                      f"= x{rec['ratio_low_over_high']}", flush=True)
        book[name] = rec
        _save_book(args.out, book)  # persist incrementally
    print(f"{args.out}: {len(book)} queries")


if __name__ == "__main__":
    main()
