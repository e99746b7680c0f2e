"""Benchmark runner.

    python3 perfbench/run.py --workload {elb_batch,elb_stream}
        --seed N --seconds S --trace {0,1} [--keep]

Generates the workload's inputs from the seed, then starts one fresh
worker process on ``local[<cores>]`` (cores = CPUs this process may
run on, as ``nproc`` reports) that takes the set-up samples and then
measures. Prints a short report and, as its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer
metrics with ``--trace 1``.

Works from any cwd. Everything it writes goes to a fresh directory
under ``<checkout>/.perfbench_work/`` that is removed at exit unless
``--keep`` is given (then the span file and event log stay there).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen
from worker import session_stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "elb_log_etl_enrichment_spark"

#: set-up samples per untraced run: the worker's cold start (process
#: spawn to warm session), then in-process restarts (stop the session,
#: get_spark and warm up again)
SETUP_SAMPLES = 5
#: wall-clock cap for one worker process
CHILD_TIMEOUT_S = 150
#: JVM heap of each worker
DRIVER_MEM = "2g"


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _stop_session(proc: subprocess.Popen) -> None:
    """Terminate every process of the worker's session and wait until
    none is left, zombies included (the JVM and the PySpark daemon
    outlive the worker briefly and are reaped by init; the worker is
    reaped here)."""
    sid = proc.pid
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        procs = session_stats(sid)
        if not procs:
            return
        for pid in [p for p, fields in procs.items() if fields[0] != "Z"]:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while proc.poll() is None or session_stats(sid):
            if time.monotonic() > end:
                break
            time.sleep(0.05)


def run_worker(cfg: dict, env: dict) -> tuple[dict, float]:
    """Run the worker in its own session, then stop whatever is left of
    the session; return (result, cold set-up seconds from spawn
    to warm session)."""
    with open(cfg["config"], "w") as f:
        json.dump(cfg, f)
    t_spawn = time.monotonic()
    with open(cfg["log"], "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg["config"]],
            env=env, cwd=cfg["work"], start_new_session=True,
            stdout=subprocess.DEVNULL, stderr=log,
        )
    try:
        proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        _stop_session(proc)
        proc.wait()
    try:
        with open(cfg["result"]) as f:
            result = json.load(f)
    except (OSError, ValueError):
        with open(cfg["log"]) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"worker died (exit {proc.returncode}):\n{tail}")
    if result.get("fatal"):
        raise RuntimeError("worker failed:\n" + result["fatal"])
    return result, result["t_warm"] - t_spawn


def generate(workload: str, seed: int, work: str) -> dict:
    inputs = os.path.join(work, "inputs")
    if workload == "elb_batch":
        return gen.elb_batch_inputs(seed, inputs)
    return gen.elb_stream_inputs(seed, inputs)


def end_to_end(ops: list[dict], setups: list[float]) -> dict:
    timed = [o for o in ops if o["kind"] != "idle"]
    return {
        "setup_s": statistics.median(setups),
        "op_s.p50": statistics.median(o["wall"] for o in timed),
        "items_per_s": sum(o["items"] for o in timed) / sum(o["wall"] for o in timed),
    }


def per_layer(result: dict) -> dict:
    out = dict(result["layer"], **{"process.peak_rss_mb": result["peak_rss_mb"]})
    fs = result["layer_fs"]
    for k in {k for row in fs for k in row}:
        out[k] = statistics.fmean(row[k] for row in fs if k in row)
    traced = set(result["traced_rounds"])
    walls: dict[bool, dict[int, float]] = {True: {}, False: {}}
    for o in result["ops"]:
        if o["kind"] != "idle":
            side = walls[o["round"] in traced]
            side[o["round"]] = side.get(o["round"], 0.0) + o["wall"]
    out["trace.overhead_s"] = (
        statistics.median(walls[True].values()) - statistics.median(walls[False].values())
    )
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.sizes()))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "plans", "pipeline.py")):
        _die(f"the package {PACKAGE!r} is not in {ROOT}; nothing to measure")
    if not os.path.isfile(spec_path):
        _die(f"{spec_path} is missing")
    with open(spec_path) as f:
        spec = json.load(f)

    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        ])),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    try:
        facts = generate(args.workload, args.seed, work)
        loop = gen.sizes()[args.workload]
        result, cold_s = run_worker(dict(
            workload=args.workload, seconds=args.seconds, trace=bool(args.trace),
            cores=cores, root=ROOT, work=work, facts=facts,
            warm_rounds=loop["warm_rounds"], min_rounds=loop["min_rounds"],
            setup_restarts=0 if args.trace else SETUP_SAMPLES - 1,
            config=os.path.join(work, "config.json"),
            result=os.path.join(work, "result.json"),
            log=os.path.join(work, "worker.log"),
        ), env)
        setups = [cold_s] + result["restarts"]
        ops = result["ops"]
        attempted = len(ops)
        failed = sum(1 for o in ops if o["errors"])
        for o in ops:
            for e in o["errors"]:
                print(f"# check failed: {e}", file=sys.stderr)
        if args.trace:
            values, wanted = per_layer(result), spec["per_layer"]
        else:
            values, wanted = end_to_end(ops, setups), spec["end_to_end"]
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        }
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
        else:
            print(f"# work directory kept: {work}", file=sys.stderr)

    sizes = {k: v for k, v in facts.items() if isinstance(v, (int, float))}
    if "ticks" in facts:
        sizes.update(ticks_generated=len(facts["ticks"]), lines_per_tick=facts["tick_lines"][0])
    timed = [o for o in ops if o["kind"] != "idle"]
    print(f"# workload={args.workload} seed={args.seed} cores={cores} "
          f"trace={args.trace} window_s={args.seconds} timed_ops={len(timed)} "
          f"ops={attempted} setup_samples_s={[round(x, 3) for x in setups]}")
    print(f"# inputs {json.dumps(sizes)}")
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
