"""Spans recorded from outside the program, plus Spark event-log
attribution.

``Tracer.install`` wraps the layer functions named in ``SPANS`` by
monkeypatching every loaded module of the package that holds a
reference to them; the package itself is never edited. A span is
``(id, name, start, end, parent, round, thread)`` with wall-clock
epoch seconds; spans stay in memory until ``write``.

``read_event_log`` sums the stages and tasks of every job in the Spark
event log written during the run; ``attribute`` charges each job to
the innermost span whose interval contains its submission time. A span's self time
is its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import sys
import threading
import time

PACKAGE = "elb_log_etl_enrichment_spark"

#: (module, function) pairs wrapped as spans; the span name is
#: ``<module>.<function>`` without the package prefix
SPANS = [
    ("session", "get_spark"),
    ("sources.elb_logs", "parse_elb_lines"),
    ("plans.pipeline", "enrich_and_featurize"),
    ("sources.geo_cache", "update_geo_cache"),
    ("sources.geo_cache", "append_geo_cache_delta"),
    ("sources.geo_cache", "commit_geo_cache"),
    ("sinks.writers", "write_cleaned_logs"),
    ("sinks.writers", "write_parquet"),
    ("sinks.writers", "write_csv"),
    ("streaming.elb_stream", "stream_elb_pipeline"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = True
        self.round = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._open: list[dict] = []

    # -- recording ---------------------------------------------------------
    def span(self, name: str):
        return _SpanContext(self, name)

    def _start(self, name: str) -> dict:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            if stack:
                parent = stack[-1]["id"]
            else:  # a callback thread: nest under the newest open span
                parent = self._open[-1]["id"] if self._open else None
            s = {
                "id": next(self._ids), "name": name, "start": time.time(),
                "end": None, "parent": parent, "round": self.round,
                "thread": threading.get_ident(),
            }
            self._open.append(s)
        stack.append(s)
        return s

    def _end(self, s: dict) -> None:
        s["end"] = time.time()
        self._local.stack.remove(s)
        with self._lock:
            self._open.remove(s)
            self.spans.append(s)

    def install(self) -> None:
        """Wrap every ``SPANS`` function in every loaded package module
        that references it (``from x import f`` copies included)."""
        import importlib

        for mod, fn in SPANS:
            importlib.import_module(f"{PACKAGE}.{mod}")
        for mod, fn in SPANS:
            owner = sys.modules[f"{PACKAGE}.{mod}"]
            orig = getattr(owner, fn)
            wrapped = self._wrap(f"{mod}.{fn}", orig)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PACKAGE) and \
                        getattr(m, fn, None) is orig:
                    setattr(m, fn, wrapped)

    def _wrap(self, name: str, orig):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        return wrapper

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.s = self.tracer._start(self.name) if self.tracer.enabled else None
        return self.s

    def __exit__(self, *exc):
        if self.s is not None:
            self.tracer._end(self.s)
        return False


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _union_len(kids)
    return out


def read_event_log(event_dir: str) -> list[dict]:
    """Jobs from the (finished) event log: submission time in epoch
    seconds plus the summed counters of the stages and tasks they ran."""
    jobs: dict[int, dict] = {}
    stage_owner: dict[int, int] = {}
    stage_job: dict[tuple, int] = {}
    stage_submit: dict[tuple, float] = {}
    first_launch: dict[tuple, float] = {}
    for path in glob.glob(f"{event_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "jobs": 1, "tasks": 0, "cpu_ms": 0.0, "wait_ms": 0.0,
                        "gc_ms": 0.0, "input_bytes": 0, "shuffle_bytes": 0,
                        "spill_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_owner[sid] = jid
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_job[key] = stage_owner.get(info["Stage ID"])
                    if info.get("Submission Time") is not None:
                        stage_submit[key] = info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    job = jobs.get(stage_job.get(key))
                    if job is None:
                        continue
                    info = ev.get("Task Info", {})
                    launch = info.get("Launch Time")
                    if launch is not None:
                        first_launch[key] = min(first_launch.get(key, launch), launch)
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    job["tasks"] += 1
                    job["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    job["shuffle_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    job["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
    for key, sub in stage_submit.items():
        job = jobs.get(stage_job.get(key))
        if job is not None and key in first_launch:
            job["wait_ms"] += max(0.0, first_launch[key] - sub)
    return list(jobs.values())


def attribute(spans: list[dict], jobs: list[dict]) -> dict[int, dict]:
    """Span id → summed job counters of the jobs it submitted itself
    (the innermost span containing each job's submission time)."""
    out: dict[int, dict] = {}
    ordered = sorted(spans, key=lambda s: s["start"])
    for job in jobs:
        t = job["submit"]
        best = None
        for s in ordered:
            if s["start"] > t:
                break
            if s["end"] >= t:
                best = s  # the latest-starting container is innermost
        if best is None:
            continue
        acc = out.setdefault(best["id"], {})
        for k, v in job.items():
            if k != "submit":
                acc[k] = acc.get(k, 0) + v
    return out
