"""One benchmark process: start a session, warm it, run one workload's
closed loop for the measurement window, check every output.

Started by ``run.py`` as ``python3 worker.py <config.json>``; writes
its results as JSON to ``config["result"]``. After the cold start it
restarts the session ``setup_restarts`` times to take more set-up
samples. With ``trace`` on, the layer functions are wrapped in spans,
Spark writes an event log, rounds alternate between traced and
untraced, and the per-layer counters are computed after the session
stops.
"""

from __future__ import annotations

import json
from contextlib import nullcontext
import os
import shutil
import statistics
import sys
import time
import traceback

from spans import Tracer, attribute, read_event_log, self_times  # noqa: E402


def _log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def session_stats(sid: int) -> dict[int, list[str]]:
    """pid → ``/proc/<pid>/stat`` fields (after the command name) of the
    processes of session ``sid``, zombies included: the worker, its JVM
    and the PySpark daemon with its Python workers (which moves to a
    process group of its own but stays in the session)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            out[int(d)] = fields
    return out


class _RssSampler:
    """Peak resident memory of this worker's session (driver, JVM,
    Python workers), sampled from ``/proc`` every 0.1 s while
    running."""

    def __init__(self) -> None:
        import threading

        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._stop.wait(0.1):
            total = 0
            for pid in session_stats(os.getsid(0)):
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * page
                except OSError:
                    pass
            self.peak_mb = max(self.peak_mb, total / 2**20)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_mb


def _files(path: str) -> dict[str, tuple[int, int]]:
    """Data files under ``path``: relpath → (size, mtime_ns)."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(root, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    """Shared loop: ``warmup`` is part of set-up; ``round`` runs one
    round of operations and returns their records (a warm round,
    ``r < 0``, returns none); ``finish`` ends the run after the window
    and returns any last operations."""

    def __init__(self, spark, cfg: dict, tracer: Tracer | None) -> None:
        self.spark, self.cfg, self.tracer = spark, cfg, tracer
        self.facts = cfg["facts"]
        self.work = cfg["work"]
        self.layer: list[dict] = []  # filesystem counters, per traced round

    def op_span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def traced(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def exhausted(self) -> bool:
        return False

    def finish(self, ops: list[dict]) -> list[dict]:
        return []


class ElbBatch(Workload):
    def warmup(self) -> None:
        _parse_count(self.spark, self.facts["logs"][0])

    def round(self, r: int) -> list[dict]:
        from geofetch import delayed_fake_fetch
        from elb_log_etl_enrichment_spark.plans.pipeline import run_pipeline

        out = os.path.join(self.work, "batch_out")
        cache = os.path.join(self.work, "batch_cache")
        shutil.rmtree(cache, ignore_errors=True)
        shutil.copytree(self.facts["seed_cache"], cache)
        before = _files(cache)
        t0 = time.perf_counter()
        with self.op_span("op"):
            frames = run_pipeline(
                self.spark, self.facts["logs_glob"], out,
                geo_cache_path=cache, fetch_fn=delayed_fake_fetch,
            )
        wall = time.perf_counter() - t0
        if r < 0:
            frames["enriched"].unpersist()
            return []
        errors = []
        try:
            n_rows = frames["metrics"]["n_rows"]
            if n_rows != self.facts["kept_lines"]:
                errors.append(f"enriched rows {n_rows} != {self.facts['kept_lines']}")
        finally:
            frames["enriched"].unpersist()
        rows, ips = _cache_rows(self.spark, cache)
        if rows != ips or rows != self.facts["cache_rows_after"]:
            errors.append(f"cache rows {rows}, distinct ips {ips}, "
                          f"expected {self.facts['cache_rows_after']}")
        n = self.spark.read.parquet(os.path.join(out, "cleaned_logs")).count()
        if n != self.facts["kept_lines"]:
            errors.append(f"cleaned_logs rows {n} != {self.facts['kept_lines']}")
        if self.traced():
            after = _files(cache)
            sinks = _files(out)
            self.layer.append({
                "sinks.writers.files_written": len(sinks),
                "sinks.writers.bytes_written": sum(s for s, _ in sinks.values()),
                **_cache_layer(before, after),
                "sources.http_geo.ips_fetched": rows - self.facts["cache_rows_before"],
                "sources.geo_cache.hit_ratio": 1 - (rows - self.facts["cache_rows_before"])
                / self.facts["parsed_ips"],
                "sources.elb_logs.rows_kept_ratio": self.facts["kept_lines"] / self.facts["lines"],
            })
        return [{"kind": "run", "round": r, "wall": wall,
                 "items": self.facts["lines"], "errors": errors}]


class ElbStream(Workload):
    """One stream on one checkpoint and cache for the whole run: each
    round lands the next tick object and runs one tick; the warm rounds
    are its first ticks. ``finish`` checks the sink against the batch
    answer over the landed objects, then runs one idle tick."""

    def __init__(self, *a) -> None:
        super().__init__(*a)
        base = _fresh(os.path.join(self.work, "stream"))
        self.src = os.path.join(base, "src")
        os.makedirs(self.src)
        self.out = os.path.join(base, "out")
        self.cache = os.path.join(base, "cache")
        shutil.copytree(self.facts["seed_cache"], self.cache)
        self.landed = 0

    def _tick(self) -> float:
        """One stream_elb_pipeline call; returns its wall seconds."""
        from geofetch import delayed_fake_fetch
        from elb_log_etl_enrichment_spark.streaming.elb_stream import stream_elb_pipeline

        t0 = time.perf_counter()
        with self.op_span("op"):
            stream_elb_pipeline(
                self.spark, os.path.join(self.src, "*.log.gz"), self.out,
                geo_cache_path=self.cache, fetch_fn=delayed_fake_fetch,
                batch_shuffle_partitions=self.cfg["cores"],
            )
        return time.perf_counter() - t0

    def warmup(self) -> None:
        _parse_count(self.spark, self.facts["ticks"][0])

    def _sink_rows(self) -> int:
        return self.spark.read.parquet(os.path.join(self.out, "cleaned_logs")).count()

    def exhausted(self) -> bool:
        return self.landed == len(self.facts["ticks"])

    def round(self, r: int) -> list[dict]:
        k = self.landed
        shutil.copy(self.facts["ticks"][k], self.src)
        self.landed += 1
        traced = self.traced()
        if traced:
            cache_before = _files(self.cache)
            sink_before = _files(os.path.join(self.out, "cleaned_logs"))
        wall = self._tick()
        if r < 0:
            return []
        if traced:
            sink = _files(os.path.join(self.out, "cleaned_logs"))
            new = [size for f, (size, _) in sink.items() if f not in sink_before]
            self.layer.append({
                "sinks.writers.files_written": len(new),
                "sinks.writers.bytes_written": sum(new),
                **_cache_layer(cache_before, _files(self.cache)),
            })
        return [{"kind": "tick", "round": r, "wall": wall,
                 "items": self.facts["tick_lines"][k], "errors": []}]

    def finish(self, ops: list[dict]) -> list[dict]:
        k = self.landed
        rows = self._sink_rows()
        expected = sum(self.facts["tick_kept"][:k])
        if rows != expected:
            ops[-1]["errors"].append(f"sink rows {rows} != batch answer {expected}")
        wall = self._tick()
        idle = {"kind": "idle", "round": None, "wall": wall, "items": 0, "errors": []}
        idle_rows = self._sink_rows()
        if idle_rows != rows:
            idle["errors"].append(f"idle tick added {idle_rows - rows} rows")
        n, ips = _cache_rows(self.spark, self.cache)
        want = self.facts["cache_rows_after"][k - 1]
        if n != ips or n != want:
            idle["errors"].append(f"cache rows {n}, distinct ips {ips}, expected {want}")
        if self.tracer is not None:
            fetched = n - self.facts["cache_rows_before"]
            self.layer.append({
                "sources.http_geo.ips_fetched": fetched / k,
                "sources.geo_cache.hit_ratio": 1 - fetched / self.facts["pass_ips"][k - 1],
                "sources.elb_logs.rows_kept_ratio": expected / sum(self.facts["tick_lines"][:k]),
                "streaming.elb_stream.stream_elb_pipeline.idle_s": wall,
            })
        return [idle]


def _parse_count(spark, path: str) -> None:
    """Set-up warm-up of the ELB workloads: parse one log object."""
    from elb_log_etl_enrichment_spark.sources.elb_logs import (
        parse_elb_lines, read_raw_lines,
    )

    parse_elb_lines(read_raw_lines(spark, path)).count()


def _cache_rows(spark, cache: str) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row = spark.read.parquet(cache).agg(
        F.count("*").alias("n"), F.countDistinct("client_ip").alias("ips")
    ).first()
    return row["n"], row["ips"]


def _cache_layer(before: dict, after: dict) -> dict:
    changed = {k: v for k, v in after.items() if before.get(k) != v}
    rewritten = bool(before) and not (set(before) & set(after))
    return {
        "sources.geo_cache.files": len(after),
        "sources.geo_cache.bytes_written": sum(s for s, _ in changed.values()),
        "sources.geo_cache.compactions": int(rewritten),
    }


WORKLOADS = {"elb_batch": ElbBatch, "elb_stream": ElbStream}


def _layer_metrics(tracer: Tracer, event_dir: str, traced_rounds: list) -> dict:
    """Per traced round sums of every span counter, mean over
    rounds."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    selfs = self_times(spans)
    per_span = attribute(spans, read_event_log(event_dir))
    rounds: dict = {r: {} for r in traced_rounds}
    setup: dict = {}
    for s in spans:
        if s["name"] == "op":
            continue
        if s["round"] is None:
            acc = setup
        elif s["round"] in rounds:
            acc = rounds[s["round"]]
        else:
            continue
        vals = {"self_s": selfs[s["id"]], **per_span.get(s["id"], {})}
        for k, v in vals.items():
            key = f"{s['name']}.{k}"
            acc[key] = acc.get(key, 0) + v
    keys = {k for r in rounds.values() for k in r}
    out = {k: statistics.fmean(r.get(k, 0) for r in rounds.values()) for k in keys}
    out["session.get_spark.self_s"] = setup.get("session.get_spark.self_s", 0.0)
    return out


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    import elb_log_etl_enrichment_spark.session as session

    tracer = Tracer() if cfg["trace"] else None
    if tracer is not None:
        tracer.install()
    conf = {
        "spark.local.dir": os.path.join(cfg["work"], "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(cfg["work"], "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = os.path.join(cfg["work"], f"eventlog-{os.getpid()}")
    if tracer is not None:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    def start():
        spark = session.get_spark(
            app_name=f"perfbench-{cfg['workload']}",
            master=f"local[{cfg['cores']}]",
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    result: dict = {"ops": [], "fatal": None, "restarts": []}
    spark = start()
    try:
        wl = WORKLOADS[cfg["workload"]](spark, cfg, tracer)
        wl.warmup()
        result["t_warm"] = time.monotonic()
        _log("warm")
        if tracer is not None:
            tracer.enabled = False
        # further set-up samples: the same session start and warm-up
        # in this process
        for _ in range(cfg["setup_restarts"]):
            spark.stop()
            t0 = time.monotonic()
            spark = wl.spark = start()
            wl.warmup()
            result["restarts"].append(time.monotonic() - t0)
        _log("restarts done")
        for _ in range(cfg["warm_rounds"]):
            wl.round(-1)
        _log("warm rounds done")
        rss = _RssSampler()
        deadline = time.monotonic() + cfg["seconds"]
        r, traced = 0, []
        while not wl.exhausted() and (
                r < cfg["min_rounds"] or time.monotonic() < deadline
                or (tracer is not None and r % 2)):
            if tracer is not None:
                # alternate traced and untraced rounds; the difference
                # of their medians is the tracing cost
                tracer.enabled, tracer.round = r % 2 == 0, r
                if tracer.enabled:
                    traced.append(r)
            result["ops"] += wl.round(r)
            _log(f"round {r} done")
            r += 1
        result["peak_rss_mb"] = rss.stop()
        if tracer is not None:
            tracer.enabled = False
        result["ops"] += wl.finish(result["ops"])
        _log("checks done")
        result["layer_fs"] = wl.layer
        result["traced_rounds"] = traced
    except Exception:
        result["fatal"] = traceback.format_exc()
    finally:
        spark.stop()
    if tracer is not None and result["fatal"] is None:
        result["layer"] = _layer_metrics(tracer, event_dir, result["traced_rounds"])
        tracer.write(os.path.join(cfg["work"], "spans.jsonl"))
    with open(cfg["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
