"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is produced here from
``(seed, sizes)``; the sizes come from ``spec.json``. The same
seed always gives byte-identical files (gzip headers carry no mtime,
parquet files are written single-threaded with fixed metadata), which
``check_gen.py`` verifies.

* ``elb_batch_inputs``: a multi-file gzip ALB corpus plus a seed geo
  cache holding most of the corpus's client IPs and ten times as many
  unrelated ones.
* ``elb_stream_inputs``: one gzip object per tick plus a large seed
  cache split into many files, so the cache's compaction backstop
  fires early in the measured ticks of every run.

Each generator returns the facts the output checks need (expected kept
lines, expected cache rows, ...).
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def sizes() -> dict:
    """Per-workload sizes and shares from ``spec.json``."""
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)["workloads"]


BROWSER_UAS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_4) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/17.4 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:125.0) Gecko/20100101 Firefox/125.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/17.4 Mobile/15E148 Safari/604.1",
    "curl/8.5.0",
    "python-requests/2.31.0",
]
BOT_UAS = [
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
    "Python-urllib/3.11",
    "Pingdom.com_bot_version_1.4_(http://www.pingdom.com/)",
    "UptimeRobot/2.0",
]
HEALTH_UAS = ["ELB-HealthChecker/2.0", "kube-probe/1.29"]
PATHS = [
    "/", "/api/v1/items", "/api/v1/items/42", "/login", "/static/app.js",
    "/static/css/site.css", "/search", "/cart/checkout",
]
STATUSES = [200, 200, 200, 200, 201, 301, 302, 304, 400, 403, 404, 500, 502, 503]
CLASSIFICATIONS = ['"-" "-"', '"Acceptable" "-"', '"Ambiguous" "UndefinedContentLengthSemantics"']

#: all corpus timestamps fall on this UTC day, inside six hours
BASE_TIME = dt.datetime(2025, 5, 26, 12, 0, 0)
CACHE_FETCH_TIME = dt.datetime(2025, 5, 1, 0, 0, 0, tzinfo=dt.timezone.utc)


def _ips(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct dotted-quad addresses (public-looking range)."""
    ints = (1 << 24) + rng.choice((222 << 24), n, replace=False)
    return [f"{v >> 24}.{(v >> 16) & 255}.{(v >> 8) & 255}.{v & 255}" for v in ints]


def _elb_line(rng: np.random.Generator, ip: str, ua: str, second: float) -> str:
    t = BASE_TIME + dt.timedelta(seconds=second)
    ts = t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    status = STATUSES[int(rng.integers(len(STATUSES)))]
    path = PATHS[int(rng.integers(len(PATHS)))]
    port = int(rng.integers(1024, 65535))
    rpt = "-" if status >= 500 else f"{rng.random() * 0.01:.3f}"
    tpt = f"{rng.random() * 0.3:.3f}"
    recv, sent = int(rng.integers(200, 4000)), int(rng.integers(100, 90000))
    trace = f"Root=1-{int(rng.integers(1 << 32)):08x}-{int(rng.integers(1 << 62)):024x}"
    cls = CLASSIFICATIONS[int(rng.integers(len(CLASSIFICATIONS)))]
    return (
        f"https {ts} app/bench-alb/50dc6c495c0c9188 {ip}:{port} 10.0.0.1:80 "
        f"{rpt} {tpt} 0.000 {status} {status} {recv} {sent} "
        f'"GET https://shop.example.com:443{path}?q={rng.integers(1000)} HTTP/1.1" "{ua}" '
        "ECDHE-RSA-AES128-GCM-SHA256 TLSv1.2 "
        "arn:aws:elasticloadbalancing:us-east-1:123456789012:targetgroup/bench/73e2d6bc24d8a067 "
        f'"{trace}" "shop.example.com" '
        '"arn:aws:acm:us-east-1:123456789012:certificate/12345678-1234-1234-1234-123456789012" '
        f'0 {ts} "forward" "-" "-" "10.0.0.1:80" "{status}" {cls}'
    )


def _garbage_line(rng: np.random.Generator, ip: str, ua: str, second: float, kind: int) -> str:
    """A line the parser must reject: truncated, bad time, or noise."""
    line = _elb_line(rng, ip, ua, second)
    if kind == 0:
        return " ".join(line.split(" ")[:9])
    if kind == 1:
        return line.replace("2025-05-26T", "2025-13-45T", 1)
    return "%%corrupt-object-chunk %x" % int(rng.integers(1 << 40))


def _log_lines(rng, n_lines, run_ips, health_ips, spec, t0, t1):
    """``n_lines`` lines over ``run_ips`` with the spec's health-check,
    bot and garbage shares. Returns (lines, kept, parsed_ips)."""
    n_health = round(n_lines * spec["health_check_share"])
    n_bad = round(n_lines * spec["garbage_share"])
    kinds = np.zeros(n_lines, np.int8)  # 0 client, 1 health, 2 garbage
    kinds[:n_health] = 1
    kinds[n_health:n_health + n_bad] = 2
    rng.shuffle(kinds)
    # every run IP appears at least once; the rest draw uniformly
    n_client = int((kinds == 0).sum())
    owners = np.concatenate([
        np.arange(min(len(run_ips), n_client)),
        rng.integers(len(run_ips), size=max(0, n_client - len(run_ips))),
    ])
    rng.shuffle(owners)
    seconds = np.sort(rng.uniform(t0, t1, n_lines))
    lines, parsed_ips, kept, ci = [], set(), 0, 0
    for i, kind in enumerate(kinds):
        if kind == 1:
            ip = health_ips[int(rng.integers(len(health_ips)))]
            ua = HEALTH_UAS[int(rng.integers(len(HEALTH_UAS)))]
            lines.append(_elb_line(rng, ip, ua, seconds[i]))
            parsed_ips.add(ip)
        elif kind == 2:
            ip = run_ips[int(rng.integers(len(run_ips)))]
            lines.append(_garbage_line(rng, ip, BROWSER_UAS[0], seconds[i], i % 3))
        else:
            ip = run_ips[owners[ci]]
            ci += 1
            pool = BOT_UAS if rng.random() < spec["bot_share"] else BROWSER_UAS
            lines.append(_elb_line(rng, ip, pool[int(rng.integers(len(pool)))], seconds[i]))
            parsed_ips.add(ip)
            kept += 1
    return lines, kept, parsed_ips


def _write_gzip(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as raw, gzip.GzipFile(
        filename="", mode="wb", fileobj=raw, mtime=0, compresslevel=6
    ) as gz:
        gz.write(("\n".join(lines) + "\n").encode())


def write_geo_cache(path: str, ips: list[str], n_files: int) -> None:
    """A geo cache directory of ``len(ips)`` rows, one per IP, whose
    content equals ``fake_fetch`` (the rows the program would have
    fetched), split into ``n_files`` parquet files."""
    from elb_log_etl_enrichment_spark.sources.http_geo import fake_fetch

    rows = [fake_fetch(ip) for ip in ips]
    cols = ["client_ip", "countryCode", "countryName", "regionName", "city", "lat", "lon", "isp"]
    schema = pa.schema(
        [(c, pa.float64() if c in ("lat", "lon") else pa.string()) for c in cols]
        + [("api_fetch_timestamp", pa.timestamp("us", tz="UTC"))]
    )
    os.makedirs(path, exist_ok=True)
    for k, chunk in enumerate(np.array_split(np.arange(len(rows)), n_files)):
        data = {c: [rows[i][c] for i in chunk] for c in cols}
        data["api_fetch_timestamp"] = [CACHE_FETCH_TIME] * len(chunk)
        pq.write_table(
            pa.table(data, schema=schema),
            os.path.join(path, f"part-{k:05d}-seed.snappy.parquet"),
            compression="snappy",
        )


def elb_batch_inputs(seed: int, root: str) -> dict:
    """Corpus under ``root/logs`` and pristine seed cache under
    ``root/seed_cache``."""
    spec = sizes()["elb_batch"]
    rng = np.random.default_rng([seed, 1])
    n_run = spec["distinct_client_ips"]
    n_filler = n_run * spec["cache_rows_per_run_ip"]
    ips = _ips(rng, n_run + n_filler + spec["health_check_ips"])
    run_ips, filler = ips[:n_run], ips[n_run:n_run + n_filler]
    health_ips = ips[n_run + n_filler:]
    n_new = round(n_run * spec["new_ip_share"])
    lines, kept, parsed_ips = _log_lines(
        rng, spec["lines"], run_ips, health_ips, spec, 0, 6 * 3600
    )
    files = []
    for k, chunk in enumerate(np.array_split(np.arange(len(lines)), spec["files"])):
        p = os.path.join(root, "logs", f"alb-{k:03d}.log.gz")
        _write_gzip(p, [lines[i] for i in chunk])
        files.append(p)
    cached = run_ips[n_new:] + health_ips + filler
    write_geo_cache(os.path.join(root, "seed_cache"), cached, spec["cache_files"])
    return {
        "logs_glob": os.path.join(root, "logs", "*.log.gz"),
        "logs": files,
        "seed_cache": os.path.join(root, "seed_cache"),
        "lines": len(lines),
        "kept_lines": kept,
        "parsed_ips": len(parsed_ips),
        "cache_rows_before": len(cached),
        "cache_rows_after": len(set(cached) | parsed_ips),
    }


def elb_stream_inputs(seed: int, root: str) -> dict:
    """One gzip object per tick under ``root/ticks`` (landed into the
    stream's source directory one at a time by the workload) and the
    pristine seed cache under ``root/seed_cache``. The per-tick facts
    are cumulative, so a pass that stops after any tick can be
    checked."""
    spec = sizes()["elb_stream"]
    rng = np.random.default_rng([seed, 2])
    n_ticks, n_lines = spec["ticks"], spec["tick_lines"]
    n_ips = max(1, n_lines // spec["requests_per_client_ip"])
    n_rep = round(n_ips * spec["repeat_ip_share"])
    n_cache = spec["cache_rows"]
    ips = _ips(rng, n_cache + n_ticks * (n_ips - n_rep) + 2)
    cached, fresh, health_ips = ips[:n_cache], ips[n_cache:-2], ips[-2:]
    cached = cached[:-2] + health_ips  # health checkers are long-known
    seen = list(cached)
    ticks, kept, pass_ips, cache_after = [], [], [], []
    ips_so_far = set()
    for k in range(n_ticks):
        repeat = [seen[i] for i in rng.choice(len(seen), n_rep, replace=False)]
        new = fresh[k * (n_ips - n_rep):(k + 1) * (n_ips - n_rep)]
        lines, n_kept, parsed = _log_lines(
            rng, n_lines, repeat + new, health_ips, spec, k * 120, (k + 1) * 120
        )
        seen += new
        ips_so_far |= parsed
        p = os.path.join(root, "ticks", f"tick-{k:03d}.log.gz")
        _write_gzip(p, lines)
        ticks.append(p)
        kept.append(n_kept)
        pass_ips.append(len(ips_so_far))
        cache_after.append(len(set(cached) | ips_so_far))
    write_geo_cache(os.path.join(root, "seed_cache"), cached, spec["cache_files"])
    return {
        "ticks": ticks,
        "seed_cache": os.path.join(root, "seed_cache"),
        "tick_lines": [n_lines] * n_ticks,
        "tick_kept": kept,
        "cache_rows_before": len(cached),
        "pass_ips": pass_ips,
        "cache_rows_after": cache_after,
    }
