"""Rate-limited HTTP geolocation fan-out (SURVEY.md §2.1 S9).

The reference loops serially over new IPs calling ip-api.com with a
0.6 s sleep after each call (elb_logs.py:166-209, 413-419) — a
≤100 lookups/min ceiling, and every lookup's latency paid in turn.
Here the fan-out is a ``mapInPandas`` table function: the distinct
key set is ``repartition``-ed into one partition (see the in-function
note for why coalesce is specifically wrong here), which runs its IPs
through :func:`lookup_partition`:

* at most :data:`MAX_IN_FLIGHT` lookups in flight, on a thread pool,
  so a transport's latency overlaps instead of adding up per IP;
* ``rate_limit_s`` is a START-TO-START spacing: a lookup starts no
  sooner than ``rate_limit_s`` after the previous one started, so the
  request rate stays ≤ 1/``rate_limit_s`` (the reference's
  sleep-after-call gave the same ceiling);
* rows come back in input order.

``fetch_fn`` is therefore called from several threads at once and
must be thread-safe; ``fake_fetch`` and ``http_fetch`` are.

The HTTP transport is injectable: tests (and this offline container)
use a deterministic fake; the real transport is only constructed on
demand. Error responses produce the reference's ``"Error"`` sentinel
row (elb_logs.py:186-209).
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Iterator, Sequence
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import DataFrame

from .geo_cache import GEO_SCHEMA

#: fields mirrored from the ip-api.com response (elb_logs.py:167,174-184)
_FIELDS = ["countryCode", "countryName", "regionName", "city", "lat", "lon", "isp"]

#: lookups in flight at once per partition (the lookup pool's size)
MAX_IN_FLIGHT = 16


def error_sentinel(ip: str) -> dict:
    """The reference's failure row (elb_logs.py:186-209)."""
    row = {"client_ip": ip, "lat": None, "lon": None}
    for f in ("countryCode", "countryName", "regionName", "city", "isp"):
        row[f] = "Error"
    return row


def fake_fetch(ip: str) -> dict:
    """Deterministic offline stand-in for ip-api.com used in tests."""
    octet = sum(int(p) for p in ip.split(".") if p.isdigit()) % 5
    return {
        "client_ip": ip,
        "countryCode": f"C{octet}",
        "countryName": f"Country{octet}",
        "regionName": f"Region{octet}",
        "city": f"City{octet}",
        "lat": float(octet) * 10.0,
        "lon": float(octet) * -10.0,
        "isp": f"ISP{octet}",
    }


def http_fetch(ip: str) -> dict:  # pragma: no cover - network edge
    """Real transport (reference fetch_geolocation_data,
    elb_logs.py:166-209): ip-api.com JSON with 5 s timeout."""
    import json
    import urllib.request

    url = (
        f"http://ip-api.com/json/{ip}?fields=status,message,country,countryCode,"
        "region,regionName,city,lat,lon,isp,query"
    )
    try:
        with urllib.request.urlopen(url, timeout=5) as resp:
            data = json.loads(resp.read().decode("utf-8"))
        if data.get("status") == "success":
            return {
                "client_ip": data.get("query", ip),
                "countryCode": data.get("countryCode"),
                "countryName": data.get("country"),
                "regionName": data.get("regionName"),
                "city": data.get("city"),
                "lat": data.get("lat"),
                "lon": data.get("lon"),
                "isp": data.get("isp"),
            }
        return error_sentinel(ip)
    except Exception:
        return error_sentinel(ip)


def lookup_partition(
    ips: Sequence[str],
    fetch_fn: Callable[[str], dict],
    rate_limit_s: float = 0.0,
) -> list[dict]:
    """Look up one partition's ``ips``: at most :data:`MAX_IN_FLIGHT`
    ``fetch_fn`` calls in flight, each started no sooner than
    ``rate_limit_s`` after the previous start (0 = no pacing). Returns
    one row per IP in input order, each stamped with
    ``api_fetch_timestamp`` when its lookup returned. An exception
    from ``fetch_fn`` cancels the lookups not yet started and is
    raised."""
    if not ips:
        return []
    pace = threading.Lock()
    next_start = time.monotonic()

    def lookup(ip: str) -> dict:
        nonlocal next_start
        if rate_limit_s:
            # sleeping under the lock queues the other threads behind
            # this start, so starts are spaced one by one
            with pace:
                wait = next_start - time.monotonic()
                if wait > 0:
                    time.sleep(wait)
                next_start = time.monotonic() + rate_limit_s
        row = dict(fetch_fn(ip))
        row["api_fetch_timestamp"] = pd.Timestamp.now(tz="UTC").tz_localize(None)
        return row

    pool = ThreadPoolExecutor(max_workers=min(MAX_IN_FLIGHT, len(ips)))
    try:
        return list(pool.map(lookup, ips))
    finally:
        pool.shutdown(cancel_futures=True)


def fetch_geolocations(
    new_ips: DataFrame,
    fetch_fn: Callable[[str], dict] = fake_fetch,
    row_count_acc=None,
) -> DataFrame:
    """Distributed, throttled lookup of geolocation rows for a frame of
    distinct ``client_ip`` keys. Returns rows in ``GEO_SCHEMA`` with
    ``api_fetch_timestamp`` stamped at fetch time (naive UTC — the
    session timezone is pinned to UTC, so a machine-local stamp would
    shift the cache's last-write-wins ordering across hosts/DST).

    The keys go through one :func:`lookup_partition` call: at most
    :data:`MAX_IN_FLIGHT` lookups in flight, so ``fetch_fn`` must be
    thread-safe (``fake_fetch`` and ``http_fetch`` are). With the real
    ip-api transport each lookup starts no sooner than the REFERENCE's
    0.6 s after the previous start (elb_logs.py:419), so the request
    rate stays ≤ 1/0.6 s, 100 lookups/min, the reference's ceiling: an
    unpaced burst would hammer the free tier into 429s, whose Error
    sentinel rows the cache would then persist and never refetch
    (code-review r05 finding). Injected offline transports are
    unpaced, so their latency overlaps up to the in-flight bound.

    ``row_count_acc`` (optional SparkContext accumulator): incremented
    by the number of rows each task EMITS, so a caller that
    materializes this frame inside a larger job (the deferred
    pipeline's broadcast build) can learn fetched-row emptiness
    afterwards WITHOUT submitting a probe job (r10, VERDICT r9 item
    2). Zero-vs-nonzero is exact — failed tasks' accumulator updates
    are discarded by Spark, so a nonzero value always means some
    successful task emitted rows.
    """
    rate_limit_s = 0.6 if fetch_fn is http_fetch else 0.0

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the whole partition in one call, so the pacing and the
        # in-flight bound hold across its Arrow batches
        ips = [ip for pdf in batches for ip in pdf["client_ip"]]
        rows = lookup_partition(ips, fetch_fn, rate_limit_s)
        if rows:
            if row_count_acc is not None:
                row_count_acc.add(len(rows))
            yield pd.DataFrame(
                rows, columns=["client_ip", *_FIELDS, "api_fetch_timestamp"]
            )

    # repartition, not coalesce (r8 code-review): coalesce(1) is a
    # NARROW dependency, so it would collapse the entire upstream
    # reduce stage (the distinct final aggregate and the anti-join
    # probe against a possibly multi-million-row cache) into one task,
    # not just the fetch. The repartition shuffle it saves carries
    # only the distinct new key set — trivial next to a serialized
    # join.
    return new_ips.repartition(1).mapInPandas(fetch_partition, schema=GEO_SCHEMA)
