"""Benchmark-side geolocation transport.

Stands in for ip-api: returns the package's ``fake_fetch`` row after a
fixed per-IP delay, so fetch cost scales with the number of new IPs as
it does against the real API. It lives in its own module on the Python
workers' ``PYTHONPATH`` so the pickled function resolves there by
reference.
"""

from __future__ import annotations

import time

from elb_log_etl_enrichment_spark.sources.http_geo import fake_fetch

#: per-IP latency of the stand-in transport, seconds
DELAY_S = 0.001


def delayed_fake_fetch(ip: str) -> dict:
    time.sleep(DELAY_S)
    return fake_fetch(ip)
