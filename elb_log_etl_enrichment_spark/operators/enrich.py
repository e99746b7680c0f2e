"""Geolocation enrichment operators (SURVEY.md §2.4 J1/J2, §3.3).

The reference's only stateful subpipeline: a parquet-backed memo cache
of per-IP geolocation lookups, joined back onto the log table.

Spark shape: ``distinct → left_anti join → (HTTP fan-out) → upsert →
broadcast left join``. The cache side is one row per distinct client
IP — orders of magnitude smaller than the log table — so the
enrichment join (the first step of
``plans.pipeline.make_feature_chain_template``) is an explicit
``broadcast()`` hash join: zero shuffle of the 100 TB fact side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def new_keys(logs: DataFrame, cache: DataFrame, key: str = "client_ip") -> DataFrame:
    """Distinct keys present in the logs but absent from the cache
    (reference elb_logs.py:408-409, J2) — distinct + left-anti join
    instead of a driver-side list comprehension."""
    return (
        logs.select(key).where(F.col(key).isNotNull()).distinct()
        .join(cache.select(key), on=key, how="left_anti")
    )
