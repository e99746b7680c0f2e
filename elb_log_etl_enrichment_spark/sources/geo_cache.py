"""Parquet-backed geolocation cache (SURVEY.md §2.1 S4/S8).

Cross-run keyed state of the reference pipeline: one row per client
IP, last-write-wins on ``api_fetch_timestamp``
(reference elb_logs.py:150-163, 212-228). The store rules live in
``keyed_store``; this module supplies the schema and the keep-latest
merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.dedup import upsert_keep_latest
from . import keyed_store

#: reference elb_logs.py:157-160 + the client_ip index column.
GEO_SCHEMA = StructType(
    [
        StructField("client_ip", StringType()),
        StructField("countryCode", StringType()),
        StructField("countryName", StringType()),
        StructField("regionName", StringType()),
        StructField("city", StringType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("isp", StringType()),
        StructField("api_fetch_timestamp", TimestampType()),
    ]
)


def load_geo_cache(spark: SparkSession, cache_path: str) -> DataFrame:
    """Load the cache, or an empty typed frame when missing
    (reference load_geolocation_cache, elb_logs.py:150-163), through
    ``keyed_store.read_or_empty``: it recovers an interrupted
    compaction first, and the explicit ``GEO_SCHEMA`` read runs no
    schema-inference job."""
    return keyed_store.read_or_empty(spark, cache_path, GEO_SCHEMA)


def update_geo_cache(spark: SparkSession, delta: DataFrame, cache_path: str) -> None:
    """Commit a fetched ``delta`` of NEW keys into the cache — the one
    commit entry point of every caller (reference
    update_geolocation_cache, elb_logs.py:212-228, S8/J4).

    The delta is DISJOINT from the cache by construction (``new_keys``
    anti-joins the cache snapshot; one writer), so appending it
    (:func:`append_geo_cache_delta`) commits the keep-latest merge's
    content for O(delta) bytes: no cache scan, no shuffle, no swap.

    When ``keyed_store.compaction_width`` fires, the commit instead
    rewrites the keep-latest merge at that width
    (:func:`commit_geo_cache`). The branch is ``keyed_store.commit``'s,
    spelled out so the append and the rewrite stay two traced spans.

    Callers skip the call when nothing was fetched. DO NOT pass a delta
    that may UPDATE existing keys: an appended update leaves two rows
    for the key, and ``load_geo_cache`` does not resolve it on read."""
    width = keyed_store.compaction_width(spark, cache_path)
    if width is None:
        append_geo_cache_delta(spark, delta, cache_path)
    else:
        merged = upsert_keep_latest(
            load_geo_cache(spark, cache_path), delta,
            ["client_ip"], "api_fetch_timestamp",
        )
        commit_geo_cache(spark, merged.repartition(width), cache_path)


def append_geo_cache_delta(
    spark: SparkSession, delta: DataFrame, cache_path: str
) -> None:
    """Append ``delta`` (the persisted fetched rows) as ONE file
    (``keyed_store.append``). Replay after any crash self-heals: IPs
    whose rows landed are excluded by the next run's anti-join, lost
    ones are refetched."""
    keyed_store.append(delta, cache_path)


def commit_geo_cache(spark: SparkSession, merged: DataFrame, cache_path: str) -> None:
    """Rewrite the cache as a PREBUILT keep-latest merge (the compaction
    half of :func:`update_geo_cache`, ``keyed_store.rewrite``)."""
    keyed_store.rewrite(spark, merged, cache_path)
