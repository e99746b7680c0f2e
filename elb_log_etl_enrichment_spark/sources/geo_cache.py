"""Parquet-backed geolocation cache (SURVEY.md §2.1 S4/S8).

Cross-run keyed state of the reference pipeline: one row per client
IP, last-write-wins on ``api_fetch_timestamp``
(reference elb_logs.py:150-163, 212-228).
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
from pyspark.sql.utils import AnalysisException

from ..hadoop_fs import fs_data_files, fs_publish, fs_recover, staging_path
from ..operators.dedup import upsert_keep_latest

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
    (reference load_geolocation_cache, elb_logs.py:150-163). Recovers
    a compaction a crash interrupted first (``hadoop_fs.fs_recover``),
    so the read sees exactly the old or exactly the new cache."""
    fs_recover(spark, cache_path)
    try:
        return spark.read.schema(GEO_SCHEMA).parquet(cache_path)
    except AnalysisException:
        return spark.createDataFrame([], GEO_SCHEMA)


#: append-delta compaction backstop: when the cache directory holds
#: this many data files BEYOND the ideal count for its byte size, the
#: next commit rewrites the whole merge (stage-and-swap) instead of
#: appending — bounding reader file counts to O(ideal + threshold)
#: while keeping the per-tick write O(delta). At one delta file per
#: fetching tick, 64 is ~2 hours of 2-minute crons between
#: compactions; the rewrite amortizes to (cache/64) rows/tick. The
#: trigger is RELATIVE to the ideal count (and the rewrite targets the
#: ideal) so a cache big enough to need many files never degenerates
#: into compacting every tick (review r11: an absolute threshold would
#: flip to a full O(cache) rewrite per tick the moment the compacted
#: layout itself reached 64 files).
GEO_CACHE_COMPACT_FILES = 64

#: target data-file size for the compaction rewrite (guide §6: output
#: files in the 128 MB - 1 GB range).
GEO_CACHE_TARGET_FILE_BYTES = 512 * 1024 * 1024


def update_geo_cache(spark: SparkSession, delta: DataFrame, cache_path: str) -> None:
    """Commit a fetched ``delta`` of NEW keys into the cache — the one
    commit entry point of every caller (reference
    update_geolocation_cache, elb_logs.py:212-228, S8/J4).

    The delta is DISJOINT from the cache by construction — ``new_keys``
    anti-joins the run's IPs against the cache snapshot, and the cache
    has a single writer — so ``upsert_keep_latest(cache, delta)`` ≡
    ``cache ∪ delta`` and appending the delta
    (:func:`append_geo_cache_delta`) commits the merge's content for
    O(delta) bytes: no cache scan, no upsert shuffle, no swap.

    Compaction backstop: one small file per fetching run accumulates
    forever, so when the directory holds ``GEO_CACHE_COMPACT_FILES``
    data files MORE than the ideal count for its byte size (total bytes
    / ``GEO_CACHE_TARGET_FILE_BYTES``, min 1) the commit instead builds
    the keep-latest merge of the cache and ``delta`` and rewrites it
    (:func:`commit_geo_cache`), repartitioned to that ideal count —
    reader listing/open costs stay O(ideal + threshold) files while the
    amortized write stays O(delta + cache/threshold). Only that branch
    builds the merge, so an appending run pays no merge analysis.
    Trigger and rewrite width derive from the same listing, so a cache
    whose HEALTHY layout is wider than the threshold keeps appending
    instead of rewriting itself every run.

    Callers skip the call when nothing was fetched (a run with no
    unseen IPs — the steady state of a mature deployment — writes
    nothing). DO NOT pass a delta that may UPDATE existing keys: an
    appended update leaves two rows for the key, and plain
    ``load_geo_cache`` does not resolve last-write-wins on read."""
    n_files, n_bytes = fs_data_files(spark, cache_path)
    ideal = max(1, -(-n_bytes // GEO_CACHE_TARGET_FILE_BYTES))
    if n_files >= ideal + GEO_CACHE_COMPACT_FILES:
        merged = upsert_keep_latest(
            load_geo_cache(spark, cache_path), delta,
            ["client_ip"], "api_fetch_timestamp",
        )
        commit_geo_cache(spark, merged.repartition(ideal), cache_path)
    else:
        append_geo_cache_delta(spark, delta, cache_path)


def append_geo_cache_delta(
    spark: SparkSession, delta: DataFrame, cache_path: str
) -> None:
    """Append ``delta`` to the cache directory as ONE file.
    ``coalesce(1)`` makes the append one file AND one task: the job
    commit is all-or-nothing, so a crash never lands a partial delta.
    Replay after any crash ordering self-heals: IPs whose rows landed
    are excluded by the next run's anti-join (no duplicates), IPs
    whose rows were lost are refetched (the cache is a cache)."""
    delta.coalesce(1).write.mode("append").parquet(cache_path)


def commit_geo_cache(spark: SparkSession, merged: DataFrame, cache_path: str) -> None:
    """Stage-and-publish rewrite of a PREBUILT keep-latest merge — the
    compaction half of :func:`update_geo_cache`, installed by
    ``hadoop_fs.fs_publish`` (rename-aside, any scheme). Staging keeps
    the sink from truncating its own parquet input and keeps the merge
    DISTRIBUTED (collecting millions of IPs into one process runs it
    out of memory). :func:`load_geo_cache` recovers before it reads,
    so a crash at any point loses nothing; on object stores an outside
    reader can still see the two-rename not-found window."""
    merged.write.mode("overwrite").parquet(staging_path(cache_path))
    fs_publish(spark, cache_path)
