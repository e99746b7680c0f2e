"""Keyed parquet state kept across runs, the store rule of the geo
cache and both ingest indexes (reference elb_logs.py:150-163, 212-228).
A store is a single-writer parquet directory: each batch appends ONE
file; past ``COMPACT_FILES`` files beyond the ideal count the commit
rewrites the store's merge at the ideal width through
``hadoop_fs.fs_publish``; every read recovers first. A store supplies
only its schema and its merge, built only when compaction fires.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..hadoop_fs import fs_data_files, fs_publish, fs_recover, hadoop_path_exists, staging_path

#: files BEYOND the ideal count that trigger a rewrite: ~2 hours of
#: 2-minute crons at one file per batch. Relative to the ideal (the
#: rewrite's width), so a store whose compacted layout needs 64 files
#: never compacts every batch.
COMPACT_FILES = 64

#: target data-file size of a rewrite (the 128 MB - 1 GB range).
TARGET_FILE_BYTES = 512 * 1024 * 1024


def read_or_empty(
    spark: SparkSession, path: str, schema: StructType | str, infer_schema: bool = False
) -> DataFrame:
    """The store's rows, or an empty ``schema`` frame (a ``limit(0)``
    the optimizer folds away) when it does not exist. ``schema`` spares
    the schema-inference job; ``infer_schema=True`` is for a caller
    that must check what is on disk."""
    fs_recover(spark, path)
    if not hadoop_path_exists(spark, path):
        return spark.createDataFrame([], schema).limit(0)
    reader = spark.read if infer_schema else spark.read.schema(schema)
    return reader.parquet(path)


def compaction_width(spark: SparkSession, path: str) -> int | None:
    """The ideal width to rewrite ``path`` at when its next commit
    should compact, else None."""
    n_files, n_bytes = fs_data_files(spark, path)
    ideal = max(1, -(-n_bytes // TARGET_FILE_BYTES))
    return ideal if n_files >= ideal + COMPACT_FILES else None


def append(delta: DataFrame, path: str) -> None:
    """Append ``delta`` as ONE file in one task, so the job commit is
    all-or-nothing. The coalesce is narrow: pass a frame whose last
    stage may run as one task (persisted, or a ``repartition(1)``)."""
    delta.coalesce(1).write.mode("append").parquet(path)


def rewrite(spark: SparkSession, merged: DataFrame, path: str) -> None:
    """Stage ``merged`` and install it as ``path`` (rename-aside, any
    scheme); staging keeps the write from truncating its own input."""
    merged.write.mode("overwrite").parquet(staging_path(path))
    fs_publish(spark, path)


def commit(
    spark: SparkSession, delta: DataFrame, path: str, merge: Callable[[], DataFrame]
) -> None:
    """Commit ``delta``: append it, or, when compaction fires, rewrite
    ``merge()`` (the store's old rows merged with ``delta``) at the
    ideal width."""
    width = compaction_width(spark, path)
    if width is None:
        append(delta, path)
    else:
        rewrite(spark, merge().repartition(width), path)
