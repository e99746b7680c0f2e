"""Scheme-aware filesystem primitives shared by every staged-swap
state store (geo cache, ingest-index compaction).

Both helpers go through the JVM Hadoop FileSystem API so the SAME code
path serves ``file://``, ``s3a://`` and ``hdfs://`` URIs — the
local-only ``os.path``/``shutil`` twins silently mis-handle every
remote scheme (probe reads "missing", swap strands the staging copy;
code-review r05/r06 findings). Rename is not atomic on object stores,
so ``fs_swap`` is not an object-store-safe swap either; nor is
``sinks.writers.write_audit_publish``, whose rename-aside protocol uses
local-only ``os.rename``/``shutil.rmtree``. One scheme-aware commit
primitive is ROADMAP.md item 4.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-aware existence probe. An unresolvable scheme or
    unreachable store raises (loud), it never reads as "missing"."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def fs_swap(spark: SparkSession, staging: str, dest: str) -> None:
    """Replace ``dest`` with ``staging`` (scheme-aware delete +
    rename). A failed rename raises — silently leaving the staging
    copy with ``dest`` already deleted is a data-loss mode the caller
    must surface (pinned by test_r7_fixes.py through this seam)."""
    jvm = spark._jvm
    jdest = jvm.org.apache.hadoop.fs.Path(dest)
    jstage = jvm.org.apache.hadoop.fs.Path(staging)
    fs = jdest.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jdest):
        fs.delete(jdest, True)
    if not fs.rename(jstage, jdest):
        raise IOError(
            f"rename {staging} -> {dest} failed; staged copy left in place"
        )
