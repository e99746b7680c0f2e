"""Scheme-aware filesystem primitives and the ONE directory-replace
protocol shared by every state store: ``sources.keyed_store`` (the
geo cache and both ingest indexes) and the write-audit-publish sink.
Every call goes through the JVM Hadoop FileSystem API, so the same
code serves ``file://``, ``viewfs://``,
``s3a://`` and ``hdfs://`` URIs; a local-only ``os``/``shutil`` twin
silently mis-handles every remote scheme.

Rename-aside protocol: a writer stages the new copy at
:func:`staging_path`; :func:`fs_publish` renames the live copy aside
(``._old``), renames staging in, then deletes ``._old``. A crash at
any point loses nothing: every reader of a single-writer store calls
:func:`fs_recover` before it reads, so it sees exactly the old or
exactly the new copy. The one remaining limit: rename is not atomic
on object stores, so an OUTSIDE reader that does not recover first
can still see a not-found window between the two renames.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``. An unresolvable scheme or an
    unreachable store raises (loud), it never reads as "missing"."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; a missing path is a no-op."""
    fs, jpath = _fs(spark, path)
    fs.delete(jpath, True)


def fs_has_part_files(spark: SparkSession, path: str) -> bool:
    """True when any Spark data file (``part-*``) exists under ``path``."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return False
    files = fs.listFiles(jpath, True)
    while files.hasNext():
        if files.next().getPath().getName().startswith("part-"):
            return True
    return False


def fs_data_files(spark: SparkSession, path: str) -> tuple[int, int]:
    """(count, total bytes) of the data files directly under ``path``
    (names starting with ``_`` or ``.`` are metadata); (0, 0) when
    ``path`` is missing."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return 0, 0
    n = total = 0
    for st in fs.listStatus(jpath):
        if st.isFile() and not st.getPath().getName().startswith(("_", ".")):
            n += 1
            total += st.getLen()
    return n, total


def staging_path(dest: str) -> str:
    return dest.rstrip("/") + "._staging"


def _old_path(dest: str) -> str:
    return dest.rstrip("/") + "._old"


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    """Hadoop rename that RAISES when the store returns False, so no
    caller mistakes a stranded copy for a commit (the crash tests'
    injection seam)."""
    fs, jsrc = _fs(spark, src)
    if not fs.rename(jsrc, spark._jvm.org.apache.hadoop.fs.Path(dst)):
        raise IOError(f"rename {src} -> {dst} failed; source left in place")


def fs_publish(spark: SparkSession, dest: str) -> None:
    """Install the copy staged at ``staging_path(dest)`` as ``dest``."""
    old = _old_path(dest)
    if hadoop_path_exists(spark, dest):
        fs_delete(spark, old)  # superseded by dest; a rename would nest
        _rename(spark, dest, old)
    _rename(spark, staging_path(dest), dest)
    fs_delete(spark, old)


def fs_recover(spark: SparkSession, dest: str) -> None:
    """Undo or finish an interrupted :func:`fs_publish`: ``._old``
    without ``dest`` (killed between the renames) is renamed back,
    ``._old`` next to ``dest`` (killed after the install) is deleted,
    and abandoned staging is always deleted."""
    old = _old_path(dest)
    if hadoop_path_exists(spark, old):
        if hadoop_path_exists(spark, dest):
            fs_delete(spark, old)
        else:
            _rename(spark, old, dest)
    fs_delete(spark, staging_path(dest))
