"""The one directory-replace protocol (``hadoop_fs.fs_publish`` /
``fs_recover``) under injected crashes, on ``file:`` and on a
``viewfs://`` mount, for the three state stores that use it: the geo
cache, the ingest index and the write-audit-publish (WAP) sink.

A kill point is a named call of ``hadoop_fs._rename`` — the protocol's
one rename seam — at which the patched seam raises:

* ``before_first_rename``: staging written, nothing renamed;
* ``between_renames``: live copy renamed aside, staging not installed;
* ``after_install``: staging installed, ``._old`` not yet deleted.

After each kill the store's next reader must see exactly the old or
exactly the new rows, and leave no ``._staging``/``._old`` behind. The
``local_fs`` fixture reruns those cases with ``os.rename``,
``shutil.rmtree`` and ``os.walk`` patched to raise, which proves no
local-only call is left in a commit path.
"""

from __future__ import annotations

import glob
import gzip
import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from elb_log_etl_enrichment_spark import hadoop_fs
from elb_log_etl_enrichment_spark.hadoop_fs import (
    hadoop_path_exists,
    staging_path,
)
from elb_log_etl_enrichment_spark.operators.dedup import upsert_keep_latest
from elb_log_etl_enrichment_spark.sinks.writers import (
    AuditFailure,
    write_audit_publish,
)
from elb_log_etl_enrichment_spark.sources import geo_cache
from elb_log_etl_enrichment_spark.sources.alb_fixtures import fixture_lines
from elb_log_etl_enrichment_spark.sources.geo_cache import (
    append_geo_cache_delta,
    commit_geo_cache,
    load_geo_cache,
)
from elb_log_etl_enrichment_spark.sources.http_geo import fake_fetch
from elb_log_etl_enrichment_spark.streaming.elb_stream import stream_elb_pipeline
from elb_log_etl_enrichment_spark.streaming.stream import (
    _index_history,
    compact_ingest_index,
)
from tests.test_pipeline import _geo_rows


class Killed(RuntimeError):
    """The injected crash."""


#: kill point -> (the _rename call it hits, whether that rename lands)
KILL_POINTS = {
    "before_first_rename": (1, False),
    "between_renames": (2, False),
    "after_install": (2, True),
}


def _arm(monkeypatch, point: str):
    """Patch ``hadoop_fs._rename`` to crash at ``point``; returns the
    disarm callable (recovery renames must run unpatched)."""
    real = hadoop_fs._rename
    call_no, lands = KILL_POINTS[point]
    calls = []

    def killing(spark, src, dst):
        calls.append((src, dst))
        if len(calls) == call_no and not lands:
            raise Killed(point)
        real(spark, src, dst)
        if len(calls) == call_no:
            raise Killed(point)

    monkeypatch.setattr(hadoop_fs, "_rename", killing)
    return lambda: monkeypatch.setattr(hadoop_fs, "_rename", real)


@pytest.fixture(params=["local_fs_allowed", "local_fs_blocked"])
def local_fs(request, monkeypatch):
    if request.param == "local_fs_blocked":

        def blocked(*args, **kwargs):
            raise AssertionError("local-only filesystem call in a commit path")

        monkeypatch.setattr(os, "rename", blocked)
        monkeypatch.setattr(shutil, "rmtree", blocked)
        monkeypatch.setattr(os, "walk", blocked)


def _leftovers(path: str) -> list[str]:
    return [p for p in (staging_path(path), path + "._old") if os.path.exists(p)]


def _n_data_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "part-*")))


# --- the three stores: (setup old copy, replace it, next reader) -----------
def _geo_setup(spark, path):
    append_geo_cache_delta(spark, _geo_rows(spark, ["1.1.1.1"], "2026-01-01"), path)
    append_geo_cache_delta(spark, _geo_rows(spark, ["2.2.2.2"], "2026-01-01"), path)


def _geo_replace(spark, path):
    delta = _geo_rows(spark, ["3.3.3.3"], "2026-01-02")
    merged = upsert_keep_latest(
        load_geo_cache(spark, path), delta, ["client_ip"], "api_fetch_timestamp"
    )
    commit_geo_cache(spark, merged.repartition(1), path)


def _geo_read(spark, path):
    return sorted(r.client_ip for r in load_geo_cache(spark, path).collect())


def _ingest_setup(spark, path):
    spark.range(10).select(
        F.col("id"), (F.col("id") % 2).alias("batch_id")
    ).repartition(4).write.parquet(path)


def _ingest_replace(spark, path):
    compact_ingest_index(spark, path, target_files=1)


def _ingest_read(spark, path):
    empty = spark.range(0).select(F.col("id"), F.col("id").alias("batch_id"))
    rows = sorted(tuple(r) for r in _index_history(spark, path, 99, empty).collect())
    return rows, _n_data_files(path)


def _wap_setup(spark, path):
    write_audit_publish(spark.range(10).withColumnRenamed("id", "k"), path)


def _wap_replace(spark, path):
    write_audit_publish(spark.range(20).withColumnRenamed("id", "k"), path)


def _wap_read(spark, path):
    # the WAP table's next reader is the next write_audit_publish call:
    # it recovers before it writes; failing its audit keeps it from
    # publishing, so the table it leaves is the one it recovered
    with pytest.raises(AuditFailure):
        write_audit_publish(spark.range(1), path, min_rows=10**6)
    return sorted(r.k for r in spark.read.parquet(path).collect())


INGEST_ROWS = sorted((i, i % 2) for i in range(10))


STORES = {
    "geo_cache": (
        _geo_setup, _geo_replace, _geo_read,
        ["1.1.1.1", "2.2.2.2"], ["1.1.1.1", "2.2.2.2", "3.3.3.3"],
    ),
    "ingest_index": (
        _ingest_setup, _ingest_replace, _ingest_read,
        (INGEST_ROWS, 4), (INGEST_ROWS, 1),
    ),
    "wap": (
        _wap_setup, _wap_replace, _wap_read,
        list(range(10)), list(range(20)),
    ),
}


@pytest.mark.parametrize("point", list(KILL_POINTS))
@pytest.mark.parametrize("store", list(STORES))
def test_kill_point_next_reader_sees_old_or_new(
    spark, tmp_path, monkeypatch, local_fs, store, point
):
    """A crash at any kill point of a replace leaves the store's next
    reader exactly the old copy (killed before the install) or exactly
    the new one (killed after it), with no staging or ``._old`` left.
    The delete-then-rename swap this protocol replaced for the geo
    cache and the ingest index failed their ``between_renames`` cases:
    the reader found no table at all."""
    setup, replace, read, old, new = STORES[store]
    path = str(tmp_path / f"{store}.parquet")
    setup(spark, path)
    assert read(spark, path) == old

    disarm = _arm(monkeypatch, point)
    with pytest.raises(Killed):
        replace(spark, path)
    disarm()

    assert read(spark, path) == (new if point == "after_install" else old)
    assert _leftovers(path) == []
    # the store stays writable: a clean replace lands the new copy
    replace(spark, path)
    assert read(spark, path) == new
    assert _leftovers(path) == []


def _write_gz(path: str, lines: list[str], mtime: float | None = None) -> None:
    with gzip.open(path, "wt") as f:
        f.write("\n".join(lines) + "\n")
    if mtime is not None:
        os.utime(path, (mtime, mtime))


_SINK_COLS = ["client_ip", "time", "trace_id", "request", "countryCode", "city"]


def _sink_rows(df):
    cols = [F.col(c).cast("string") for c in _SINK_COLS]
    return sorted(tuple(r) for r in df.select(cols).collect())


def _assert_stream_matches_batch(spark, tmp_path, out, files):
    """The stream's sink holds every row exactly once and its cache one
    ``fake_fetch`` row per IP: both the batch pipeline's answer over
    the same files."""
    from elb_log_etl_enrichment_spark.plans.pipeline import run_pipeline

    batch_out = str(tmp_path / "batch")
    run_pipeline(
        spark,
        spark.createDataFrame([Row(value=ln) for f in files for ln in f]),
        batch_out,
    )
    assert _sink_rows(
        spark.read.parquet(os.path.join(out, "cleaned_logs"))
    ) == _sink_rows(spark.read.parquet(os.path.join(batch_out, "cleaned_logs")))
    cache = os.path.join(out, "ip_geolocation_cache.parquet")
    got = load_geo_cache(spark, cache).collect()
    ips = [r.client_ip for r in got]
    assert len(ips) == len(set(ips))
    batch_cache = os.path.join(batch_out, "ip_geolocation_cache.parquet")
    assert set(ips) == {r.client_ip for r in load_geo_cache(spark, batch_cache).collect()}
    for r in got:
        want = fake_fetch(r.client_ip)
        assert (r.countryCode, r.city, r.isp) == (
            want["countryCode"], want["city"], want["isp"],
        )
    assert _leftovers(cache) == []


def test_stream_kill_in_compaction_replays_exactly_once(
    spark, tmp_path, monkeypatch, local_fs
):
    """Kill the cache commit of a compacting stream tick between its
    two renames, then rerun on the same checkpoint. The kill fails the
    micro-batch, so it surfaces as the stream's error. The IPs only
    the first file holds prove the old cache was recovered, not
    lost."""
    monkeypatch.setattr(geo_cache, "GEO_CACHE_COMPACT_FILES", 0)  # tick 2 compacts
    logs = tmp_path / "logs"
    logs.mkdir()
    out = str(tmp_path / "out")
    cache = os.path.join(out, "ip_geolocation_cache.parquet")
    lines = fixture_lines()
    half = len(lines) // 2
    files = [lines[:half], lines[half:], lines[half:]]
    now = time.time()

    _write_gz(str(logs / "f0.log.gz"), files[0], now - 120)
    stream_elb_pipeline(spark, str(logs / "*.gz"), out)  # appends the cache
    _write_gz(str(logs / "f1.log.gz"), files[1], now - 60)
    disarm = _arm(monkeypatch, "between_renames")
    with pytest.raises(Exception, match="between_renames"):
        stream_elb_pipeline(spark, str(logs / "*.gz"), out)
    disarm()
    assert not os.path.exists(cache) and os.path.exists(cache + "._old")

    _write_gz(str(logs / "f2.log.gz"), files[2])
    stream_elb_pipeline(spark, str(logs / "*.gz"), out)
    _assert_stream_matches_batch(spark, tmp_path, out, files)


def test_stream_kill_after_sink_write_replays_exactly_once(
    spark, tmp_path, monkeypatch, local_fs
):
    """Kill a tick after its sink write, before its checkpoint commit
    (and before its cache commit): the rerun replays the same batch
    id, whose overwrite of its own ``ingest_batch`` directory keeps
    every row exactly once, and refetches the uncommitted IPs."""
    from elb_log_etl_enrichment_spark.streaming import elb_stream

    class LostObservation(elb_stream.Observation):
        @property
        def get(self):
            raise RuntimeError("observation lost")

    def killed_probe(spark, path):
        raise Killed("after_sink_write")

    logs = tmp_path / "logs"
    logs.mkdir()
    out = str(tmp_path / "out")
    files = [fixture_lines()]
    _write_gz(str(logs / "f0.log.gz"), files[0])
    # the lost observation routes the tick into the filesystem probe,
    # which runs after the sink commit and before the checkpoint's
    with monkeypatch.context() as m:
        m.setattr(elb_stream, "Observation", LostObservation)
        m.setattr(elb_stream, "fs_has_part_files", killed_probe)
        with pytest.raises(Exception, match="after_sink_write"):
            stream_elb_pipeline(spark, str(logs / "*.gz"), out)
    sink = os.path.join(out, "cleaned_logs")
    assert glob.glob(os.path.join(sink, "ingest_batch=0", "**", "part-*"), recursive=True)

    stream_elb_pipeline(spark, str(logs / "*.gz"), out)
    assert [os.path.basename(d) for d in glob.glob(os.path.join(sink, "ingest_batch=*"))] == [
        "ingest_batch=0"
    ]
    _assert_stream_matches_batch(spark, tmp_path, out, files)


def test_stream_cache_commit_failure_replays_the_batch(spark, tmp_path, monkeypatch):
    """A cache append that fails after the sink write fails the tick
    before its checkpoint entry, so a rerun with no new file replays
    the batch: the cache ends with every fixture IP and the sink with
    every row exactly once."""
    real = geo_cache.append_geo_cache_delta

    def fails_once(*args):
        monkeypatch.setattr(geo_cache, "append_geo_cache_delta", real)
        raise Killed("cache_append")

    monkeypatch.setattr(geo_cache, "append_geo_cache_delta", fails_once)
    logs = tmp_path / "logs"
    logs.mkdir()
    out = str(tmp_path / "out")
    files = [fixture_lines()]
    _write_gz(str(logs / "f0.log.gz"), files[0])
    with pytest.raises(Exception, match="cache_append"):
        stream_elb_pipeline(spark, str(logs / "*.gz"), out)

    stream_elb_pipeline(spark, str(logs / "*.gz"), out)
    cache = os.path.join(out, "ip_geolocation_cache.parquet")
    assert len({r.client_ip for r in load_geo_cache(spark, cache).collect()}) == 4
    assert spark.read.parquet(os.path.join(out, "cleaned_logs")).count() == 22
    _assert_stream_matches_batch(spark, tmp_path, out, files)


# --- the commit-path pins -------------------------------------------------
def test_hadoop_path_exists_local_and_missing(spark, tmp_path):
    """The existence probe goes through the Hadoop FileSystem API so
    non-local URIs resolve (or fail loudly) instead of silently
    reading as missing."""
    d = tmp_path / "idx"
    assert not hadoop_path_exists(spark, str(d))
    d.mkdir()
    assert hadoop_path_exists(spark, str(d))
    # explicit file:// scheme resolves identically
    assert hadoop_path_exists(spark, "file://" + str(d))


def test_rename_failure_is_loud(spark, tmp_path, monkeypatch):
    """The rename seam must RAISE when the Hadoop rename fails, never
    return as if the copy were installed, and the staged copy must
    survive. The local FS raises on an un-renameable destination (its
    parent is a regular FILE); object stores whose rename returns
    false instead hit ``_rename``'s explicit IOError."""
    from py4j.protocol import Py4JJavaError

    staging = tmp_path / "index.parquet._staging"
    staging.mkdir()
    (staging / "part-0.parquet").write_bytes(b"x")
    parent_file = tmp_path / "not_a_dir"
    parent_file.write_bytes(b"x")
    dest = parent_file / "index.parquet"
    with pytest.raises((IOError, Py4JJavaError), match="rename|Parent"):
        hadoop_fs._rename(spark, str(staging), str(dest))
    assert staging.exists()

    class FalseRename:
        def rename(self, src, dst):
            return False

    monkeypatch.setattr(hadoop_fs, "_fs", lambda spark, path: (FalseRename(), path))
    with pytest.raises(IOError, match="failed; source left in place"):
        hadoop_fs._rename(spark, str(staging), str(tmp_path / "dest"))
    assert staging.exists()


def test_compact_ingest_index_swaps_via_fs_api(spark, tmp_path):
    """Happy path end-to-end through the Hadoop FS API: compaction
    preserves rows + batch_id and leaves no staging or ``._old``
    remnant."""
    idx = str(tmp_path / "index.parquet")
    spark.range(10).select(
        F.col("id"), F.lit(0).alias("batch_id")
    ).repartition(4).write.parquet(idx)
    n = compact_ingest_index(spark, idx, target_files=1)
    assert n == 10
    assert _leftovers(idx) == []
    assert spark.read.parquet(idx).count() == 10
    assert "batch_id" in spark.read.parquet(idx).columns


def test_compact_ingest_index_preserves_classification(spark, tmp_path):
    """Compacting the append-grown ingest index between ticks must not
    change a later batch's history classification: same stats row with
    and without compaction, fewer data files after."""
    import os

    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.streaming.stream import (
        _digest_ingest_upsert,
        compact_ingest_index,
    )

    def _stats(index):
        return sorted(
            (r.batch_id, r.n_batch, r.n_dup_of_history, r.n_ingested)
            for r in spark.read.parquet(index + "_stats").collect()
        )

    docs0 = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma"), Row(doc_id=2, text="delta eps")]
    )
    docs1 = spark.createDataFrame(
        [Row(doc_id=3, text="alpha beta gamma"), Row(doc_id=4, text="zeta")]
    )
    results = {}
    for tag, compact in [("plain", False), ("compacted", True)]:
        index = str(tmp_path / f"idx_{tag}.parquet")
        _digest_ingest_upsert(docs0, 0, index)
        if compact:
            n = compact_ingest_index(spark, index, target_files=1)
            assert n == spark.read.parquet(index).count()
            files = [
                f for f in os.listdir(index)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
            assert len(files) == 1
        _digest_ingest_upsert(docs1, 1, index)
        results[tag] = _stats(index)
    assert results["plain"] == results["compacted"]
    # doc 3 is a history dup of doc 1 in batch 1 either way
    assert results["plain"][1][2] == 1


def test_compact_ingest_index_band_layout(spark, tmp_path):
    """Same invariance for the MinHash BAND index (the other persisted
    ingest layout): compaction between ticks leaves near-dup history
    classification unchanged."""
    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.streaming.stream import (
        _neardup_ingest_upsert,
        compact_ingest_index,
    )

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    docs0 = spark.createDataFrame([Row(doc_id=1, text=text_a)])
    docs1 = spark.createDataFrame(
        [Row(doc_id=2, text=text_a), Row(doc_id=3, text="totally different words here nothing shared at all today")]
    )
    stats = {}
    for tag, compact in [("plain", False), ("compacted", True)]:
        index = str(tmp_path / f"band_{tag}.parquet")
        _neardup_ingest_upsert(docs0, 0, index)
        if compact:
            compact_ingest_index(spark, index, target_files=1)
        _neardup_ingest_upsert(docs1, 1, index)
        stats[tag] = sorted(
            (r.batch_id, r.n_batch, r.n_dup_of_history, r.n_ingested)
            for r in spark.read.parquet(index + "_stats").collect()
        )
    assert stats["plain"] == stats["compacted"]
    assert stats["plain"][1][2] == 1  # doc 2 is a near-dup of history


# --- a non-file: scheme ----------------------------------------------------
@pytest.fixture
def viewfs(spark, tmp_path):
    """``(viewfs://<unique>/data, local dir)``: Hadoop's built-in
    ``viewfs://`` mounted over ``tmp_path`` — a genuinely non-``file:``
    scheme with no network dependency."""
    name = "commit" + uuid.uuid4().hex[:12]
    spark.sparkContext._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{name}.link./data", "file://" + str(tmp_path)
    )
    return f"viewfs://{name}/data", tmp_path


def test_viewfs_write_audit_publish_lifecycle(spark, viewfs):
    """Publish, idempotent retry, replace and a failed audit on a
    ``viewfs://`` target. (A local-only rename raised
    FileNotFoundError here after staging and auditing the copy.)"""
    root, local = viewfs
    final = root + "/t"
    df1 = spark.range(10).withColumnRenamed("id", "k")
    df2 = spark.range(20).withColumnRenamed("id", "k")
    r1 = write_audit_publish(df1, final)
    assert r1["published"] and r1["n_rows"] == 10
    assert write_audit_publish(df1, final)["noop"]
    r3 = write_audit_publish(df2, final)
    assert r3["published"] and spark.read.parquet(final).count() == 20
    with pytest.raises(AuditFailure):
        write_audit_publish(df1, final, min_rows=100)
    assert spark.read.parquet(final).count() == 20
    assert sorted(os.listdir(local)) == ["t"]


def test_viewfs_ingest_compaction(spark, viewfs):
    root, local = viewfs
    idx = root + "/index.parquet"
    _ingest_setup(spark, idx)
    assert compact_ingest_index(spark, idx, target_files=1) == 10
    assert _ingest_read(spark, idx)[0] == INGEST_ROWS
    assert _n_data_files(str(local / "index.parquet")) == 1
    assert sorted(os.listdir(local)) == ["index.parquet"]


def test_viewfs_geo_cache_commit_and_append(spark, viewfs):
    root, local = viewfs
    cache = root + "/geo.parquet"
    commit_geo_cache(spark, _geo_rows(spark, ["1.1.1.1"], "2026-01-01"), cache)
    append_geo_cache_delta(spark, _geo_rows(spark, ["2.2.2.2"], "2026-01-01"), cache)
    _geo_replace(spark, cache)
    assert _geo_read(spark, cache) == ["1.1.1.1", "2.2.2.2", "3.3.3.3"]
    assert sorted(os.listdir(local)) == ["geo.parquet"]


def test_viewfs_all_garbage_stream_batch(spark, viewfs):
    """The all-garbage stream batch on a ``viewfs://`` sink root: the
    empty-batch cleanup removes its ``ingest_batch`` directory (a
    local-only probe and delete were silent no-ops on this scheme),
    and a real file afterwards lands normally."""
    root, local = viewfs
    (local / "logs").mkdir()
    _write_gz(str(local / "logs" / "junk.log.gz"), ["garbage one", ""])
    out = root + "/out"
    stream_elb_pipeline(spark, root + "/logs/*.gz", out)
    sink = os.path.join(str(local), "out", "cleaned_logs")
    assert glob.glob(os.path.join(sink, "ingest_batch=*")) == []
    _write_gz(str(local / "logs" / "real.log.gz"), fixture_lines()[:5])
    stream_elb_pipeline(spark, root + "/logs/*.gz", out)
    assert spark.read.parquet(out + "/cleaned_logs").count() == 5
