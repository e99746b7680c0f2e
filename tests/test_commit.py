"""The one directory-replace protocol (``hadoop_fs.fs_publish`` /
``fs_recover``) under injected crashes, on ``file:`` and on a
``viewfs://`` mount, for the three state stores that use it: the geo
cache and the ingest index (both ``sources/keyed_store.py``) and the
write-audit-publish (WAP) sink.

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
from elb_log_etl_enrichment_spark.sources import geo_cache, keyed_store
from elb_log_etl_enrichment_spark.sources.alb_fixtures import fixture_lines
from elb_log_etl_enrichment_spark.sources.geo_cache import (
    append_geo_cache_delta,
    commit_geo_cache,
    load_geo_cache,
)
from elb_log_etl_enrichment_spark.sources.http_geo import fake_fetch
from elb_log_etl_enrichment_spark.streaming.elb_stream import stream_elb_pipeline
from elb_log_etl_enrichment_spark.streaming.stream import (
    _digest_ingest_upsert,
    _index_history,
    _neardup_ingest_upsert,
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


INGEST_SCHEMA = "id BIGINT, batch_id BIGINT"


def _ingest_replace(spark, path):
    """An index commit of an empty batch that compacts (threshold 0):
    the store rewrites every row, batch_id included, into one file."""
    delta = spark.createDataFrame([], INGEST_SCHEMA)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(keyed_store, "COMPACT_FILES", 0)
        keyed_store.commit(
            spark, delta, path,
            lambda: keyed_store.read_or_empty(spark, path, INGEST_SCHEMA).unionByName(delta),
        )


def _ingest_read(spark, path):
    rows = sorted(
        tuple(r) for r in _index_history(spark, path, 99, INGEST_SCHEMA).collect()
    )
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
    monkeypatch.setattr(keyed_store, "COMPACT_FILES", 0)  # tick 2 compacts
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


def test_index_compaction_swaps_via_fs_api(spark, tmp_path):
    """Happy path end-to-end through the Hadoop FS API: a compacting
    index commit preserves rows + batch_id and leaves no staging or
    ``._old`` remnant."""
    idx = str(tmp_path / "index.parquet")
    _ingest_setup(spark, idx)
    _ingest_replace(spark, idx)
    assert _leftovers(idx) == []
    assert _ingest_read(spark, idx) == (INGEST_ROWS, 1)
    assert "batch_id" in spark.read.parquet(idx).columns


def _index_stats(spark, index):
    return sorted(
        (r.batch_id, r.n_batch, r.n_dup_of_history, r.n_ingested)
        for r in spark.read.parquet(index + "_stats").collect()
    )


def _classify_with_and_without_compaction(spark, tmp_path, monkeypatch, upsert, batches):
    """Run ``batches`` through ``upsert`` twice: appending only, and
    with the threshold at 0, so every batch after the first compacts
    the index and every batch after the second classifies against a
    compacted one. A replay of the last batch follows each run.
    Returns the stats rows of both runs."""
    stats = {}
    for tag, threshold in [("plain", keyed_store.COMPACT_FILES), ("compacted", 0)]:
        monkeypatch.setattr(keyed_store, "COMPACT_FILES", threshold)
        index = str(tmp_path / f"idx_{tag}.parquet")
        for b, docs in enumerate(batches):
            upsert(docs, b, index)
        stats[tag] = _index_stats(spark, index)
        upsert(batches[-1], len(batches) - 1, index)  # replay after the commit
        assert _index_stats(spark, index) == stats[tag], tag
        if threshold == 0:
            assert _n_data_files(index) == 1
    return stats


def test_index_compaction_preserves_classification(spark, tmp_path, monkeypatch):
    """Compacting the digest index inside a batch's commit must not
    change any batch's history classification, the replay of a batch
    whose commit compacted included: same stats rows with and without
    compaction."""
    docs = [
        [Row(doc_id=1, text="alpha beta gamma"), Row(doc_id=2, text="delta eps")],
        [Row(doc_id=3, text="alpha beta gamma"), Row(doc_id=4, text="zeta")],
        [Row(doc_id=5, text="zeta"), Row(doc_id=6, text="delta eps"), Row(doc_id=7, text="eta")],
    ]
    stats = _classify_with_and_without_compaction(
        spark, tmp_path, monkeypatch, _digest_ingest_upsert,
        [spark.createDataFrame(rows) for rows in docs],
    )
    assert stats["plain"] == stats["compacted"]
    # doc 3 is a history dup of doc 1; docs 5 and 6 of docs 4 and 2
    assert [r[2] for r in stats["plain"]] == [0, 1, 2]


def test_index_compaction_band_layout(spark, tmp_path, monkeypatch):
    """Same invariance for the MinHash BAND index (the other persisted
    ingest layout)."""
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "totally different words here nothing shared at all today"
    docs = [
        [Row(doc_id=1, text=text_a)],
        [Row(doc_id=2, text=text_a), Row(doc_id=3, text=text_b)],
        [Row(doc_id=4, text=text_b), Row(doc_id=5, text="one more unrelated line of words here")],
    ]
    stats = _classify_with_and_without_compaction(
        spark, tmp_path, monkeypatch, _neardup_ingest_upsert,
        [spark.createDataFrame(rows) for rows in docs],
    )
    assert stats["plain"] == stats["compacted"]
    # doc 2 is a near-dup of doc 1's history, doc 4 of doc 3's
    assert [r[2] for r in stats["plain"]] == [0, 1, 1]


def test_only_the_stores_publish():
    """``fs_publish`` and ``staging_path`` are the replace protocol's
    two entry points; only the keyed store and the write-audit-publish
    sink may use them, so a third copy of a store's commit rules cannot
    grow back."""
    import ast

    pkg = os.path.dirname(hadoop_fs.__file__)
    allowed = {
        os.path.join(pkg, p)
        for p in ("hadoop_fs.py", "sources/keyed_store.py", "sinks/writers.py")
    }
    names = {"fs_publish", "staging_path"}
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path in allowed:
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            offenders += [
                f"{path}:{n.lineno}"
                for n in ast.walk(tree)
                if (isinstance(n, ast.Name) and n.id in names)
                or (isinstance(n, ast.Attribute) and n.attr in names)
                or (isinstance(n, ast.alias) and n.name in names)
            ]
    assert offenders == []


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
    _ingest_replace(spark, idx)
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
