"""The keyed parquet store (``sources/keyed_store.py``) behind the geo
cache and both ingest indexes: one file per batch, the relative
compaction trigger, and the job counts of the commit paths that run
on every batch or tick."""

from __future__ import annotations

import glob
import gzip
import os
import time

from elb_log_etl_enrichment_spark.sources import keyed_store
from elb_log_etl_enrichment_spark.sources.alb_fixtures import fixture_lines
from elb_log_etl_enrichment_spark.sources.geo_cache import append_geo_cache_delta
from elb_log_etl_enrichment_spark.streaming.elb_stream import stream_elb_pipeline
from elb_log_etl_enrichment_spark.streaming.stream import (
    _digest_ingest_upsert,
    _neardup_ingest_upsert,
    sized_shuffle_partitions,
)
from tests.test_pipeline import _geo_rows

UPSERTS = {"digest": _digest_ingest_upsert, "band": _neardup_ingest_upsert}


def jobs_started(spark) -> int:
    """Jobs the session's SparkContext has started: the newest job id
    in the status store, plus one. The listener bus is drained first,
    because status updates arrive asynchronously. Not the size of
    ``jobsList``: the store keeps only ``spark.ui.retainedJobs`` jobs,
    fewer than a test session runs."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return jobs.head().jobId() + 1 if jobs.nonEmpty() else 0


def _jobs(spark, fn) -> int:
    before = jobs_started(spark)
    fn()
    return jobs_started(spark) - before


def _data_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "part-*"))


def _docs(spark, batch: int, n: int = 3):
    """``n`` documents that share no token with any other batch."""
    return spark.createDataFrame(
        [
            (batch * 1000 + i, " ".join(f"w{batch}_{i}_{j}" for j in range(16)))
            for i in range(n)
        ],
        "doc_id long, text string",
    )


def test_job_count_helper_counts_a_known_plan(spark):
    # repartition + count under AQE: the shuffle-map stage, the
    # partial-count stage and the result are one job each
    assert _jobs(spark, lambda: spark.range(100).repartition(3).count()) == 3


def test_commit_path_job_counts(spark, tmp_path):
    """The per-batch job counts of the geo append and of one ingest
    batch with history, at the streams' tick-sized width. The geo
    append and the digest batch equal those of the layout that
    appended each index's rows as they were. The band batch went
    13 -> 9 with its stats now written before the index commit; the
    same batch with the index write first still runs 13."""
    cache = str(tmp_path / "cache.parquet")
    delta = _geo_rows(spark, ["1.1.1.1"], "2026-01-01")
    assert _jobs(spark, lambda: append_geo_cache_delta(spark, delta, cache)) == 1

    want = {"digest": 7, "band": 9}
    for name, upsert in UPSERTS.items():
        index = str(tmp_path / f"{name}_index.parquet")
        with sized_shuffle_partitions(spark, 8):
            upsert(_docs(spark, 0), 0, index)
            got = _jobs(spark, lambda: upsert(_docs(spark, 1), 1, index))
        assert got == want[name], name


def _write_gz(path: str, lines: list[str], mtime: float) -> None:
    with gzip.open(path, "wt") as f:
        f.write("\n".join(lines) + "\n")
    os.utime(path, (mtime, mtime))


def test_stream_tick_job_counts(spark, tmp_path, monkeypatch):
    """One fixture tick that appends its fetched IPs to the cache, and
    one that compacts it (the threshold patched to 0)."""
    logs = tmp_path / "logs"
    logs.mkdir()
    out = str(tmp_path / "out")
    lines = fixture_lines()
    half = len(lines) // 2
    now = time.time()

    def tick(name, chunk, age):
        _write_gz(str(logs / name), chunk, now - age)
        return _jobs(spark, lambda: stream_elb_pipeline(spark, str(logs / "*.gz"), out))

    tick("f0.log.gz", lines[:half], 90)
    assert tick("f1.log.gz", lines[half:], 60) == 11  # new IPs: appends
    monkeypatch.setattr(keyed_store, "COMPACT_FILES", 0)
    other_ips = [ln.replace(" 10.", " 172.", 1) for ln in lines]
    assert tick("f2.log.gz", other_ips, 30) == 13  # new IPs: compacts
    assert len(_data_files(os.path.join(out, "ip_geolocation_cache.parquet"))) == 1


def test_ingest_indexes_land_one_file_per_batch(spark, tmp_path):
    """Three batches at shuffle width 8 leave exactly three data files
    in each index. AQE partition coalescing is off so it cannot hide
    the fan-out: an index that appended its distinct rows as they were
    held up to 8 files per batch."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for name, upsert in UPSERTS.items():
            index = str(tmp_path / f"{name}_index.parquet")
            for b in range(3):
                upsert(_docs(spark, b, n=40), b, index)
            assert len(_data_files(index)) == 3, name
            assert spark.read.parquet(index).select("batch_id").distinct().count() == 3
    finally:
        spark.conf.set(key, prev)


def test_trailing_slash_index_keeps_its_stats_through_compaction(
    spark, tmp_path, monkeypatch
):
    """An index path written with a trailing slash keeps its stats next
    to the index, so a compacting commit, which replaces the index
    directory, leaves every batch's stats row in place."""
    monkeypatch.setattr(keyed_store, "COMPACT_FILES", 0)
    for name, upsert in UPSERTS.items():
        index = str(tmp_path / name) + "/"
        for b in range(3):
            upsert(_docs(spark, b), b, index)  # batches 1 and 2 compact
        assert len(_data_files(index)) == 1, name
        assert "_stats" not in os.listdir(index), name
        stats = spark.read.parquet(str(tmp_path / f"{name}_stats")).collect()
        assert sorted((r.batch_id, r.n_ingested) for r in stats) == [
            (0, 3), (1, 3), (2, 3)
        ], name
