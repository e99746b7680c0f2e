"""Streaming-tier tests: incremental ELB processing with exactly-once
file tracking (the reference's cron re-read problem, fixed)."""

from __future__ import annotations

import glob
import gzip
import os

import pytest
from pyspark.sql import functions as F

from elb_log_etl_enrichment_spark.sources.alb_fixtures import fixture_lines
from elb_log_etl_enrichment_spark.streaming.elb_stream import stream_elb_pipeline


def _write_gz(path: str, lines: list[str]) -> None:
    with gzip.open(path, "wt") as f:
        f.write("\n".join(lines) + "\n")


def _cleaned_count(spark, out: str) -> int:
    files = glob.glob(os.path.join(out, "cleaned_logs", "**", "*.parquet"), recursive=True)
    if not files:
        return 0
    return spark.read.parquet(os.path.join(out, "cleaned_logs")).count()


def test_incremental_elb_stream_processes_each_file_once(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    out = str(tmp_path / "out")
    lines = fixture_lines()
    # valid analytic lines: 30 parse-able, 8 filtered (5 health-check
    # lines + 3 garbage) → 22 cleaned rows in the first file batch
    _write_gz(str(logs / "a.log.gz"), lines)

    stream_elb_pipeline(spark, str(logs / "*.gz"), out)
    n1 = _cleaned_count(spark, out)
    assert n1 == 22

    # cron tick with NO new files: nothing is reprocessed
    stream_elb_pipeline(spark, str(logs / "*.gz"), out)
    assert _cleaned_count(spark, out) == n1

    # a new file lands: only its rows are appended
    _write_gz(str(logs / "b.log.gz"), lines[:5])  # 5 more browser lines
    stream_elb_pipeline(spark, str(logs / "*.gz"), out)
    assert _cleaned_count(spark, out) == n1 + 5


def test_streaming_dedup_drops_replayed_records(spark, tmp_path):
    """dropDuplicatesWithinWatermark removes at-least-once replays:
    the same event file delivered as two micro-batch inputs yields
    each event exactly once downstream."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.streaming.stream import (
        EVENTS_RAW_SCHEMA,
        deduped_stream,
        run_available_now,
    )

    src = spark.createDataFrame(
        [(i, 1_700_000_000_000_000_000 + i * 1_000_000_000, i % 3, "click", 1.0, "{}")
         for i in range(50)],
        EVENTS_RAW_SCHEMA,
    )
    in_dir = str(tmp_path / "in")
    # two identical files = a replayed delivery of the same 50 events
    src.coalesce(1).write.mode("overwrite").parquet(in_dir + "/a")
    src.coalesce(1).write.mode("overwrite").parquet(in_dir + "/b")
    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("recursiveFileLookup", True)
        .parquet(in_dir)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    out = run_available_now(
        deduped_stream(stream),
        spark,
        name="dedup_stream_test",
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="append",
    )
    assert out.count() == 50
    assert out.select("event_id").distinct().count() == 50


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked view→purchase interval join, drained with
    Trigger.AvailableNow, must equal the batch self-join over the same
    rows — the correctness contract for the stream-stream join state
    machine."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.streaming.stream import (
        EVENTS_RAW_SCHEMA,
        run_available_now,
        view_purchase_join_stream,
    )

    base_ns = 1_700_000_000_000_000_000
    rows = []
    # user 0: view at t=0, purchases at +10min (join) and +45min (no join)
    rows.append((1, base_ns, 0, "view", 1.0, "{}"))
    rows.append((2, base_ns + 600 * 10**9, 0, "purchase", 5.0, "{}"))
    rows.append((3, base_ns + 2700 * 10**9, 0, "purchase", 7.0, "{}"))
    # user 1: purchase BEFORE the view (no join), then one at +30min exactly (joins, inclusive)
    rows.append((4, base_ns + 100 * 10**9, 1, "view", 1.0, "{}"))
    rows.append((5, base_ns, 1, "purchase", 2.0, "{}"))
    rows.append((6, base_ns + 1900 * 10**9, 1, "purchase", 3.0, "{}"))
    # user 2: two views share one purchase (both join)
    rows.append((7, base_ns, 2, "view", 1.0, "{}"))
    rows.append((8, base_ns + 60 * 10**9, 2, "view", 1.0, "{}"))
    rows.append((9, base_ns + 900 * 10**9, 2, "purchase", 9.0, "{}"))
    src = spark.createDataFrame(rows, EVENTS_RAW_SCHEMA)
    in_dir = str(tmp_path / "in")
    src.coalesce(1).write.mode("overwrite").parquet(in_dir)
    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .parquet(in_dir)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    out = run_available_now(
        view_purchase_join_stream(stream, max_gap="30 minutes"),
        spark,
        name="vp_join_test",
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="append",
    )
    got = {(r.view_id, r.purchase_id, r.gap_ms) for r in out.collect()}
    assert got == {
        (1, 2, 600_000),
        (4, 6, 1_800_000),
        (7, 9, 900_000),
        (8, 9, 840_000),
    }


def test_stateful_totals_accumulate_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: per-user totals must CARRY state across
    micro-batches (the cross-run cache semantic). Two files delivered
    one-per-trigger → the second batch's cum_events = both batches."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.streaming.stream import (
        EVENTS_RAW_SCHEMA,
        run_available_now,
        stateful_user_totals,
    )

    base_ns = 1_700_000_000_000_000_000

    def batch(offset, n):
        return spark.createDataFrame(
            [(offset + i, base_ns + i * 10**9, 7, "click", 2.0, "{}") for i in range(n)],
            EVENTS_RAW_SCHEMA,
        )

    in_dir = tmp_path / "in"
    batch(0, 3).coalesce(1).write.parquet(str(in_dir / "a"))
    batch(100, 2).coalesce(1).write.parquet(str(in_dir / "b"))
    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("recursiveFileLookup", True)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    out = run_available_now(
        stateful_user_totals(stream),
        spark,
        name="stateful_test",
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="update",
    )
    rows = sorted(
        ((r.batch_events, r.cum_events, r.cum_value) for r in out.collect())
    )
    # one output row per micro-batch for user 7; cumulative columns
    # must accumulate across batches in delivery order (3 then 2, or
    # 2 then 3 depending on file listing — totals always end at 5/10.0)
    assert len(rows) == 2
    assert {r[0] for r in rows} == {2, 3}
    assert max(r[1] for r in rows) == 5
    assert max(r[2] for r in rows) == 10.0


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Late-data contract: once the watermark passes a tumbling
    window's end and the window is EMITTED (append mode), a straggler
    for that window is dropped — the emitted result stays final. Three
    micro-batches: (a) fills hour-0, (b) advances the watermark so
    hour-0 finalizes at n=2, (c) delivers an hour-0 straggler, which
    must neither re-emit the window nor appear anywhere."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.streaming.stream import (
        EVENTS_RAW_SCHEMA,
        run_available_now,
    )

    h = 3600 * 10**9  # one hour in ns
    base = 1_700_000_000_000_000_000

    def write(name, rows):
        spark.createDataFrame(rows, EVENTS_RAW_SCHEMA).coalesce(1).write.parquet(
            str(tmp_path / "in" / name)
        )

    # the file source orders batches by modification time — real gaps
    # keep delivery order deterministic (same-second writes tie)
    import time

    # batch a: two events in hour-0, one in hour-5
    write("a", [
        (1, base + 10 * 10**9, 1, "click", 1.0, "{}"),
        (2, base + 20 * 10**9, 1, "click", 1.0, "{}"),
        (3, base + 5 * h, 1, "click", 1.0, "{}"),
    ])
    time.sleep(1.2)
    # batch b: fresh hour-8 event; its batch runs with watermark 04:00
    # (from batch a) → hour-0 finalizes and emits n=2
    write("b", [(5, base + 8 * h, 1, "click", 1.0, "{}")])
    time.sleep(1.2)
    # batch c: hour-0 straggler — its window already emitted; dropped
    write("c", [(4, base + 30 * 10**9, 1, "click", 1.0, "{}")])
    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("recursiveFileLookup", True)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in"))
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_millis("window.start").alias("start_ms"), "n")
    )
    out = run_available_now(
        agg, spark, "late_data_test", str(tmp_path / "ckpt"), output_mode="append"
    )
    rows = [(r.start_ms, r.n) for r in out.collect()]
    hour0 = 1_700_000_000_000 - (1_700_000_000_000 % 3_600_000)
    # hour-0 emitted exactly once, with the 2 on-time events; the
    # straggler neither re-emitted the window nor appeared as a new row
    hour0_rows = [r for r in rows if r[0] == hour0]
    assert hour0_rows == [(hour0, 2)], rows


def test_transform_with_state_user_stats(spark):
    """Spark 4 transformWithStateInPandas: typed ValueState carried
    across micro-batches. The worker needs google.protobuf for the
    state-server protocol — skip where absent (the operator itself is
    environment-independent)."""
    import pytest

    from elb_log_etl_enrichment_spark.plans.queries_sql4 import (
        _tws_available,
        streaming_tws_user_stats,
    )

    if not _tws_available():
        pytest.skip("google.protobuf unavailable: transformWithState worker cannot start")
    out = streaming_tws_user_stats(spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    assert set(out.columns) == {"user_id", "cum_events", "cum_value", "max_value"}


def test_ingest_dedup_stream_dedups_across_runs(spark, tmp_path):
    """The persisted digest index must survive across separate stream
    RUNS (the cron-restart story): round 2 sees round 1's documents as
    history dups, classifies a within-batch pair, and appends only new
    survivor digests to the index."""
    from elb_log_etl_enrichment_spark.streaming.stream import ingest_dedup_stream

    src = f"{tmp_path}/docs_src"
    index = f"{tmp_path}/digest_index.parquet"
    ck = f"{tmp_path}/ck"
    schema = "doc_id long, text string"

    def write_round(rows, fname):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    pre_a = "a1 a2 a3 a4 a5 a6 a7 a8"
    pre_b = "b1 b2 b3 b4 b5 b6 b7 b8"
    write_round([(1, pre_a + " one"), (2, "c1 c2 c3 c4 c5 c6 c7 c8 x")], "r1")
    stream = spark.readStream.schema(schema).parquet(src)
    ingest_dedup_stream(stream, spark, index, ck)
    assert spark.read.parquet(index).count() == 2

    write_round(
        [
            (11, pre_a + " later repost"),   # dup of round-1 history
            (12, pre_b + " first"),          # survivor of new prefix
            (13, pre_b + " second"),         # within-batch dup
            (14, "f1 f2 f3 f4 f5 f6 f7 f8"), # fresh
        ],
        "r2",
    )
    stream2 = spark.readStream.schema(schema).parquet(src)
    ingest_dedup_stream(stream2, spark, index, ck)

    assert spark.read.parquet(index).count() == 4  # +pre_b, +fresh
    stats = {
        r["batch_id"]: r
        for r in spark.read.parquet(index + "_stats").collect()
    }
    last = stats[max(stats)]
    assert last["n_batch"] == 4
    assert last["n_dup_of_history"] == 1
    assert last["n_dup_within_batch"] == 1
    assert last["n_ingested"] == 2


def test_neardup_ingest_stream_band_index_across_runs(spark, tmp_path):
    """The LSH band index must survive across stream RUNS: round 2
    classifies a near-dup (NOT byte-identical — word substitutions
    that preserve shingle overlap) of round-1 history via shared band
    keys, catches a within-batch near-dup pair, and appends only
    survivors' band keys; a third run with no new files is a no-op."""
    from elb_log_etl_enrichment_spark.streaming.stream import neardup_ingest_stream

    src = f"{tmp_path}/docs_src"
    index = f"{tmp_path}/band_index.parquet"
    ck = f"{tmp_path}/ck"
    schema = "doc_id long, text string"

    def write_round(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    other = "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14 z15 z16"
    write_round([(1, base), (2, other)])
    neardup_ingest_stream(
        spark.readStream.schema(schema).parquet(src), spark, index, ck
    )
    idx1 = spark.read.parquet(index).count()
    assert idx1 > 0

    write_round(
        [
            (11, base + " tail"),     # near-dup of doc 1 (same prefix shingles)
            (12, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"),   # fresh
            (13, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13"),  # near-dup of 12
        ]
    )
    neardup_ingest_stream(
        spark.readStream.schema(schema).parquet(src), spark, index, ck
    )
    stats = {
        r["batch_id"]: r
        for r in spark.read.parquet(index + "_stats").collect()
    }
    last = stats[max(stats)]
    assert last["n_batch"] == 3
    assert last["n_dup_of_history"] == 1
    assert last["n_dup_within_batch"] == 1
    assert last["n_ingested"] == 1
    idx2 = spark.read.parquet(index).count()
    assert idx2 > idx1  # only doc 12's keys appended

    # restart with nothing new: checkpoint replays no batch, index unchanged
    neardup_ingest_stream(
        spark.readStream.schema(schema).parquet(src), spark, index, ck
    )
    assert spark.read.parquet(index).count() == idx2


def test_ingest_upserts_replay_safe(spark, tmp_path):
    """ADVICE r04 (medium): a foreachBatch replay — same batch, same
    batch_id, run twice, as after a mid-commit driver failure — must
    reclassify IDENTICALLY for both ingest upserts: the history probe
    excludes the current batch's own index rows (batch_id < current),
    and stats overwrite their batch=<id> directory instead of
    appending a second contradictory row."""
    from elb_log_etl_enrichment_spark.streaming.stream import (
        _digest_ingest_upsert,
        _neardup_ingest_upsert,
    )

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    batch = spark.createDataFrame(
        [(1, base), (2, base + " tail")], "doc_id long, text string"
    )
    for name, upsert in [
        ("nd", _neardup_ingest_upsert),
        ("dg", _digest_ingest_upsert),
    ]:
        index = f"{tmp_path}/{name}_index.parquet"
        upsert(batch, 0, index)
        first = spark.read.parquet(index + "_stats").collect()
        idx_first = spark.read.parquet(index).count()
        upsert(batch, 0, index)  # replay: checkpoint never committed
        replay = spark.read.parquet(index + "_stats").collect()
        assert len(replay) == 1, name  # overwrite, not a second row
        assert replay == first, name  # identical classification
        assert replay[0]["n_dup_of_history"] == 0, name
        assert replay[0]["n_ingested"] == 1, name
        # re-appended survivor keys are exact duplicates of batch 0's
        idx = spark.read.parquet(index)
        assert idx.filter("batch_id = 0").count() == idx.count()
        assert idx.dropDuplicates().count() == idx_first, name


def test_ingest_upsert_rejects_legacy_index_without_batch_id(spark, tmp_path):
    """Code-review r05: a persisted index LACKING the batch_id column
    (pre-replay-safety layout) must fail loudly — the old blanket
    except treated it as EMPTY history, silently reclassifying every
    historical duplicate as newly ingested."""
    import pytest

    from elb_log_etl_enrichment_spark.streaming.stream import (
        _digest_ingest_upsert,
        _neardup_ingest_upsert,
    )

    batch = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16")],
        "doc_id long, text string",
    )
    legacy_nd = f"{tmp_path}/legacy_nd.parquet"
    spark.createDataFrame(
        [(0, "k")], "band int, band_key string"
    ).write.parquet(legacy_nd)
    with pytest.raises(ValueError, match="no batch_id column"):
        _neardup_ingest_upsert(batch, 1, legacy_nd)
    legacy_dg = f"{tmp_path}/legacy_dg.parquet"
    spark.createDataFrame([("d",)], "digest string").write.parquet(legacy_dg)
    with pytest.raises(ValueError, match="no batch_id column"):
        _digest_ingest_upsert(batch, 1, legacy_dg)


def test_timeout_sessions_survive_multibatch_watermark_advance(spark, tmp_path):
    """Regression (ADVICE r02, medium): with maxFilesPerTrigger=1 the
    watermark advances between micro-batches; a group whose session is
    already expired relative to the current watermark must NOT register
    a timer at last+gap+1 <= watermark (PySpark raises 'timeout
    timestamp cannot be earlier than watermark'). The clamp emits the
    expired session immediately instead.

    Delivery: file a (user 1 early events + user 99 far-future event
    that drives the watermark ~10h ahead), then file b (user 2 events
    far older than the new watermark). The run must complete, and user
    1's gap-closed session must surface via its event-time timer.
    """
    import os as _os

    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.streaming.stream import (
        EVENTS_RAW_SCHEMA,
        run_available_now,
        timeout_sessionized_stream,
    )

    base_ns = 1_700_000_000_000_000_000

    def mk(rows):
        return spark.createDataFrame(
            [(i, base_ns + s * 10**9, u, "click", 1.0, "{}")
             for i, (u, s) in enumerate(rows)],
            EVENTS_RAW_SCHEMA,
        )

    in_dir = tmp_path / "in"
    # batch 1: user 1 @ t0, t0+60; user 99 @ t0+10h (watermark driver)
    mk([(1, 0), (1, 60), (99, 36_000)]).coalesce(1).write.parquet(str(in_dir / "a"))
    # batch 2: user 2 @ t0+120, t0+180 — ~10h older than the watermark
    mk([(2, 120), (2, 180)]).coalesce(1).write.parquet(str(in_dir / "b"))
    # file-source ordering is by modification time: pin a before b
    for name, mtime in (("a", 1_000_000_000), ("b", 1_000_000_100)):
        d = str(in_dir / name)
        for f in _os.listdir(d):
            _os.utime(_os.path.join(d, f), (mtime, mtime))

    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("recursiveFileLookup", True)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    out = run_available_now(
        timeout_sessionized_stream(stream),
        spark,
        name="timeout_multibatch_test",
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="append",
    )
    rows = {(r.user_id, r.session_start_ms, r.session_end_ms, r.n_events)
            for r in out.collect()}
    base_ms = base_ns // 1_000_000
    # user 1's session closed by the watermark-driven timer in batch 2
    assert (1, base_ms, base_ms + 60_000, 2) in rows
    # every emitted session is well-formed
    assert all(s <= e and n >= 1 for (_, s, e, n) in rows)
    # user 2: either filtered as late input or emitted immediately by
    # the clamp — never a crash; if present, bounds must be exact
    u2 = {r for r in rows if r[0] == 2}
    assert u2 <= {(2, base_ms + 120_000, base_ms + 180_000, 2)}


def test_all_garbage_batch_leaves_no_empty_ingest_dir(spark, tmp_path):
    """r10 observe()-based emptiness: a new file whose every line is
    garbage/filtered parses to a 0-row batch — the sink must leave NO
    ingest_batch directory behind (the write-then-remove path), the
    geo cache must not be touched, and a later real file must still
    land normally."""
    logs = tmp_path / "logs"
    logs.mkdir()
    out = str(tmp_path / "out")
    _write_gz(str(logs / "junk.log.gz"), ["garbage one", "garbage two", ""])

    stream_elb_pipeline(spark, str(logs / "*.gz"), out)
    sink_root = os.path.join(out, "cleaned_logs")
    batch_dirs = glob.glob(os.path.join(sink_root, "ingest_batch=*"))
    assert batch_dirs == [], batch_dirs
    assert not os.path.exists(os.path.join(out, "ip_geolocation_cache.parquet"))

    # a real file afterwards processes normally (exactly-once tracking
    # already consumed the junk file)
    _write_gz(str(logs / "real.log.gz"), fixture_lines()[:5])
    stream_elb_pipeline(spark, str(logs / "*.gz"), out)
    assert _cleaned_count(spark, out) == 5
    assert glob.glob(os.path.join(sink_root, "ingest_batch=*"))


def test_empty_batch_cleanup_failure_releases_fetch_frame(
    spark, tmp_path, monkeypatch
):
    """The empty-batch cleanup runs after the sink write and before the
    cache commit; when it raises, finalize() must still run, so the
    batch's persisted geo-fetch frame is released and the persistent-
    RDD count returns to its pre-tick value."""
    from elb_log_etl_enrichment_spark.streaming import elb_stream

    def probe_fails(*_args):
        raise IOError("injected part-file probe failure")

    # an all-garbage batch has no observation row, so the cleanup falls
    # back to the part-file probe
    monkeypatch.setattr(elb_stream, "fs_has_part_files", probe_fails)
    logs = tmp_path / "logs"
    logs.mkdir()
    _write_gz(str(logs / "junk.log.gz"), ["garbage one", "garbage two", ""])
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(Exception, match="injected part-file probe failure"):
        stream_elb_pipeline(spark, str(logs / "*.gz"), str(tmp_path / "out"))
    assert jsc.getPersistentRDDs().size() == before


def test_stage_two_batches_orders_files_by_mtime(spark, tmp_path):
    """VERDICT r05 item 4: the single paced availableNow run replaces
    the two-run ingest shape, so FileStreamSource MUST process the
    staged history file as micro-batch 0 and the tick file as batch 1
    — _stage_two_batches forces that with a 60 s mtime gap. A flipped
    order would classify history docs as the incoming batch and break
    the ingest oracles."""
    import os

    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.plans.queries_ext import (
        _stage_two_batches,
    )

    src = str(tmp_path / "src")
    first = spark.createDataFrame([Row(doc_id=1, text="a")])
    second = spark.createDataFrame([Row(doc_id=2, text="b")])
    _stage_two_batches(first, second, src)
    parts = sorted(
        (os.path.getmtime(os.path.join(src, f)), f)
        for f in os.listdir(src)
        if not f.startswith(("_", "."))  # Spark ignores hidden files
    )
    assert len(parts) == 2
    assert parts[1][0] - parts[0][0] >= 30  # forced gap, no mtime tie

    seen: list[tuple[int, list[int]]] = []
    (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(
            lambda b, bid: seen.append((bid, [r.doc_id for r in b.collect()]))
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert seen == [(0, [1]), (1, [2])]


def test_state_partitions_knob_captured_and_restored(spark, tmp_path):
    """run_available_now(state_partitions=N) must pin the stream's
    STATE partitioning to N (Spark captures the conf at start()) and
    restore the session conf afterwards — if a Spark upgrade ever
    captures lazily instead, the state dir count exposes it."""
    import os

    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.streaming.stream import (
        run_available_now,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "v long, k long"
    ).coalesce(1).write.parquet(src)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    stream = (
        spark.readStream.schema("v long, k long").parquet(src)
        .groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    )
    ck = str(tmp_path / "ck")
    out = run_available_now(
        stream, spark, "mem_state_knob", ck,
        output_mode="complete", state_partitions=3,
    )
    assert out.count() == 3
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    state_dirs = os.listdir(os.path.join(ck, "state", "0"))
    assert sorted(d for d in state_dirs if d.isdigit()) == ["0", "1", "2"]


def test_elb_stream_single_paced_run_batches_per_file(spark, tmp_path):
    """r7 (verdict r06 item 6): one availableNow run with
    maxFilesPerTrigger=1 over two mtime-ordered gzip objects must
    process each file in its own micro-batch (two ingest_batch
    partition dirs, per-file row counts), composing to the same
    cleaned-logs content as the former two-run shape."""
    import glob
    import gzip
    import os
    import time

    from elb_log_etl_enrichment_spark.sources.alb_fixtures import (
        fixture_lines,
    )
    from elb_log_etl_enrichment_spark.streaming.elb_stream import (
        stream_elb_pipeline,
    )

    logs = tmp_path / "logs"
    logs.mkdir()
    out = str(tmp_path / "out")
    lines = fixture_lines()

    def land(name, chunk, mtime=None):
        p = str(logs / name)
        with gzip.open(p, "wt") as f:
            f.write("\n".join(chunk) + "\n")
        if mtime is not None:
            os.utime(p, (mtime, mtime))

    now = time.time()
    land("a.log.gz", lines, mtime=now - 60)  # 22 cleaned rows
    land("b.log.gz", lines[:5])  # 5 more browser lines
    stream_elb_pipeline(
        spark, str(logs / "*.gz"), out, max_files_per_trigger=1
    )
    root = os.path.join(out, "cleaned_logs")
    batches = sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(root, "ingest_batch=*"))
    )
    assert batches == ["ingest_batch=0", "ingest_batch=1"], batches
    cleaned = spark.read.parquet(root)
    per_batch = {
        r["ingest_batch"]: r["n"]
        for r in cleaned.groupBy("ingest_batch")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_batch == {0: 22, 1: 5}, per_batch


def test_sized_shuffle_partitions_rejects_nesting(spark):
    """The single-threaded-session contract on the per-stream shuffle
    sizing is enforced (ADVICE r06 #4): a second sized block on the
    same session — a concurrent stream compiling inside another's conf
    window — raises instead of silently miscompiling; the conf is
    restored either way, and n=None blocks don't participate."""
    import pytest

    from elb_log_etl_enrichment_spark.streaming.stream import (
        sized_shuffle_partitions,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with sized_shuffle_partitions(spark, 4):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
        with pytest.raises(RuntimeError, match="not re-entrant"):
            with sized_shuffle_partitions(spark, 8):
                pass
        # unaffected by the rejected attempt
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
        with sized_shuffle_partitions(spark, None):  # no-op path nests fine
            pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    with sized_shuffle_partitions(spark, 4):  # reusable after clean exit
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


class TestSizedShufflePartitionRestore:
    def test_failed_first_restore_still_restores_aqe(self, spark):
        from elb_log_etl_enrichment_spark.streaming.stream import (
            sized_shuffle_partitions,
        )

        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        real_set = spark.conf.set
        state = {"raised": False}

        def flaky_set(key, value):
            # raise exactly once: on the exit-path restore of
            # shuffle.partitions back to its previous value
            if (
                key == "spark.sql.shuffle.partitions"
                and str(value) == str(prev_parts)
                and not state["raised"]
            ):
                state["raised"] = True
                raise RuntimeError("simulated py4j failure")
            return real_set(key, value)

        import unittest.mock as mock

        with mock.patch.object(spark.conf, "set", flaky_set):
            with pytest.raises(RuntimeError, match="simulated"):
                with sized_shuffle_partitions(spark, 7):
                    pass
        assert state["raised"]
        # the AQE restore must have run despite the first failure
        assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
        # repair the conf the simulated failure left behind
        real_set("spark.sql.shuffle.partitions", prev_parts)
        # and the re-entrancy latch must be released
        with sized_shuffle_partitions(spark, 5):
            pass
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
