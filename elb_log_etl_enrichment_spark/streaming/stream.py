"""Structured Streaming tier (SURVEY.md §2.8).

The reference's "streaming" is cron re-running the batch every ~2
minutes over the FULL S3 prefix (cron_test.txt, elb_logs.py:402) —
100% re-read amplification and no late-data semantics. This tier maps
that cadence onto real incremental primitives:

| reference behavior            | here                                   |
|-------------------------------|----------------------------------------|
| re-scan prefix per cron tick  | file source + checkpoint (exactly-once |
|                               | file tracking) / Trigger.AvailableNow  |
| 30-min-gap sessionization     | ``session_window(ts, '30 minutes')``   |
| hourly aggregates             | tumbling ``window(ts, '1 hour')``      |
| geo cache upsert across runs  | ``foreachBatch`` O(delta) cache append |
| (none)                        | watermarks bound state for late data   |

Scale note: session_window/tumbling aggs are stateful operators whose
state is partitioned by key — the same hash partitioning as the batch
window tier, but with watermark-driven state eviction, so unbounded
streams run in bounded memory.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..memo import scratch_dir
from ..session import ensure_engine_confs
from ..sources import keyed_store


@contextmanager
def sized_shuffle_partitions(spark: SparkSession, n: int | None):
    """Mutate ``spark.sql.shuffle.partitions`` for the enclosed block
    and restore it — the shared seam behind every per-stream sizing
    knob (``batch_shuffle_partitions`` on the three foreachBatch
    streams; code-review r7 deduplicated the four inline copies).
    Single-threaded-session contract: no other plan may compile on
    this session inside the block (foreachBatch micro-batch plans
    compile while the stream drains, so callers hold the conf through
    ``awaitTermination``). ``n=None`` is a no-op.

    The contract is ENFORCED, not just documented (ADVICE r06 #4):
    nesting two sized blocks on one SESSION means a second stream is
    compiling inside another's conf window — the silent-miscompile
    case. The guard raises up front instead. Keyed on the JVM
    SparkSession identity (conf scope = session scope: `newSession()`
    clones have independent SQLConfs, so parallel sized blocks on
    separate sessions are legitimately allowed — code-review r7b),
    check-and-add under a lock (two threads racing the same session
    must not both pass), and the key is registered only after the
    conf snapshot so no failure path can strand it.

    r8: the block also disables AQE. Passing a fixed small width IS
    the assertion that every shuffle inside is cron-tick-sized;
    adaptive re-planning of an already-right-sized tiny exchange
    contributes only per-stage re-optimization latency (~0.2-0.5 s
    per micro-batch measured on the composed ELB stream, VERDICT r07
    item 7). Unsized streams (big batches) keep AQE."""
    if n is None:
        yield
        return
    try:
        key = spark._jsparkSession.hashCode()
    except Exception:
        # per-Python-wrapper identity, NOT applicationId: the app id
        # is shared by every newSession() clone on the context, so the
        # legitimately-allowed case (parallel sized blocks on separate
        # cloned sessions) would spuriously raise exactly when the
        # py4j probe is flaky (ADVICE r7). id(spark) is weaker (two
        # wrappers of one JVM session differ) but errs toward
        # allowing, matching the conf's real scope better than an
        # identity that is strictly coarser.
        key = ("py-wrapper", id(spark))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    except Exception:
        prev_aqe = "true"
    with _SIZED_LOCK:
        if key in _SIZED_SESSIONS:
            raise RuntimeError(
                "sized_shuffle_partitions is not re-entrant: another "
                "stream holds this session's shuffle-partition conf "
                "(single-threaded-session contract; run streams "
                "sequentially or on separate sessions)"
            )
        _SIZED_SESSIONS.add(key)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            yield
        finally:
            # nested so one failed restore cannot skip the other
            # (ADVICE r8: a py4j raise on the first set left AQE
            # pinned 'false' for the rest of the session)
            try:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    finally:
        with _SIZED_LOCK:
            _SIZED_SESSIONS.discard(key)


#: session identities currently inside a sized_shuffle_partitions block
_SIZED_SESSIONS: set = set()
_SIZED_LOCK = threading.Lock()

#: staging-dir memo for single-file streaming sources (path → tempdir)
_STAGED_DIRS: dict[str, str] = {}

def _events_raw_schema(ts_type) -> StructType:
    """On-disk schema of the driver's events table. ``ts`` has shipped
    as parquet TIMESTAMP(NANOS) (scanned as long via nanosAsLong) in
    some testdata generations and plain TIMESTAMP(MICROS) in others, so
    the caller sniffs the actual type from a batch read."""
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


#: legacy layout (ts = raw NANOS long) — kept for tests that synthesize
#: event files in that generation's format.
EVENTS_RAW_SCHEMA = _events_raw_schema(LongType())


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch unit; checkpointing gives exactly-once file tracking —
    the incremental read the reference's cron loop lacks).

    The streaming file source wants a *directory*; when pointed at the
    driver's single-file table we stage a symlink dir (read-only
    testdata stays untouched).
    """
    ensure_engine_confs(spark)
    path = f"{sf_dir}/events.parquet"
    if os.path.isfile(path):
        # memoized per source file: repeated registry invocations reuse
        # one staging dir instead of leaking a tempdir per call
        staged = _STAGED_DIRS.get(path)
        if staged is None or not os.path.isdir(staged):
            staged = scratch_dir("events_stream_", path)
            os.symlink(path, os.path.join(staged, "events.parquet"))
            _STAGED_DIRS[path] = staged
        path = staged
    # sniff the physical ts type from a (metadata-only) batch read so the
    # stream schema matches whichever testdata generation is on disk
    ts_is_nanos_long = dict(spark.read.parquet(path).dtypes).get("ts") == "bigint"
    schema = _events_raw_schema(LongType() if ts_is_nanos_long else TimestampType())
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if ts_is_nanos_long:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def sessionized_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming equivalent of operators.features.sessionize (W1-W4):
    per-user session windows with a 30-min inactivity gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def view_purchase_join_stream(
    events: DataFrame,
    max_gap: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner interval join: each 'view' joined to the
    same user's 'purchase' events within ``max_gap`` after it —
    attribution, the canonical stream-stream join.

    Both sides carry watermarks and the join condition bounds event
    time in both directions, so Spark can size the join state buffer
    and evict rows once the watermark passes — the requirement for an
    unbounded stream-stream join to run in bounded memory. State is
    hash-partitioned by ``user_id`` (the equi key), same layout as the
    batch tier's window shuffles.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {max_gap}"))
    )
    # how="left_outer": unmatched views are emitted with NULL purchase
    # columns once the PURCHASE-side watermark passes view_ts+max_gap
    # (the state-eviction point — no future purchase can match). Views
    # younger than that at end-of-stream stay buffered, not emitted:
    # correct streaming semantics, pinned by the registry oracle's
    # finality cutoff.
    return views.join(purchases, cond, how).select(
        "user_id",
        "view_id",
        "view_ts",
        "purchase_id",
        (
            F.unix_millis(F.col("purchase_ts").cast("timestamp"))
            - F.unix_millis(F.col("view_ts").cast("timestamp"))
        ).alias("gap_ms"),
    )


def deduped_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exactly-once dedup on a business key.

    The reference deduplicates only its geo cache, batch-side
    (elb_logs.py:220-224); a streaming ingest needs dedup at the edge —
    at-least-once sources (Kinesis/Kafka replay, the reference's own
    re-scanned S3 prefix) deliver the same record twice.
    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the watermark passes, so state is bounded by (key cardinality ×
    watermark horizon), not by stream length — the property that makes
    this safe on an unbounded 100 TB/day stream.
    """
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def hourly_stream_agg(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming equivalent of the hourly aggregate (A1-A7): tumbling
    1-hour windows per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "approx_users",
            "sum_value",
        )
    )


def dedup_then_hourly_users(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """TWO chained stateful operators in one streaming plan:
    watermark-bounded dedup on (user, type, hour) feeding a tumbling
    hourly count of distinct active (user, type) pairs. Spark 4's
    watermark propagation sizes both state stores off the single
    `withWatermark`; the dedup emits each key once, so the downstream
    aggregate counts distinct pairs without its own DISTINCT state.
    The batch equivalent (the oracle) is one GROUP BY over DISTINCT
    (hour, user, type)."""
    hour = F.date_trunc("hour", F.col("ts"))
    keyed = events.select(
        "user_id", "event_type", hour.alias("hour_start"), "ts"
    ).withWatermark("ts", watermark)
    dd = keyed.dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "hour_start"]
    )
    return (
        dd.groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_active_pairs"))
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_active_pairs",
        )
    )


def run_available_now(
    result: DataFrame,
    spark: SparkSession,
    name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain all available input through a streaming plan into an
    in-memory sink (Trigger.AvailableNow — the reference's cron tick,
    minus the re-read) and return the materialized table.

    ``state_partitions`` sizes the STATEFUL-operator partitioning for
    this stream: Spark pins a streaming query's state partition count
    to ``spark.sql.shuffle.partitions`` at first start, and every
    micro-batch then pays per-partition store open/commit/snapshot
    whether or not a partition holds state. Sizing it to expected
    state VOLUME (not the session's batch shuffle width) is standard
    per-job streaming practice — a stream-stream join holding ~25 MB
    of state across 32 stores spent ~5 s/batch on store management
    alone (r6 measurement: 7.6 s → 2.7 s at 8 partitions). The conf is
    set only for the ``start()`` window and restored; a 100 TB
    deployment passes hundreds here, exactly as it would on a real
    cluster.

    CONTRACT (code-review r06): the mutate-start-restore window
    assumes no OTHER plan compiles on this session concurrently —
    Spark exposes no per-query state-partition option (state width is
    pinned to ``spark.sql.shuffle.partitions`` at first start, and
    ``DataStreamWriter.option`` cannot set SQL confs), so a batch
    action or second ``start()`` racing this window would compile at
    ``state_partitions`` wide. Every registry call site runs streams
    sequentially on a driver thread, satisfying this; a multi-tenant
    session must serialize calls or use a dedicated session. The
    synchronous conf capture inside ``start()`` is pinned against
    version drift by
    tests/test_streaming.py::test_state_partitions_knob_captured_and_restored."""
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    writer = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    with sized_shuffle_partitions(spark, state_partitions):
        query = writer.start()  # stream captures the conf here; the
        # stateful plan compiles at start, so (unlike the foreachBatch
        # streams) the conf window ends before awaitTermination
    query.awaitTermination()
    return spark.table(name)


STATEFUL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("batch_events", LongType()),
        StructField("cum_events", LongType()),
        StructField("cum_value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY.md §2.8): per-user running event count/value total carried
    across micro-batches in keyed state — the streaming analog of the
    reference's cross-run geo cache, but inside the engine's state
    store instead of a side parquet."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        batch_n = 0
        for pdf in pdfs:
            batch_n += len(pdf)
            total += float(pdf["value"].sum())
        n += batch_n
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "batch_events": [batch_n],
                "cum_events": [n],
                "cum_value": [total],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=STATEFUL_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def static_enriched_stream(
    events: DataFrame, dim: DataFrame, on_left: str = "user_id", on_right: str = "c_custkey"
) -> DataFrame:
    """Stream-static join: each micro-batch joins against a static
    (batch) dimension table — the streaming analog of the batch tier's
    geo-enrichment broadcast join. The static side is marked for
    broadcast, so no stream-side shuffle and no join state at all
    (unlike stream-stream joins): at 100 TB/day of stream, each
    executor holds one copy of the dim and the join pipelines through
    the scan."""
    return events.join(
        F.broadcast(dim), F.col(on_left) == F.col(on_right), "inner"
    )


def ohlc_stream(
    events: DataFrame,
    bucket: str = "6 hours",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming OHLC bars: tumbling-window open/high/low/close per
    event_type (operators/timeseries.ohlc_bars lifted onto the stream).

    The open/close ordering key is the same decimal(38,0)-packed
    (epoch_us, event_id) used in batch — min_by/max_by keep the
    streaming state one fixed-width row per (series, window), and the
    watermark bounds how many windows stay open.
    """
    okey = (
        F.unix_micros(F.col("ts")).cast("decimal(38,0)")
        * F.lit("1000000000000000000").cast("decimal(38,0)")
        + F.col("event_id").cast("decimal(38,0)")
    )
    return (
        events.withWatermark("ts", watermark)
        .withColumn("ok", okey)
        .groupBy(F.window("ts", bucket), F.col("event_type").alias("series"))
        .agg(
            F.round(F.min_by("value", F.col("ok")), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", F.col("ok")), 6).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .select(
            F.col("window.start").alias("bucket_start"),
            "series",
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )


TWS_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("cum_events", LongType()),
        StructField("cum_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)


def tws_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running stats via ``transformWithStateInPandas``
    (Spark 4's successor to applyInPandasWithState, SURVEY.md §2.8):
    typed ValueState (count, sum, max) carried across micro-batches
    through an explicit StatefulProcessor lifecycle (init /
    handleInputRows / close). Versus the sibling
    ``stateful_user_totals``: state is schema-ful and composable
    (value/list/map states, timers, TTL) instead of one opaque tuple
    — the API surface a production stateful pipeline needs."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n BIGINT, total DOUBLE, mx DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._agg.exists():
                n, total, mx = self._agg.get()
            else:
                n, total, mx = 0, 0.0, None
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                batch_max = float(pdf["value"].max())
                mx = batch_max if mx is None else max(mx, batch_max)
            self._agg.update((n, total, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "cum_events": [n],
                    "cum_value": [total],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def ingest_dedup_stream(
    docs: DataFrame,
    spark: SparkSession,
    index_path: str,
    checkpoint_dir: str,
    batch_shuffle_partitions: int | None = None,
) -> None:
    """Streaming continuous-ingestion dedup: per micro-batch, classify
    incoming documents against the PERSISTED digest index (the
    streaming twin of ``plans.queries_curation.incremental_ingest_dedup``,
    same ``functions.text.prefix_digest``), append only the newly
    ingested survivors' digests back to the index, and land per-batch
    stats next to it.

    State lives in the parquet index, not in Spark streaming state:
    the dedup horizon is unbounded (every doc ever ingested) and must
    survive restarts/redeploys, which watermark-evicted operator state
    cannot — the exactly-once story is the checkpointed source offsets
    plus a REPLAY-SAFE upsert (``_digest_ingest_upsert``): index rows
    carry the writing ``batch_id`` and the history probe excludes the
    current batch's own rows, so a foreachBatch replay after a
    mid-commit failure reclassifies identically, and the per-batch
    stats land by deterministic overwrite (one directory per
    ``batch_id``), never by a second append. At scale the index probe
    is the batch-side broadcast semi-join, never an index re-shuffle.

    ``batch_shuffle_partitions`` sizes the per-batch post-shuffle
    exchanges to the micro-batch volume (see ``neardup_ingest_stream``
    — same knob, same single-threaded-session contract)."""
    writer = (
        docs.writeStream.foreachBatch(
            lambda batch, batch_id: _digest_ingest_upsert(batch, batch_id, index_path)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    with sized_shuffle_partitions(spark, batch_shuffle_partitions):
        writer.start().awaitTermination()


#: the two ingest index layouts, each row tagged with its writing batch
DIGEST_INDEX_SCHEMA = "digest STRING, batch_id BIGINT"
BAND_INDEX_SCHEMA = "band INT, band_key STRING, batch_id BIGINT"


def _index_history(
    spark: SparkSession, index_path: str, batch_id: int, schema: str
) -> DataFrame:
    """The persisted ingest index as REPLAY-SAFE history: rows written
    by earlier batches only (``batch_id < current``). A missing index
    reads as an empty ``schema`` frame. An index that lacks the
    ``batch_id`` column (a pre-replay-safety build, or not an ingest
    index) fails LOUDLY: read as empty history it would reclassify
    every historical duplicate as newly ingested and re-append its
    keys. So the read infers its schema: an imposed one would read the
    missing column as NULLs."""
    idx = keyed_store.read_or_empty(spark, index_path, schema, infer_schema=True)
    if "batch_id" not in idx.columns:
        raise ValueError(
            f"ingest index at {index_path} has no batch_id column "
            "(pre-replay-safety layout?) — rebuild the index or "
            "backfill batch_id before resuming ingestion"
        )
    return idx.filter(F.col("batch_id") < batch_id)


def _commit_ingest_batch(
    stats: DataFrame, fresh: DataFrame, batch_id: int, index_path: str, schema: str
) -> None:
    """Land batch ``batch_id``'s stats next to the index (never inside
    it, whatever the trailing slash), then commit its ``fresh`` rows
    through ``keyed_store.commit``. Its compaction keeps every row,
    ``batch_id`` included, so the history filter holds after a rewrite.
    Stats first: a compacting commit deletes the files this batch's
    history probe read. A replay stays safe: the stats overwrite their
    own ``batch=<id>`` directory."""
    spark = fresh.sparkSession
    stats.write.mode("overwrite").parquet(
        f"{index_path.rstrip('/')}_stats/batch={batch_id}"
    )
    keyed_store.commit(
        spark, fresh, index_path,
        lambda: keyed_store.read_or_empty(spark, index_path, schema).unionByName(fresh),
    )


def _digest_ingest_upsert(batch: DataFrame, batch_id: int, index_path: str) -> None:
    """One replay-safe micro-batch step of ``ingest_dedup_stream``.

    Idempotence under foreachBatch replay (driver dies after the
    index/stats writes but before the checkpoint commit): the history
    probe filters ``batch_id < current``, so keys this batch already
    appended in the failed attempt are invisible and the replay
    computes the SAME classification; re-appended index rows are
    exact duplicates the distinct/semi-join probes ignore; and the
    stats row overwrites its own ``batch=<id>`` directory rather than
    appending a sibling (:func:`_commit_ingest_batch`)."""
    from pyspark.sql import Window

    from ..functions.text import prefix_digest

    b_spark = batch.sparkSession
    digests = batch.select("doc_id", prefix_digest(F.col("text")).alias("digest")).persist()
    hist = _index_history(b_spark, index_path, batch_id, DIGEST_INDEX_SCHEMA).select("digest")
    matched = (
        hist.join(
            F.broadcast(digests.select("digest").distinct()),
            "digest",
            "left_semi",
        )
        .distinct()
        .withColumn("in_hist", F.lit(True))
    )
    w = Window.partitionBy("digest")
    # no cls persist here (unlike _neardup_ingest_upsert): this chain
    # is one window over the already-persisted digests — recomputing
    # it for the second write is cheaper than a cache materialization
    cls = (
        digests.join(F.broadcast(matched), "digest", "left")
        .withColumn("in_hist", F.coalesce("in_hist", F.lit(False)))
        .withColumn("survivor", F.min("doc_id").over(w))
    )
    stats = cls.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.count_if(F.col("in_hist")).cast("long").alias("n_dup_of_history"),
        F.count_if(
            ~F.col("in_hist") & (F.col("doc_id") != F.col("survivor"))
        ).cast("long").alias("n_dup_within_batch"),
        F.count_if(
            ~F.col("in_hist") & (F.col("doc_id") == F.col("survivor"))
        ).cast("long").alias("n_ingested"),
    ).select(F.lit(batch_id).cast("long").alias("batch_id"), "*")
    # repartition(1), not the store's bare coalesce(1): this distinct
    # rides the window's own partitioning, so a narrow coalesce would
    # run the whole window stage as one task
    fresh = (
        cls.filter(~F.col("in_hist") & (F.col("doc_id") == F.col("survivor")))
        .select("digest")
        .distinct()
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .repartition(1)
    )
    _commit_ingest_batch(stats, fresh, batch_id, index_path, DIGEST_INDEX_SCHEMA)
    digests.unpersist()


def neardup_ingest_stream(
    docs: DataFrame,
    spark: SparkSession,
    index_path: str,
    checkpoint_dir: str,
    batch_shuffle_partitions: int | None = None,
) -> None:
    """Streaming continuous-ingestion NEAR-dup filtering: the
    MinHash-LSH sibling of ``ingest_dedup_stream``. Per micro-batch,
    each incoming document's 4 LSH band keys probe the PERSISTED band
    index (the retained corpus's keys); a document is a near-dup of
    history if ANY band key matches, a within-batch near-dup if any of
    its band buckets contains a smaller batch doc_id, and only the
    surviving documents' band keys are appended back — so the index
    covers exactly the corpus that was KEPT, the property that makes
    the filter idempotent under re-ingestion.

    Scale shape: the index side is never re-shuffled — the matched-key
    probe broadcasts the BATCH's keys into the index scan (bounded by
    batch size, the ``ingest_dedup_stream`` pattern), classification
    and bucket-peer selection are batch-local, and the unbounded dedup
    horizon lives in the parquet index (restart-proof via checkpointed
    offsets + idempotent append), not in watermark-evicted operator
    state. Classification is at LSH band level (the candidate stage of
    ``minhash_lsh_pairs``) — deterministic and SQL-replayable, which
    is what gives the streaming query a full DuckDB oracle.

    Replay safety mirrors ``_digest_ingest_upsert``: index band rows
    carry the writing ``batch_id`` and the history probe excludes the
    current batch's own rows, so a foreachBatch replay after a
    mid-commit failure (index/stats written, checkpoint not) sees the
    SAME history and reclassifies identically — the failed attempt's
    own keys never read back as history (which would flip every doc to
    n_dup_of_history and append zero survivor keys); re-appended index
    rows are exact duplicates the distinct/semi-join probes ignore;
    and the stats row lands by deterministic overwrite into its own
    ``batch=<id>`` directory, never a second contradictory append.

    ``batch_shuffle_partitions`` sizes the per-batch POST-shuffle
    exchanges (band-bucket window, classification joins) to the
    micro-batch volume; the compute-heavy shingle/minhash map side is
    explicitly ``repartition(defaultParallelism)`` and unaffected.
    Measured r7: 7.7-9.4 s → ~5.2 s per two-batch run at sf0.1.
    Same single-threaded-session contract as ``run_available_now``
    (the conf is mutated for the stream's lifetime and restored)."""
    writer = (
        docs.writeStream.foreachBatch(
            lambda batch, batch_id: _neardup_ingest_upsert(
                batch, batch_id, index_path
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    with sized_shuffle_partitions(spark, batch_shuffle_partitions):
        writer.start().awaitTermination()


def _neardup_ingest_upsert(
    batch: DataFrame, batch_id: int, index_path: str
) -> None:
    """One replay-safe micro-batch step of ``neardup_ingest_stream``
    (module-level so a replay — same batch, same ``batch_id``, run
    twice — is directly testable, like ``_digest_ingest_upsert``)."""
    from pyspark.sql import Window

    from ..operators.text_dedup import minhash_band_keys, shingles

    b_spark = batch.sparkSession
    # two measured costs collapse here (r6, 14.7 s → ~6 s steady):
    # (1) a micro-batch from a file source arrives in as few
    # partitions as it has files (often ONE), serializing the heavy
    # tokenize/shingle map side — spread it first (the groupBy would
    # shuffle these rows anyway); (2) the shingle ARRAYS must be
    # materialized before the band explosion — left lazy, the fused
    # explode re-evaluates the shingle construction per exploded row
    # (~5 s for a 4k-doc batch vs ~1 s materialized).
    spread = batch.repartition(b_spark.sparkContext.defaultParallelism)
    sh = shingles(spread).persist()
    bands = minhash_band_keys(spread, sh=sh).persist()
    hist = _index_history(
        b_spark, index_path, batch_id, BAND_INDEX_SCHEMA
    ).select("band", "band_key")
    matched_keys = (
        hist.join(
            F.broadcast(bands.select("band", "band_key").distinct()),
            ["band", "band_key"],
            "left_semi",
        )
        .distinct()
    )
    hist_hits = (
        bands.join(F.broadcast(matched_keys), ["band", "band_key"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hist_dup", F.lit(True))
    )
    bw = Window.partitionBy("band", "band_key")
    peer = (
        bands.withColumn("bmin", F.min("doc_id").over(bw))
        .groupBy("doc_id")
        .agg(F.min("bmin").alias("peer_min"))
    )
    cls = (
        batch.select("doc_id")
        .join(F.broadcast(hist_hits), "doc_id", "left")
        .join(F.broadcast(peer), "doc_id", "left")
        .withColumn("hist_dup", F.coalesce("hist_dup", F.lit(False)))
        .withColumn(
            "batch_dup",
            F.coalesce(F.col("peer_min") < F.col("doc_id"), F.lit(False)),
        )
        .persist()  # stats AND survivor-key writes both consume it;
        # without the cache the second action re-runs the hist_hits
        # and peer broadcast jobs (~1/3 of warm batch time)
    )
    stats = cls.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.count_if(F.col("hist_dup")).cast("long").alias("n_dup_of_history"),
        F.count_if(~F.col("hist_dup") & F.col("batch_dup"))
        .cast("long")
        .alias("n_dup_within_batch"),
        F.count_if(~F.col("hist_dup") & ~F.col("batch_dup"))
        .cast("long")
        .alias("n_ingested"),
    ).select(F.lit(batch_id).cast("long").alias("batch_id"), "*")
    survivors = cls.filter(~F.col("hist_dup") & ~F.col("batch_dup")).select(
        "doc_id"
    )
    fresh = (
        bands.join(F.broadcast(survivors), "doc_id", "left_semi")
        .select("band", "band_key")
        .distinct()
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
    )
    _commit_ingest_batch(stats, fresh, batch_id, index_path, BAND_INDEX_SCHEMA)
    cls.unpersist()
    bands.unpersist()
    sh.unpersist()


SESSION_TIMEOUT_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_ms", LongType()),
        StructField("session_end_ms", LongType()),
        StructField("n_events", LongType()),
    ]
)

SESSION_TIMEOUT_STATE_SCHEMA = StructType(
    [
        StructField("start", LongType()),
        StructField("last", LongType()),
        StructField("n", LongType()),
    ]
)


def timeout_sessionized_stream(events: DataFrame, gap_ms: int = 1_800_000) -> DataFrame:
    """Arbitrary-stateful sessionization with EVENT-TIME TIMERS
    (``applyInPandasWithState`` + ``EventTimeTimeout``): sessions that
    close because a LATER event arrives emit immediately inside the
    batch; the final open session per user emits when the watermark
    passes its ``last + gap`` timeout — the state never waits for a
    key's next event, which may never come. This is the timeout
    surface ``session_window`` hides and ``stateful_user_totals``
    (NoTimeout) doesn't exercise.

    All state and output values are integer epoch-millis — no float
    ever enters the session algebra, so the registry oracle replays
    the emitted set exactly inside the finality margin (timeout FIRING
    near the watermark frontier is batch-boundary-dependent, the same
    measured caveat as the outer interval join; gap-closed sessions
    are data-driven and exact everywhere).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cols = ["user_id", "session_start_ms", "session_end_ms", "n_events"]

    def update(key, pdfs, state: GroupState):
        out: list[tuple] = []
        if state.hasTimedOut:
            start, last, n = state.get
            out.append((key[0], start, last, n))
            state.remove()
        else:
            ms: list[int] = []
            for pdf in pdfs:
                if len(pdf):
                    ms.extend(
                        (
                            pdf["ts"].astype("datetime64[ns]").astype("int64")
                            // 1_000_000
                        ).tolist()
                    )
            ms.sort()
            if state.exists:
                start, last, n = state.get
            else:
                start, last, n = None, None, 0
            for t in ms:
                if last is not None and t - last > gap_ms:
                    out.append((key[0], start, last, n))
                    start, n = None, 0
                if start is None:
                    start = t
                n += 1
                last = t
            if last is not None:
                # The natural timer is last+gap+1, but in a multi-batch
                # run (maxFilesPerTrigger / incremental feed) the
                # watermark may already have passed it; Spark rejects
                # timers <= watermark ("timeout timestamp cannot be
                # earlier than watermark"). If the session is already
                # expired relative to the watermark, emit it now and
                # clear state; otherwise register the (clamped) timer.
                wm = state.getCurrentWatermarkMs()
                due = last + gap_ms + 1
                if due <= wm:
                    out.append((key[0], start, last, n))
                    if state.exists:
                        state.remove()
                else:
                    state.update((start, last, n))
                    state.setTimeoutTimestamp(max(due, wm + 1))
        yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(
            {c: pd.Series(dtype="int64") for c in cols}
        )

    ev = events.withWatermark("ts", "0 seconds").select("user_id", "ts")
    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_TIMEOUT_OUTPUT_SCHEMA,
        stateStructType=SESSION_TIMEOUT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
