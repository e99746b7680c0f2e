"""Streaming state scale-stress (VERDICT r02 item 5).

Builds a 10x key-shifted event corpus (the near-dup tier's stress
protocol) split into 8 time-ordered files, then drives the two
stateful streaming paths with maxFilesPerTrigger=1 so the watermark
advances batch-by-batch and state must evict under pressure:

* ``timeout_sessionized_stream`` — applyInPandasWithState with
  event-time timers (sessions close via timer, state removed)
* ``view_purchase_join_stream`` (left_outer) — watermarked interval
  join (outer rows emit on watermark-driven state eviction)

Prints one JSON line per path: rows in/out, per-batch wall times, and
the state-store row/memory peaks from StreamingQueryProgress.

Run:  python scripts/streaming_stress.py [sf_dir] [n_copies]
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import tempfile
import time


def build_corpus(spark, sf_dir: str, n_copies: int, n_files: int) -> str:
    """10x key-shifted events, time-sorted, split into n_files
    sequential files (file k = time range k) so the file-source
    watermark advances monotonically across micro-batches."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.sources.tables import load_table

    base = load_table(spark, sf_dir, "events")
    n_users = base.agg(F.max("user_id")).collect()[0][0] + 1
    copies = [
        base.select(
            (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(i * n_users)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for i in range(n_copies)
    ]
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    out = tempfile.mkdtemp(prefix="stress_events_")
    # repartitionByRange on ts -> file k covers time range k; with
    # maxFilesPerTrigger=1 each batch moves the watermark forward
    big.repartitionByRange(n_files, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(out)
    return out


def drain(result, spark, name: str, mode: str) -> dict:
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    t0 = time.time()
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    batches = []
    for p in q.recentProgress:
        so = p["stateOperators"][0] if p["stateOperators"] else {}
        batches.append(
            {
                "batch": p["batchId"],
                "rows_in": p["numInputRows"],
                "batch_ms": p["batchDuration"],
                "state_rows": so.get("numRowsTotal"),
                "state_mem_bytes": so.get("memoryUsedBytes"),
            }
        )
    out_rows = spark.table(name).count()
    shutil.rmtree(ckpt, ignore_errors=True)
    return {
        "path": name,
        "wall_sec": round(wall, 2),
        "rows_out": out_rows,
        "n_batches": len(batches),
        "state_rows_peak": max((b["state_rows"] or 0) for b in batches),
        "state_mem_peak_mb": round(
            max((b["state_mem_bytes"] or 0) for b in batches) / 1e6, 2
        ),
        "batch_ms": [b["batch_ms"] for b in batches],
        "rows_in": [b["rows_in"] for b in batches],
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    from pyspark.sql import SparkSession
    from query_runner import default_cpus

    from elb_log_etl_enrichment_spark.session import ensure_engine_confs
    from elb_log_etl_enrichment_spark.streaming.stream import (
        timeout_sessionized_stream,
        view_purchase_join_stream,
    )

    cpus = default_cpus()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", cpus)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_engine_confs(spark)

    corpus = build_corpus(spark, sf_dir, n_copies, n_files=8)
    schema = spark.read.parquet(corpus).schema
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(corpus)
        )
        print(
            json.dumps(
                drain(
                    timeout_sessionized_stream(stream),
                    spark,
                    "stress_timeout_sessions",
                    "append",
                )
            )
        )
        stream2 = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(corpus)
        )
        print(
            json.dumps(
                drain(
                    view_purchase_join_stream(
                        stream2, max_gap="30 minutes", how="left_outer"
                    ),
                    spark,
                    "stress_vp_outer",
                    "append",
                )
            )
        )
    finally:
        shutil.rmtree(corpus, ignore_errors=True)


if __name__ == "__main__":
    main()
