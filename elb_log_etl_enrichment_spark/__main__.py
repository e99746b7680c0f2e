"""CLI entry point: ``python -m elb_log_etl_enrichment_spark``.

Mirrors the reference's cron contract (``python elb_logs.py``,
reference Dockerfile:26 + README.md:20): environment-configured, one
shot per invocation, safe to re-run on a schedule. Unlike the
reference, a scheduled re-run does NOT re-read the whole prefix —
``ELB_MODE=stream`` (default) uses the checkpointed file source, so
each log object is processed exactly once across invocations.

Environment:
    ELB_LOGS_PATH      input glob (``file:`` or ``s3a://``), required
    ELB_OUTPUT_DIR     output root, required
    ELB_GEO_CACHE      geo cache parquet path
                       (default: <output>/ip_geolocation_cache.parquet)
    ELB_GEO_TRANSPORT  ``fake`` (default, offline-deterministic) or
                       ``http`` (live ip-api.com, rate-limited)
    ELB_MODE           ``stream`` (default, incremental) or ``batch``
                       (reference-equivalent full run with all 4 sinks)
"""

from __future__ import annotations

import json
import os
import sys


def main() -> int:
    logs = os.environ.get("ELB_LOGS_PATH")
    out = os.environ.get("ELB_OUTPUT_DIR")
    if not logs or not out:
        print(
            "usage: ELB_LOGS_PATH=<glob> ELB_OUTPUT_DIR=<dir> "
            "python -m elb_log_etl_enrichment_spark",
            file=sys.stderr,
        )
        return 2

    from .session import get_spark
    from .sources import http_geo

    transport = os.environ.get("ELB_GEO_TRANSPORT", "fake")
    fetch_fn = http_geo.http_fetch if transport == "http" else http_geo.fake_fetch
    cache = os.environ.get("ELB_GEO_CACHE") or os.path.join(
        out, "ip_geolocation_cache.parquet"
    )
    mode = os.environ.get("ELB_MODE", "stream")

    spark = get_spark(app_name=f"elb-etl-{mode}")
    spark.sparkContext.setLogLevel("WARN")
    try:
        if mode == "batch":
            from .plans.pipeline import run_pipeline

            frames = run_pipeline(spark, logs, out, geo_cache_path=cache, fetch_fn=fetch_fn)
            summary = {
                "mode": mode,
                "rows": frames["enriched"].count(),
                "hourly_groups": frames["hourly"].count(),
                "output_dir": out,
            }
        else:
            from .hadoop_fs import hadoop_path_exists
            from .streaming.elb_stream import stream_elb_pipeline

            stream_elb_pipeline(spark, logs, out, geo_cache_path=cache, fetch_fn=fetch_fn)
            cleaned = os.path.join(out, "cleaned_logs")
            rows = (
                spark.read.parquet(cleaned).count()
                if hadoop_path_exists(spark, cleaned)
                else 0
            )
            summary = {"mode": mode, "rows_total": rows, "output_dir": out}
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
