"""Composed-pipeline streaming scale-stress (round 5).

``streaming_elb_pipeline_hourly`` proves CORRECTNESS (batch/stream
parity on the fixture corpus); this script proves the SCALE shape of
the same path: the reference's cron cadence run as 8 ticks, each
landing ONE new gzip "S3 object" ~10x a fixture day (~630 lines,
mixed statuses/agents/garbage), then `stream_elb_pipeline` drains it
with checkpointed exactly-once file tracking. Per-tick we record wall
time and the cleaned-sink row delta; a final idle tick (no new file)
must process nothing.

What flat per-tick walls demonstrate: per-tick cost is O(new file),
not O(history) — the reference re-reads the whole prefix every tick
(elb_logs.py:402, 100% read amplification), so its tick cost grows
linearly with corpus age while this stays constant. The geo cache
grows across ticks (each tick brings ~1/3 new IPs) and the enrichment
join probes it broadcast-side.

Run:  python scripts/elb_stream_stress.py [scale] [ticks]
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime, timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def tick_lines(tick: int, scale: int) -> list[str]:
    """One tick's log object: `scale` x a fixture-day grid. ~1/3 of
    IPs repeat from earlier ticks (cache hits), the rest are new
    (anti-join fetch path); plus filtered health checks and dropped
    garbage so every parser branch stays hot."""
    from elb_log_etl_enrichment_spark.sources.alb_fixtures import UAS, make_line

    base = datetime(2025, 6, 1) + timedelta(days=tick)
    statuses = [200, 200, 301, 404, 500, 200, 503, 200]
    ua_cycle = ["browser", "browser", "bot", "curl", "browser"]
    lines: list[str] = []
    for s in range(scale):
        for hour in (0, 6, 9, 12, 15, 18, 21):
            for u in range(3):
                # u==0 reuses a stable IP across ticks; others are new
                ip = (
                    f"30.0.{hour}.{u}" if u == 0
                    else f"30.{tick + 1}.{hour}.{s * 3 + u}"
                )
                for r in range(2 + (hour + u + s) % 3):
                    k = tick + hour + u + r + s
                    lines.append(
                        make_line(
                            base + timedelta(hours=hour, minutes=3 * r, seconds=s),
                            ip,
                            status=statuses[k % len(statuses)],
                            ua=UAS[ua_cycle[(u + r) % len(ua_cycle)]],
                            path=f"/api/v{1 + k % 3}/x{k % 5}",
                            rpt="-" if k % 11 == 0 else "0.002",
                        )
                    )
    lines.append(make_line(base, "10.0.9.9", ua=UAS["healthcheck"]))
    lines.append(f"garbage tick {tick}")
    return lines


def main() -> None:
    scale = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    ticks = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from elb_log_etl_enrichment_spark.session import get_spark
    from elb_log_etl_enrichment_spark.streaming.elb_stream import (
        stream_elb_pipeline,
    )

    spark = get_spark(app_name="elb-stream-stress")
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="elb_stream_stress_")
    try:
        logs = os.path.join(base, "logs")
        out = os.path.join(base, "out")
        os.makedirs(logs)

        def cleaned_count() -> int:
            files = glob.glob(
                os.path.join(out, "cleaned_logs", "**", "*.parquet"), recursive=True
            )
            if not files:
                return 0
            return spark.read.parquet(os.path.join(out, "cleaned_logs")).count()

        report = []
        prev = 0
        for tick in range(ticks):
            lines = tick_lines(tick, scale)
            with gzip.open(os.path.join(logs, f"t{tick}.log.gz"), "wt") as f:
                f.write("\n".join(lines) + "\n")
            t0 = time.perf_counter()
            # tick-sized batches: the r7 per-batch shuffle sizing knob in
            # its production (cron-cadence) shape
            stream_elb_pipeline(
                spark, os.path.join(logs, "*.gz"), out,
                batch_shuffle_partitions=4,
            )
            wall = round(time.perf_counter() - t0, 2)
            n = cleaned_count()
            report.append(
                {"tick": tick, "lines_in": len(lines), "new_rows": n - prev, "wall_s": wall}
            )
            prev = n
            print(json.dumps(report[-1]), flush=True)

        # idle tick: nothing new landed -> exactly-once means zero work
        t0 = time.perf_counter()
        stream_elb_pipeline(
            spark, os.path.join(logs, "*.gz"), out, batch_shuffle_partitions=4
        )
        idle = {
            "tick": "idle",
            "new_rows": cleaned_count() - prev,
            "wall_s": round(time.perf_counter() - t0, 2),
        }
        print(json.dumps(idle), flush=True)
        cache = spark.read.parquet(
            os.path.join(out, "ip_geolocation_cache.parquet")
        )
        print(
            json.dumps(
                {
                    "total_cleaned": prev,
                    "geo_cache_ips": cache.count(),
                    "walls": [r["wall_s"] for r in report],
                    "idle_wall_s": idle["wall_s"],
                    "idle_new_rows": idle["new_rows"],
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
