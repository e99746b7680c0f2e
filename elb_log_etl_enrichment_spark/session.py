"""SparkSession factory and engine configuration.

Scale design notes (target: 1000-executor cluster, ~100 TB inputs):

* AQE is on: runtime shuffle-partition coalescing, skew-join splitting
  and dynamic broadcast-join conversion replace hand-tuned partition
  counts. Locally we still pin ``spark.sql.shuffle.partitions`` to the
  core count so small tests don't pay 200-partition overhead.
* Session timezone is pinned to UTC so timestamp part extraction
  (``year``/``hour``/``unix_millis``) is deterministic and matches the
  DuckDB oracle, which treats naive parquet timestamps as UTC.
* ``spark.sql.legacy.parquet.nanosAsLong`` lets us scan parquet
  TIMESTAMP(NANOS) columns (the driver's ``events`` table) as raw
  nanosecond longs; ``sources.tables`` converts them to microsecond
  timestamps, the same truncation DuckDB applies.
* Arrow is enabled for the few Pandas-UDF paths (user-agent
  classification, HTTP enrichment, multimodal plumbing). Everything
  else stays JVM-side in whole-stage codegen.
* The codegen class cache holds 1000 entries
  (``spark.sql.codegen.cache.maxEntries``; Spark's default is 100).
  This pays only when one JVM runs the pipeline or the queries two or
  more times: the benchmark's warm loop, ``bench.py``'s sweep,
  ``scripts/query_runner.py`` and the test suite. The CLI runs once
  per JVM and gains nothing; its one run compiles its ~117 classes at
  either size. One batch ``run_pipeline`` needs about 117 distinct
  generated classes and a stream tick 73 (plus 14 on a compaction
  tick). At 100, every warm batch run evicted what the next one needed
  and recompiled ~94 classes (the stream tick after a compaction 22),
  which then ran interpreted until the JIT caught up again. 1000 is
  about 8x the batch working set. It does not hold the whole registry:
  ``bench.py``'s 194-query sweep has about 1,880 distinct classes and
  compiles 2,021 at 1000 (2,903 at 100). The cache is a JVM-wide
  static, sized once from the conf of the first session that touches
  codegen in the process, so the setting only works on the builder: a
  session ``get_spark`` did not build (e.g. the driver's own, handed to
  ``queries()``) keeps the 100-entry default, and
  ``ensure_engine_confs`` cannot change it at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are safe to (re)apply to an externally provided session at
#: runtime — e.g. the driver's own SparkSession handed to ``queries()``.
#: Static confs such as the codegen cache size cannot be set at runtime,
#: so they live on the ``get_spark`` builder only.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Driver testdata stores naive timestamp[us] columns; read them as
    # session-tz (UTC) timestamps, not TIMESTAMP_NTZ, so epoch math
    # (unix_millis etc.) and the DuckDB oracle (naive-as-UTC) line up.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: casts of malformed strings yield NULL, matching the
    # reference's NaN-on-bad-input parse semantics (elb_logs.py:94-97).
    "spark.sql.ansi.enabled": "false",
}


#: applications whose session confs have already been ensured — the
#: conf loop costs ~25 ms of py4j round-trips per call and every public
#: entry point calls it, so at bench scale (hundreds of load_table
#: calls per run) the repeat applications were pure driver overhead
#: (r10, guide §1.2: fixed per-query work is part of the algorithm).
#: Keyed by applicationId: a new/restarted session is always ensured.
_ENSURED_APP_IDS: set[str] = set()


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session.

    Idempotent; called by every public entry point so the engine works
    with a SparkSession it did not create. Applied once per
    application: the engine never unsets these confs, so re-running
    the loop on every call only costs py4j round-trips. Callers that
    deliberately mutate a RUNTIME_CONF mid-session own that choice —
    the engine does not fight them (same contract as before, where the
    re-application would simply have overwritten their value).
    """
    try:
        app_id = spark.sparkContext.applicationId
        if app_id in _ENSURED_APP_IDS:
            return spark
    except Exception:  # pragma: no cover - stopped/remote session
        app_id = None
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
    try:
        # Right-size shuffles for the session we were handed: a vanilla
        # session defaults to 200 shuffle partitions, which at local/test
        # scale is pure scheduling overhead and at cluster scale is
        # usually too few. Cores-based sizing + AQE coalescing covers
        # both; skip if the user tuned it away from the default.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(max(spark.sparkContext.defaultParallelism, 8)),
            )
    except Exception:  # pragma: no cover
        pass
    if app_id is not None:
        if len(_ENSURED_APP_IDS) > 64:  # dead-app ids are just strings
            _ENSURED_APP_IDS.clear()
        _ENSURED_APP_IDS.add(app_id)
    return spark


def get_spark(
    app_name: str = "elb-log-etl-enrichment-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    The shuffle width is ``shuffle_partitions``, else
    ``SPARK_GRAFT_CPUS``, else the session's default parallelism.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus or '*'}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        # Static: sizes the JVM-wide codegen cache (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Python workers import this package by name (pickled UDFs and
    # pandas functions), so put its parent directory on their path:
    # a caller that has the package only on its own sys.path, run from
    # any other cwd, would otherwise fail inside the workers.
    conf = dict(extra_conf or {})
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (conf.get(key), pkg_parent) if p)
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        shuffle_partitions = (
            int(cpus) if cpus and cpus.isdigit()
            else spark.sparkContext.defaultParallelism
        )
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return ensure_engine_confs(spark)
