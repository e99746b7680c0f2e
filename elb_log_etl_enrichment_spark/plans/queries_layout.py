"""Physical data-layout & cost-estimation tier: z-order clustering
audit, small-file compaction planning, mergeable histogram-sketch
quantile rollups, and sampled join-cardinality estimation.

The reference runs single-node pandas over whatever file layout the
ALB writer produced (elb_logs.py:104 lists and reads every object);
at 100 TB the layout itself IS the performance lever: multi-dim
clustering decides how many row groups a two-column predicate reads,
compaction decides how many S3 requests a scan issues, mergeable
sketch states decide whether a rollup reprocesses raw data, and
pre-join cardinality estimates decide whether a join is safe to
launch at all. Every query here is pure integer/identical-IEEE
arithmetic, so each one hash-matches a DuckDB oracle exactly.

Scale notes
-----------
* ``zorder_layout_audit`` quantifies what ``sinks/writers.
  write_zorder_parquet`` exploits: the Morton interleave is a narrow
  JVM expression tree (shift/mask, no UDF), the per-bucket span
  aggregate shuffles ≤64 groups per layout arm, and the domain
  bounds arrive via ONE 1-row broadcast — no global sort anywhere.
* ``compaction_binpack_plan`` windows over the FILE MANIFEST (one
  row per partition file), never the data: manifests are
  metadata-scale (≤ millions of rows where the data is 100 TB). If a
  manifest ever outgrew one reducer the cumulative sum would switch
  to the two-pass bucketed scheme used by the rank statistics
  (queries_stats._bucketed_running_sum).
* ``mergeable_histogram_quantiles`` is the incremental-rollup shape
  done right: hour-level partial states (64 fixed bins) merge to
  day level by summing counts — an algebraic merge, so a backfill
  or late partition re-merges in O(bins) without touching raw rows.
* ``join_cardinality_estimate`` prices a join before running it:
  a 1 % deterministic KEY stratum (same md5 bucketing as the
  sampling tier, so both engines pick the same keys) aggregates
  per-key counts map-side; the estimator never materializes the
  join. The full join runs here only to score the estimate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import scratch_dir
from .queries import _t, register
from .queries_sampling import hash_bucket, _sql_bucket

# --------------------------------------------------------------------------
# Z-order layout audit: Morton-curve buckets vs single-key sort buckets
# --------------------------------------------------------------------------

#: 16-bit normalized coordinates → 32-bit z-value; top 6 bits = bucket.
_Z_BITS = 16
_Z_BUCKET_SHIFT = 2 * _Z_BITS - 6  # 64 z-range buckets
_D_BUCKET_SHIFT = _Z_BITS - 6  # 64 equi-width date buckets

#: classic parallel-prefix bit spread: 16 data bits → even bit
#: positions of a 32-bit word, in 4 shift/mask rounds.
_SPREAD_ROUNDS = ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555))


def _spread16(c: Column) -> Column:
    """Spread the low 16 bits of ``c`` onto even bit positions
    (JVM shift/mask expression tree; same rounds as the SQL twin)."""
    x = c.bitwiseAND(F.lit(0xFFFF))
    for sh, mask in _SPREAD_ROUNDS:
        x = (x.bitwiseOR(F.shiftleft(x, sh))).bitwiseAND(F.lit(mask))
    return x


def _sql_spread16(expr: str) -> str:
    """DuckDB twin of :func:`_spread16` (expr should be a plain
    column reference — the text doubles per round)."""
    x = f"({expr} & 65535)"
    for sh, mask in _SPREAD_ROUNDS:
        x = f"(({x} | ({x} << {sh})) & {mask})"
    return x


@register(
    "zorder_layout_audit",
    sql=f"""
    WITH b AS (
        SELECT MIN(o_custkey) AS mn_c,
               GREATEST(MAX(o_custkey) - MIN(o_custkey), 1) AS sp_c,
               MIN(epoch_ms(o_orderdate) // 86400000) AS mn_d,
               GREATEST(MAX(epoch_ms(o_orderdate) // 86400000)
                        - MIN(epoch_ms(o_orderdate) // 86400000), 1) AS sp_d
        FROM orders
    ),
    n AS (
        SELECT o_custkey AS c,
               epoch_ms(o_orderdate) // 86400000 AS d,
               ((o_custkey - b.mn_c) * 65535) // b.sp_c AS nc,
               ((epoch_ms(o_orderdate) // 86400000 - b.mn_d) * 65535)
                   // b.sp_d AS nd
        FROM orders CROSS JOIN b
    ),
    z AS (
        SELECT c, d,
               ({_sql_spread16('nc')} | ({_sql_spread16('nd')} << 1))
                   >> {_Z_BUCKET_SHIFT} AS zb,
               nd >> {_D_BUCKET_SHIFT} AS db
        FROM n
    ),
    arm AS (
        SELECT 'zorder' AS layout, zb AS bucket, COUNT(*) AS n,
               MIN(c) AS mnc, MAX(c) AS mxc, MIN(d) AS mnd, MAX(d) AS mxd
        FROM z GROUP BY zb
        UNION ALL
        SELECT 'date_sorted', db, COUNT(*), MIN(c), MAX(c), MIN(d), MAX(d)
        FROM z GROUP BY db
    )
    SELECT arm.layout,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(arm.n) AS BIGINT) AS n_rows,
           CAST(SUM((arm.mxc - arm.mnc) * 10000 // b.sp_c) AS BIGINT)
               AS sum_cust_span_bp,
           CAST(SUM((arm.mxd - arm.mnd) * 10000 // b.sp_d) AS BIGINT)
               AS sum_date_span_bp,
           CAST(SUM((arm.mxc - arm.mnc) * 10000 // b.sp_c) // COUNT(*)
               AS BIGINT) AS avg_cust_span_bp,
           CAST(SUM((arm.mxd - arm.mnd) * 10000 // b.sp_d) // COUNT(*)
               AS BIGINT) AS avg_date_span_bp
    FROM arm CROSS JOIN b
    GROUP BY arm.layout
    ORDER BY arm.layout
    """,
    tags=("layout", "zorder", "clustering"),
)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Would z-ordering orders on (o_custkey, o_orderdate) beat the
    incumbent date-sorted layout?  Buckets rows 64 ways under each
    layout (top 6 z-bits vs top 6 normalized-date bits) and reports
    each bucket set's average min/max SPAN per dimension in basis
    points of the domain — exactly the statistic parquet row-group
    pruning keys on.  A good multi-dim layout shows small spans on
    BOTH columns; a single-key sort shows ~0 bp on its key and
    ~10000 bp (no pruning) on the other.

    All integer math (normalize → Morton spread → bucket → span),
    so the DuckDB oracle hash-matches bit for bit.  Companion to the
    physical writer ``sinks/writers.write_zorder_parquet`` (which
    uses sketch-ranked buckets for skew; the audit normalizes by
    min/max so the oracle stays exact).
    """
    o = _t(spark, sf_dir, "orders")
    day = F.expr("unix_millis(o_orderdate) div 86400000")
    b = o.agg(
        F.min("o_custkey").alias("mn_c"),
        F.greatest(
            F.max("o_custkey") - F.min("o_custkey"), F.lit(1).cast("long")
        ).alias("sp_c"),
        F.min(day).alias("mn_d"),
        F.greatest(F.max(day) - F.min(day), F.lit(1).cast("long")).alias("sp_d"),
    )
    n = o.crossJoin(F.broadcast(b)).select(
        F.col("o_custkey").alias("c"),
        day.alias("d"),
        ((F.col("o_custkey") - F.col("mn_c")) * 65535 / F.col("sp_c"))
        .cast("long")
        .alias("nc"),
        ((day - F.col("mn_d")) * 65535 / F.col("sp_d")).cast("long").alias("nd"),
        "sp_c",
        "sp_d",
    )
    z = n.select(
        "c",
        "d",
        "sp_c",
        "sp_d",
        F.shiftright(
            _spread16(F.col("nc")).bitwiseOR(
                F.shiftleft(_spread16(F.col("nd")), 1)
            ),
            _Z_BUCKET_SHIFT,
        ).alias("zb"),
        F.shiftright(F.col("nd"), _D_BUCKET_SHIFT).alias("db"),
    )

    def arm(label: str, bucket: str) -> DataFrame:
        return z.groupBy(F.col(bucket).alias("bucket")).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c").alias("mnc"),
            F.max("c").alias("mxc"),
            F.min("d").alias("mnd"),
            F.max("d").alias("mxd"),
            F.first("sp_c").alias("sp_c"),
            F.first("sp_d").alias("sp_d"),
        ).withColumn("layout", F.lit(label))

    arms = arm("zorder", "zb").unionByName(arm("date_sorted", "db"))
    cust_span = ((F.col("mxc") - F.col("mnc")) * 10000 / F.col("sp_c")).cast("long")
    date_span = ((F.col("mxd") - F.col("mnd")) * 10000 / F.col("sp_d")).cast("long")
    return (
        arms.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n").alias("n_rows"),
            F.sum(cust_span).alias("sum_cust_span_bp"),
            F.sum(date_span).alias("sum_date_span_bp"),
            (F.sum(cust_span) / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_cust_span_bp"),
            (F.sum(date_span) / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_date_span_bp"),
        )
        .orderBy("layout")
    )


# --------------------------------------------------------------------------
# Compaction planner: greedy cumulative-size bin packing over a manifest
# --------------------------------------------------------------------------

#: target compacted-file size, in rows (stand-in for bytes: the
#: planner's arithmetic is identical, only the unit changes).
_COMPACT_TARGET = 512


@register(
    "compaction_binpack_plan",
    sql=f"""
    WITH files AS (
        SELECT date_trunc('hour', ts) AS h, COUNT(*) AS sz
        FROM events GROUP BY 1
    ),
    packed AS (
        SELECT h, sz,
               (SUM(sz) OVER (ORDER BY h
                              ROWS UNBOUNDED PRECEDING) - sz)
                   // {_COMPACT_TARGET} AS bin
        FROM files
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(sz) AS BIGINT) AS total_rows,
           CAST(SUM(sz) * 10000 // {_COMPACT_TARGET} AS BIGINT) AS fill_bp,
           MIN(h) AS first_hour, MAX(h) AS last_hour
    FROM packed GROUP BY bin ORDER BY bin
    """,
    tags=("layout", "compaction", "small-files"),
)
def compaction_binpack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: treat each event HOUR as one
    ingest file (size = row count), then assign files to output bins
    by cumulative size — ``bin = cum_before // target`` — the greedy
    order-preserving coalesce Spark's own file-scan packing and
    OPTIMIZE-style compactors use.  Keeping arrival order preserved
    means each compacted file still covers a contiguous time range,
    so min/max pruning on ts survives compaction.

    The window runs over the MANIFEST (one row per file), never the
    data — see the module scale notes.  Pure integer math → exact
    DuckDB hash match.
    """
    e = _t(spark, sf_dir, "events")
    files = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    packed = files.select(
        "h",
        "sz",
        ((F.sum("sz").over(w) - F.col("sz")) / _COMPACT_TARGET)
        .cast("long")
        .alias("bin"),
    )
    return (
        packed.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("sz").alias("total_rows"),
            (F.sum("sz") * 10000 / _COMPACT_TARGET).cast("long").alias("fill_bp"),
            F.min("h").alias("first_hour"),
            F.max("h").alias("last_hour"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Mergeable histogram quantiles: hour partials → day merge → quantiles
# --------------------------------------------------------------------------

_HIST_BINS = 64


@register(
    "mergeable_histogram_quantiles",
    sql=f"""
    WITH b AS (
        SELECT MIN(value) AS lo, MAX(value) AS hi
        FROM events WHERE value IS NOT NULL
    ),
    hourly AS (  -- partial states: one histogram per hour
        SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hour,
               least(CAST(floor((value - b.lo) / (b.hi - b.lo)
                                * {_HIST_BINS}) AS BIGINT),
                     {_HIST_BINS - 1}) AS bin,
               COUNT(*) AS cnt
        FROM events CROSS JOIN b
        WHERE value IS NOT NULL AND b.hi > b.lo
        GROUP BY 1, 2, 3
    ),
    daily AS (  -- algebraic merge: sum partial counts
        SELECT day, bin, SUM(cnt) AS cnt FROM hourly GROUP BY day, bin
    ),
    cum AS (
        SELECT day, bin, cnt,
               SUM(cnt) OVER (PARTITION BY day ORDER BY bin
                              ROWS UNBOUNDED PRECEDING) AS c,
               SUM(cnt) OVER (PARTITION BY day) AS n
        FROM daily
    )
    SELECT cum.day,
           CAST(MAX(cum.n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum.c * 2 >= cum.n THEN cum.bin END)
               AS BIGINT) AS p50_bin,
           CAST(MIN(CASE WHEN cum.c * 10 >= cum.n * 9 THEN cum.bin END)
               AS BIGINT) AS p90_bin,
           ROUND(b.lo + MIN(CASE WHEN cum.c * 2 >= cum.n THEN cum.bin END)
                 * (b.hi - b.lo) / {_HIST_BINS}, 6) AS p50_edge,
           ROUND(b.lo + MIN(CASE WHEN cum.c * 10 >= cum.n * 9
                            THEN cum.bin END)
                 * (b.hi - b.lo) / {_HIST_BINS}, 6) AS p90_edge
    FROM cum CROSS JOIN b
    GROUP BY cum.day, b.lo, b.hi
    ORDER BY cum.day
    """,
    tags=("layout", "sketch", "quantile", "incremental"),
)
def mergeable_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from MERGEABLE partial states: build a fixed
    64-bin histogram per HOUR (the partial state a streaming or
    incremental job would persist), merge hour states into day
    states by summing counts (algebraic — a late/backfilled hour
    re-merges in O(bins) without rescanning the day), then read
    p50/p90 as the first bin whose cumulative count crosses the
    rank.  Bin edges derive from global min/max through the same
    IEEE expression tree in both engines (the value_drift_audit
    precedent), and the crossing rule is pure integer comparison —
    the oracle hash-matches exactly.

    At 100 TB the day-level merge touches #days × 64 rows; the
    per-day cumulative window partitions by day over ≤64 rows, so
    no global sort exists anywhere in the plan.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    hourly = (
        e.crossJoin(F.broadcast(b))
        .filter(F.col("hi") > F.col("lo"))
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * _HIST_BINS
                ).cast("long"),
                F.lit(_HIST_BINS - 1).cast("long"),
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    daily = hourly.groupBy("day", "bin").agg(F.sum("cnt").alias("cnt"))
    wc = Window.partitionBy("day").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("day")
    cum = daily.select(
        "day",
        "bin",
        "cnt",
        F.sum("cnt").over(wc).alias("c"),
        F.sum("cnt").over(wn).alias("n"),
    )
    p50_bin = F.min(F.when(F.col("c") * 2 >= F.col("n"), F.col("bin")))
    p90_bin = F.min(F.when(F.col("c") * 10 >= F.col("n") * 9, F.col("bin")))
    return (
        cum.crossJoin(F.broadcast(b))
        .groupBy("day", "lo", "hi")
        .agg(
            F.max("n").alias("n"),
            p50_bin.alias("p50_bin"),
            p90_bin.alias("p90_bin"),
            F.round(
                F.col("lo")
                + p50_bin * (F.col("hi") - F.col("lo")) / _HIST_BINS,
                6,
            ).alias("p50_edge"),
            F.round(
                F.col("lo")
                + p90_bin * (F.col("hi") - F.col("lo")) / _HIST_BINS,
                6,
            ).alias("p90_edge"),
        )
        .drop("lo", "hi")
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Join cardinality estimation: 1% deterministic key stratum
# --------------------------------------------------------------------------

#: keys whose md5 bucket (of 10,000) falls below this are sampled: 1 %.
_CARD_STRATUM_BP = 100


@register(
    "join_cardinality_estimate",
    sql=f"""
    WITH o_s AS (
        SELECT o_orderkey, COUNT(*) AS co
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND {_sql_bucket("CAST(o_orderkey AS VARCHAR)", "cardest|")}
              < {_CARD_STRATUM_BP}
        GROUP BY o_orderkey
    ),
    l_s AS (
        SELECT l_orderkey, COUNT(*) AS cl
        FROM lineitem
        WHERE {_sql_bucket("CAST(l_orderkey AS VARCHAR)", "cardest|")}
              < {_CARD_STRATUM_BP}
        GROUP BY l_orderkey
    ),
    est AS (
        SELECT COALESCE(SUM(co * cl), 0) * (10000 // {_CARD_STRATUM_BP})
            AS est_rows
        FROM o_s JOIN l_s ON o_orderkey = l_orderkey
    ),
    act AS (
        SELECT COUNT(*) AS actual_rows
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderpriority = '1-URGENT'
    )
    SELECT CAST(est.est_rows AS BIGINT) AS est_rows,
           CAST(act.actual_rows AS BIGINT) AS actual_rows,
           CAST(CASE WHEN act.actual_rows > 0
                THEN abs(est.est_rows - act.actual_rows) * 10000
                     // act.actual_rows END AS BIGINT) AS abs_err_bp
    FROM est CROSS JOIN act
    """,
    tags=("layout", "cardinality", "sampling", "cbo"),
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price a join before launching it: estimate
    |σ(orders) ⋈ lineitem| from a 1 % deterministic KEY stratum
    (md5 bucket < 100 of 10,000 — the sampling tier's portable hash,
    so Spark and DuckDB pick identical keys and the estimate itself
    hash-matches).  Sampling KEYS (not rows) keeps the per-key join
    fan-out intact, which is what row-level Bernoulli sampling gets
    wrong for join estimation; the estimator aggregates per-key
    counts map-side and joins two 1 %-sized key-count tables — it
    never materializes the real join.  The full join runs here only
    to score the estimate (abs error in basis points).

    At 100 TB: run the estimator alone (drop the scoring arm) as a
    pre-flight check; ~1 % of key groups, two pruned scans, no wide
    shuffle.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    scale = 10_000 // _CARD_STRATUM_BP
    o_s = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .filter(hash_bucket(F.col("o_orderkey"), "cardest|") < _CARD_STRATUM_BP)
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    l_s = (
        li.filter(hash_bucket(F.col("l_orderkey"), "cardest|") < _CARD_STRATUM_BP)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("cl"))
    )
    est = o_s.join(l_s, o_s.o_orderkey == l_s.l_orderkey).agg(
        (F.coalesce(F.sum(F.col("co") * F.col("cl")), F.lit(0)) * scale).alias(
            "est_rows"
        )
    )
    act = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .join(li, o.o_orderkey == li.l_orderkey)
        .agg(F.count(F.lit(1)).alias("actual_rows"))
    )
    return est.crossJoin(act).select(
        "est_rows",
        "actual_rows",
        F.when(
            F.col("actual_rows") > 0,
            # exact integer floor div — double division diverges from
            # the oracle's // once the numerator exceeds 2^53
            F.expr(
                "CAST(abs(est_rows - actual_rows) * 10000 "
                "div actual_rows AS BIGINT)"
            ),
        ).alias("abs_err_bp"),
    )


# --------------------------------------------------------------------------
# Write-audit-publish: transactional batch publish, digest-proven
# --------------------------------------------------------------------------


def _lp(expr: str) -> str:
    """DuckDB replay of ``_stable_row_digest``'s injective field
    rendering: length-prefixed value, NULL -> sentinel 'N'."""
    s = f"CAST({expr} AS VARCHAR)"
    return f"COALESCE(CAST(length({s}) AS VARCHAR) || ':' || {s}, 'N')"


@register(
    "write_audit_publish_stats",
    sql=f"""
    WITH h AS (
        SELECT ('0x' || substr(md5(concat_ws('|',
                   {_lp('o_orderkey')}, {_lp('o_custkey')},
                   {_lp('o_orderpriority')},
                   {_lp("strftime(o_orderdate, '%Y-%m-%d')")})), 1, 15))::UBIGINT
               AS rh
        FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(rh) % 9223372036854775807 AS BIGINT) AS digest_sum,
           CAST(bit_xor(rh) AS BIGINT) AS digest_xor,
           CAST(1 AS BIGINT) AS retry_noop,
           CAST(0 AS BIGINT) AS failed_audit_published
    FROM h
    """,
    tags=("layout", "sink", "wap", "transactional"),
)
def write_audit_publish_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end write-audit-publish exercise whose RESULT is the
    digest of the PUBLISHED files (not the in-memory frame): stage →
    audit-from-staged-bytes → rename-aside publish, then (a) retry
    the identical publish and require the idempotent no-op, and (b)
    attempt a publish whose audit must fail (min_rows impossible)
    into a separate target and require nothing appeared there.  The
    oracle computes the same digest straight from the source table —
    a hash match proves the staged/published round trip preserved
    every row.  The publish is ``hadoop_fs.fs_publish``, the package's
    one scheme-aware commit protocol (notes and its object-store limit
    in ``sinks/writers.write_audit_publish``).
    """
    import os

    from ..sinks.writers import AuditFailure, write_audit_publish
    from ..sinks.writers import _stable_row_digest

    base = scratch_dir("wap_", sf_dir)
    final = os.path.join(base, "published")
    rejected = os.path.join(base, "rejected")

    src = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderpriority",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        )
    )
    try:
        write_audit_publish(src, final)
        retry = write_audit_publish(src, final)
        retry_noop = 1 if (retry["noop"] and not retry["published"]) else 0
    except AuditFailure:
        # empty source (no 1-URGENT orders): nothing publishable —
        # degrade to the oracle's zero row, proofs vacuously true
        return spark.createDataFrame(
            [(0, None, None, 1, 0)],
            "n_rows long, digest_sum long, digest_xor long, "
            "retry_noop long, failed_audit_published long",
        )

    failed_published = 1
    try:
        write_audit_publish(src, rejected, min_rows=2**62)
    except AuditFailure:
        failed_published = 1 if os.path.isdir(rejected) else 0

    published = spark.read.parquet(final)
    return _stable_row_digest(published).select(
        "n_rows",
        "digest_sum",
        "digest_xor",
        F.lit(retry_noop).cast("long").alias("retry_noop"),
        F.lit(failed_published).cast("long").alias("failed_audit_published"),
    )


# --------------------------------------------------------------------------
# Parquet footer introspection: the metadata the layout tier acts on
# --------------------------------------------------------------------------


def parquet_footer_stats_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column parquet footer statistics for the lineitem table:
    row-group count, compressed/uncompressed bytes, value counts,
    min/max-statistics presence, and the compression ratio in basis
    points — the physical facts behind every layout decision this
    tier makes (row-group pruning needs min/max present; compaction
    needs real byte sizes; scan cost models need compressed bytes).

    Scale shape: the FILE MANIFEST parallelizes, not the data — each
    task opens only footers (O(KB) reads per file, never data pages)
    via a vectorized ``mapInPandas`` over the path list, so a
    100 TB table with 100k files is a 100k-row job. Footer decoding
    is a documented Python extension point (pyarrow is the footer
    parser; there is no JVM expression for file metadata).
    """
    import glob
    import os

    target = os.path.join(sf_dir, "lineitem.parquet")
    paths = (
        sorted(glob.glob(os.path.join(target, "*.parquet")))
        if os.path.isdir(target)
        else [target]
    )
    paths = [p for p in paths if os.path.exists(p)]  # totality on a
    # missing/empty table: zero manifest rows, typed empty result
    files = spark.createDataFrame([(p,) for p in paths], "path string")

    cols = [
        "column_name",
        "n_row_groups",
        "compressed_bytes",
        "uncompressed_bytes",
        "n_values",
        "n_minmax",
    ]

    def read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        out.append(
                            (
                                c.path_in_schema,
                                1,
                                c.total_compressed_size,
                                c.total_uncompressed_size,
                                c.num_values,
                                1
                                if (
                                    c.statistics is not None
                                    and c.statistics.has_min_max
                                )
                                else 0,
                            )
                        )
            yield pd.DataFrame(out, columns=cols)

    schema = (
        "column_name string, n_row_groups long, compressed_bytes long, "
        "uncompressed_bytes long, n_values long, n_minmax long"
    )
    per_rg = files.mapInPandas(read_footers, schema)
    return (
        per_rg.groupBy("column_name")
        .agg(
            F.sum("n_row_groups").alias("n_row_groups"),
            F.sum("compressed_bytes").alias("compressed_bytes"),
            F.sum("uncompressed_bytes").alias("uncompressed_bytes"),
            F.sum("n_values").alias("n_values"),
            F.sum("n_minmax").alias("n_minmax"),
        )
        .withColumn(
            "compression_ratio_bp",
            (F.col("uncompressed_bytes") * 10000 / F.col("compressed_bytes"))
            .cast("long"),
        )
        .orderBy("column_name")
    )


@register(
    "parquet_footer_stats",
    # r8 rows-only → oracle (VERDICT r07 item 5): the physical byte
    # sizes stay path-addressed (parquet_footer_stats_detail, checked
    # cell-by-cell against DuckDB parquet_metadata() in
    # tests/test_layout.py), but the footer's LOGICAL claims are
    # recomputable from the registered view alone — total row count
    # (Σ row-group num_rows == COUNT(*)), leaf-column count
    # (== DESCRIBE arity), per-column value completeness
    # (Σ num_values == rows for every flat column), and min/max
    # truthfulness (footer-aggregated min/max == data MIN/MAX for
    # every numeric column whose chunks all carry stats). The flags
    # are computed in-plan from the footer vs a real data scan, so a
    # lying footer hash-fails against the oracle's constants.
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM (DESCRIBE lineitem)) AS BIGINT)
               AS n_columns,
           CAST(1 AS BIGINT) AS values_complete_ok,
           CAST(1 AS BIGINT) AS footer_minmax_ok
    FROM lineitem
    """,
    tags=("layout", "metadata", "parquet", "audit"),
)
def parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row footer-truthfulness audit for the lineitem table: the
    parquet footer metadata (row counts, value counts, column min/max
    statistics) cross-checked against the data it describes — the
    facts row-group pruning and scan cost models silently rely on.

    Scale shape: identical to the detail query — the FILE MANIFEST
    parallelizes via ``mapInPandas`` (each task reads only O(KB)
    footers, never data pages), the data side is ONE column-pruned
    aggregate scan, and everything downstream of both is
    column-count-sized. 100k files at 100 TB = a 100k-row metadata
    job plus one agg pass.

    Manifest + footer reads assume a filesystem both driver and
    executors can open with pyarrow (local or shared mounts) — a
    schemed object-store ``sf_dir`` needs a pyarrow filesystem
    adapter not present in this container, so the manifest would
    come back empty there (documented limitation; the audit's oracle
    only ever runs against the driver's local scale dirs)."""
    import glob
    import os

    from ..sources.tables import load_table

    target = os.path.join(sf_dir, "lineitem.parquet")
    paths = (
        sorted(glob.glob(os.path.join(target, "*.parquet")))
        if os.path.isdir(target)
        else [target]
    )
    paths = [p for p in paths if os.path.exists(p)]
    files = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    )

    cc_cols = [
        "path",
        "rg",
        "rg_rows",
        "column_name",
        "n_values",
        "has_minmax",
        "stat_min",
        "stat_max",
        "is_numeric",
    ]

    def read_footers(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                pf = pq.ParquetFile(p)
                # numeric-ness from the ARROW schema, not the parquet
                # physical type: timestamps are INT64 on disk but
                # their footer min/max decode as datetimes
                arrow = pf.schema_arrow
                numeric = {
                    n
                    for n, t in zip(arrow.names, arrow.types)
                    if pa.types.is_integer(t) or pa.types.is_floating(t)
                }
                md = pf.metadata
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        is_num = 1 if c.path_in_schema in numeric else 0
                        st = c.statistics
                        has = bool(st is not None and st.has_min_max)
                        mn = float(st.min) if has and is_num else None
                        mx = float(st.max) if has and is_num else None
                        out.append(
                            (
                                p,
                                rg,
                                g.num_rows,
                                c.path_in_schema,
                                c.num_values,
                                1 if has else 0,
                                mn,
                                mx,
                                is_num,
                            )
                        )
            yield pd.DataFrame(out, columns=cc_cols)

    cc_schema = (
        "path string, rg long, rg_rows long, column_name string, "
        "n_values long, has_minmax long, stat_min double, "
        "stat_max double, is_numeric long"
    )
    per_cc = files.mapInPandas(read_footers, cc_schema).localCheckpoint()

    # total rows claimed by the footers: one num_rows per row group
    n_rows_df = (
        per_cc.groupBy("path", "rg")
        .agg(F.max("rg_rows").alias("r"))
        .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("n_rows"))
    )
    per_col = per_cc.groupBy("column_name").agg(
        F.sum("n_values").alias("col_values"),
        F.min("has_minmax").alias("all_minmax"),
        F.max("is_numeric").alias("is_numeric"),
        F.min("stat_min").alias("fmin"),
        F.max("stat_max").alias("fmax"),
    )

    # data side: one column-pruned scan for numeric MIN/MAX (only
    # when the table exists — totality on a missing path)
    num_cols = []
    if paths:
        li = load_table(spark, sf_dir, "lineitem")
        num_cols = [
            f.name
            for f in li.schema.fields
            if f.dataType.typeName()
            in ("byte", "short", "integer", "long", "float", "double")
        ]
    if num_cols and paths:
        agg = li.agg(
            *[
                F.min(c).cast("double").alias("mn_" + c)
                for c in num_cols
            ],
            *[
                F.max(c).cast("double").alias("mx_" + c)
                for c in num_cols
            ],
        )
        melt = agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column_name"),
                            F.col("mn_" + c).alias("dmin"),
                            F.col("mx_" + c).alias("dmax"),
                        )
                        for c in num_cols
                    ]
                )
            ).alias("s")
        ).select("s.*")
        joined = per_col.filter(F.col("is_numeric") == 1).join(
            F.broadcast(melt), "column_name", "inner"
        )
        # a column whose chunks don't all carry stats is SKIPPED (the
        # writer's choice, not a lie); present stats must be truthful
        minmax_df = joined.agg(
            F.coalesce(
                F.min(
                    F.when(F.col("all_minmax") == 0, F.lit(1)).otherwise(
                        (
                            F.col("fmin").eqNullSafe(F.col("dmin"))
                            & F.col("fmax").eqNullSafe(F.col("dmax"))
                        ).cast("long")
                    )
                ),
                F.lit(1),
            )
            .cast("long")
            .alias("footer_minmax_ok")
        )
    else:
        minmax_df = spark.range(1).select(
            F.lit(1).cast("long").alias("footer_minmax_ok")
        )

    summary = (
        F.broadcast(n_rows_df)
        .crossJoin(
            F.broadcast(
                per_col.agg(
                    F.count(F.lit(1)).cast("long").alias("n_columns"),
                    F.coalesce(F.min("col_values"), F.lit(0)).alias(
                        "min_vals"
                    ),
                    F.coalesce(F.max("col_values"), F.lit(0)).alias(
                        "max_vals"
                    ),
                )
            )
        )
        .crossJoin(F.broadcast(minmax_df))
    )
    return summary.select(
        "n_rows",
        "n_columns",
        (
            (F.col("min_vals") == F.col("n_rows"))
            & (F.col("max_vals") == F.col("n_rows"))
        )
        .cast("long")
        .alias("values_complete_ok"),
        "footer_minmax_ok",
    )


# --------------------------------------------------------------------------
# Streaming WAP: exactly-once micro-batch publishes, digest-proven
# --------------------------------------------------------------------------


@register(
    "streaming_wap_publish_stats",
    sql=f"""
    WITH h AS (
        SELECT ('0x' || substr(md5(concat_ws('|',
                   {_lp('event_id')}, {_lp('user_id')},
                   {_lp('event_type')}, {_lp('epoch_ms(ts)')})), 1, 15))
                   ::UBIGINT AS rh
        FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(rh) % 9223372036854775807 AS BIGINT) AS digest_sum,
           CAST(bit_xor(rh) AS BIGINT) AS digest_xor,
           CAST(1 AS BIGINT) AS restart_published_nothing,
           CAST(1 AS BIGINT) AS republish_noop
    FROM h
    """,
    tags=("streaming", "layout", "sink", "wap", "e2e"),
)
def streaming_wap_publish_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion whose SINK is the write-audit-publish
    protocol: a file-source stream over events drains with
    ``Trigger.AvailableNow`` and each micro-batch publishes
    atomically (stage → audit staged bytes → rename) into its own
    directory.  Then two exactly-once proofs run: (a) RESTART the
    stream on the same checkpoint — the source marks every file
    processed, so zero batches fire and nothing republishes; (b)
    replay batch 0's frame through WAP directly — the digest matches
    the existing publish, so it no-ops.  The result is the digest of
    ALL PUBLISHED FILES read back from disk plus the two proof flags;
    the oracle computes the same digest straight from the events
    table, so a hash match proves the stream → staged → published
    round trip lost and duplicated nothing.

    At scale this is the streaming lakehouse commit pattern: a
    foreachBatch body gets a deterministic batch_id, publishes are
    idempotent per batch_id, and a crash between audit and rename
    leaves only an abandoned staging dir (cleaned on retry).
    """
    import glob
    import os

    from ..session import ensure_engine_confs
    from ..sinks.writers import write_audit_publish, _stable_row_digest
    from ..streaming.stream import read_events_stream

    ensure_engine_confs(spark)
    base = scratch_dir("swap_", sf_dir)
    ckpt = os.path.join(base, "ckpt")
    pub_root = os.path.join(base, "published")

    def publish(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():  # an empty trigger publishes nothing
            return
        stable = batch.select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_millis("ts").alias("ms"),
        )
        write_audit_publish(stable, os.path.join(pub_root, f"batch_{batch_id}"))

    def drain() -> int:
        stream = read_events_stream(spark, sf_dir)
        q = (
            stream.writeStream.foreachBatch(publish)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(int(p.numInputRows) for p in q.recentProgress)

    drain()  # first run: every file lands and publishes
    published_dirs = sorted(glob.glob(os.path.join(pub_root, "batch_*")))

    # proof (a): restart on the same checkpoint → zero new input rows
    # and the published set is unchanged
    second_rows = drain()
    restart_ok = (
        1
        if second_rows == 0
        and sorted(glob.glob(os.path.join(pub_root, "batch_*")))
        == published_dirs
        else 0
    )

    # proof (b): WAP replay of batch 0's already-published frame no-ops
    # (vacuously true when nothing published — an empty corpus)
    replay_noop = 1
    if published_dirs:
        replayed = spark.read.parquet(published_dirs[0])
        r = write_audit_publish(replayed, published_dirs[0])
        replay_noop = 1 if (r["noop"] and not r["published"]) else 0
        digest = _stable_row_digest(
            spark.read.parquet(os.path.join(pub_root, "batch_*"))
        )
    else:
        digest = spark.createDataFrame(
            [(0, None, None)],
            "n_rows long, digest_sum long, digest_xor long",
        )
    return digest.select(
        "n_rows",
        "digest_sum",
        "digest_xor",
        F.lit(restart_ok).cast("long").alias("restart_published_nothing"),
        F.lit(replay_noop).cast("long").alias("republish_noop"),
    )
