"""Sinks (SURVEY.md §2.1 S5-S7).

Hive-partitioned parquet for the cleaned log table — the same
``y/m/d/countryCode`` layout the reference writes
(elb_logs.py:343-348) so downstream readers get partition pruning —
plus flat parquet and headered CSV for reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..hadoop_fs import (
    fs_delete, fs_publish, fs_recover, hadoop_path_exists, staging_path,
)

#: reference partition layout (elb_logs.py:346)
CLEANED_PARTITIONS = ["request_year", "request_month", "request_day", "countryCode"]


def write_cleaned_logs(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Partitioned parquet sink (S5, elb_logs.py:343-349).

    Against many tasks each dribbling a tiny file into every partition
    directory (the 100 TB "small files" killer), repartition on the
    partition columns first so each Hive partition is written by one
    task::

        write_cleaned_logs(df.repartition(*CLEANED_PARTITIONS), path)
    """
    df.write.mode(mode).partitionBy(*CLEANED_PARTITIONS).parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Flat parquet sink (S6, elb_logs.py:367)."""
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Headered CSV sink (S7, elb_logs.py:377,391)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink — the co-location primitive for
    100 TB fact tables the reference has no analog of: two tables
    bucketed on the same key join WITHOUT a shuffle exchange (Spark
    reads bucket i of each side into the same task). Bucket count
    should be sized so one bucket of the larger table fits an executor
    (e.g. 100 TB / 4096 buckets ≈ 25 GB/bucket)."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — the interchange format for downstream
    training-data tooling; one object per line, gzip-friendly,
    schema-on-read."""
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — second columnar format for engines that prefer ORC
    readers; same predicate-pushdown / column-pruning behavior as the
    parquet sink."""
    df.write.mode(mode).orc(path)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    mode: str = "overwrite",
    num_files: int | None = None,
) -> None:
    """Range-partitioned, within-file-sorted parquet — the layout that
    makes parquet min/max row-group statistics selective: a reader's
    range predicate on ``sort_cols`` prunes whole files (disjoint
    ranges) and then row groups (sorted within file). At 100 TB this
    is the difference between scanning everything and touching the few
    files whose [min,max] overlap the predicate."""
    parts = df.repartitionByRange(*(
        [num_files] if num_files else []
    ), *sort_cols)
    parts.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def _morton_interleave(a, b, bits: int = 16):
    """Bit-interleave two non-negative int columns into one z-value
    (JVM-side shift/mask expression tree, no UDF)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        bit_a = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(bit_a, 2 * i)).bitwiseOR(
            F.shiftleft(bit_b, 2 * i + 1)
        )
    return z


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    mode: str = "overwrite",
    num_files: int | None = None,
    bits: int = 8,
) -> None:
    """Z-order (Morton-curve) clustered parquet over TWO columns.

    ``write_sorted_parquet`` makes ONE column's min/max statistics
    selective; interleaving the quantile-bucket RANKS of two columns
    makes BOTH selective at once — each file covers a small square in
    rank space, so a range predicate on either column prunes most
    files. Quantile buckets (not raw values) keep the curve balanced
    under skewed distributions.

    Scale shape: bucket boundaries come from ONE ``percentile_approx``
    aggregate (mergeable sketch, map-side combined) collected to the
    driver and re-embedded as literals — no global sort, no window;
    the bucketize step is a narrow expression, and the only shuffle is
    the final range partition on the z-value.
    """
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.select(
        F.percentile_approx(F.col(col_a).cast("double"), qs, 10_000).alias("ca"),
        F.percentile_approx(F.col(col_b).cast("double"), qs, 10_000).alias("cb"),
    ).collect()[0]
    if cuts["ca"] is None or cuts["cb"] is None:
        # empty frame or an all-NULL z-order column: no quantiles
        # exist, so there is nothing to cluster — write as-is instead
        # of crashing on `for b in None` (code-review r05 finding;
        # matches write_sorted_parquet's behavior on the same input)
        df.write.mode(mode).parquet(path)
        return

    def bucketize(col, boundaries):
        arr = F.array(*[F.lit(float(b)) for b in boundaries])
        # sorted boundaries: rank = how many cut points lie at/below x
        return F.size(F.filter(arr, lambda b: b <= col))

    ranked = df.withColumn(
        "_ra", bucketize(F.col(col_a).cast("double"), cuts["ca"])
    ).withColumn("_rb", bucketize(F.col(col_b).cast("double"), cuts["cb"]))
    z = _morton_interleave(F.col("_ra"), F.col("_rb"), bits)
    parts = ranked.withColumn("_z", z).repartitionByRange(
        *([num_files] if num_files else []), "_z"
    )
    (
        parts.sortWithinPartitions("_z")
        .drop("_ra", "_rb", "_z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark,
    src_dir: str,
    dest_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    mode: str = "overwrite",
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ⌈total_bytes / target⌉ files and return that file count.

    The small-files problem is the classic failure mode of the
    reference's cron loop at scale (one output file per 2-minute tick
    → millions of tiny objects whose per-file open/footer cost
    dominates the scan). Compaction sizes output files from the
    ACTUAL on-disk byte size — not row counts, which mispredict badly
    across compression ratios. repartition (not coalesce) so the
    rewrite redistributes evenly: coalesce would glue existing tiny
    files into skewed unions and, fused upstream, can silently shrink
    the parallelism of the whole read stage.

    Sizes are resolved through the Hadoop FileSystem API so any Spark
    path scheme works (local, s3a, hdfs); finding zero parquet bytes
    raises instead of silently compacting "everything" into 1 file."""
    import math

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        status = it.next()
        if status.getPath().getName().endswith(".parquet"):
            total += status.getLen()
    if total == 0:
        raise ValueError(
            f"compact_parquet: no parquet bytes found under {src_dir!r} "
            "(wrong path, or an empty/non-parquet directory)"
        )
    n_files = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(src_dir).repartition(n_files).write.mode(mode).parquet(
        dest_dir
    )
    return n_files


def read_with_schema_evolution(spark, *paths: str):
    """Read parquet directories whose schemas drifted across
    generations (columns added/dropped over time — exactly what a
    long-lived partitioned sink accumulates).

    ``mergeSchema`` makes the scan reconcile footers into the union
    schema; files missing a column yield NULLs for it. Column
    TYPE conflicts still fail fast (correct — silent coercion hides
    data bugs). One scan, normal pushdown/pruning on the union
    schema."""
    return spark.read.option("mergeSchema", True).parquet(*paths)


# --------------------------------------------------------------------------
# Write-audit-publish (WAP): transactional publish for batch sinks
# --------------------------------------------------------------------------


class AuditFailure(RuntimeError):
    """Raised when a staged write fails its audit; nothing publishes."""


def _stable_row_digest(df: DataFrame):
    """(n_rows, digest_sum, digest_xor) over ALL columns rendered as
    strings — same 60-bit md5-prefix SUM/XOR fold as
    ``plans/queries_profiling.table_content_digest`` (associative +
    commutative → order- and partitioning-independent). Callers must
    project STABLE columns first (no raw doubles: their text
    rendering is engine-specific).

    Rendering is INJECTIVE per row (code-review r05): each field is
    length-prefixed (``len:value``) and NULL renders as the sentinel
    ``N`` (no valid encoding starts with a non-digit), because a bare
    ``concat_ws('|')`` both SKIPS nulls — ('GET', NULL, '200') and
    ('GET', '200', NULL) would alias — and lets a '|' inside a value
    alias a field boundary, so two different tables could digest-equal
    and a real change publish as a no-op."""
    rendered = []
    for c in df.columns:
        s = F.col(c).cast("string")
        rendered.append(
            F.coalesce(
                F.concat(F.length(s).cast("string"), F.lit(":"), s),
                F.lit("N"),
            )
        )
    row_str = F.concat_ws("|", *rendered)
    rh = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("decimal(20,0)")
    return df.select(rh.alias("rh")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum("rh") % F.lit(9223372036854775807)).cast("long").alias("digest_sum"),
        F.bit_xor(F.col("rh").cast("long")).alias("digest_xor"),
    )


def write_audit_publish(
    df: DataFrame,
    final_dir: str,
    min_rows: int = 1,
) -> dict:
    """Write-audit-publish: stage → audit the RE-READ bytes → publish
    atomically. The pattern every 100 TB batch pipeline needs and the
    reference's direct ``to_parquet`` lacks (elb_logs.py:343 — a
    half-written crash leaves a partial table readers can see):

    1. WRITE the frame to a staging directory next to the target.
    2. AUDIT by re-reading the staged files (catches truncated/corrupt
       writes, not just logical errors): row count >= ``min_rows``,
       and a content digest computed FROM THE STAGED BYTES.
    3. PUBLISH by ``hadoop_fs.fs_publish`` — the package's one
       rename-aside protocol, on the Hadoop FS API so any scheme
       works. A fresh publish is one rename; a replace renames the
       old table aside (``._old``), renames staging in, then deletes
       the retired copy — readers never see a mix, the not-found
       window is two renames (not an O(table) delete), and a crash at
       ANY point loses nothing: the next call's ``fs_recover`` rolls
       an orphaned ``._old`` back (or GCs a superseded one) and
       deletes abandoned staging before it writes. Rename is not
       atomic on object stores, so an outside reader can still see
       that two-rename not-found window; a production table would
       publish by a metastore/table-format pointer swap (Iceberg and
       Delta commit protocols are this same pattern).

    Idempotent retry: if ``final_dir`` already holds data whose digest
    equals the staged digest, the publish is a no-op (``published:
    False, noop: True``) — re-running a crashed-after-publish job
    cannot double-write.

    Returns ``{"n_rows", "digest_sum", "digest_xor", "published",
    "noop"}``. Raises :class:`AuditFailure` (staging removed, target
    untouched) when the audit fails.
    """
    spark = df.sparkSession
    staging = staging_path(final_dir)
    fs_recover(spark, final_dir)
    df.write.mode("overwrite").parquet(staging)

    staged = spark.read.parquet(staging)
    audit = _stable_row_digest(staged).collect()[0]
    if audit.n_rows < min_rows:
        fs_delete(spark, staging)
        raise AuditFailure(
            f"staged write has {audit.n_rows} rows < min_rows={min_rows}; "
            "nothing published"
        )

    digest = (audit.n_rows, audit.digest_sum, audit.digest_xor)
    noop = hadoop_path_exists(spark, final_dir) and digest == tuple(
        _stable_row_digest(spark.read.parquet(final_dir)).collect()[0]
    )
    if noop:
        fs_delete(spark, staging)
    else:
        fs_publish(spark, final_dir)
    return {
        "n_rows": audit.n_rows,
        "digest_sum": audit.digest_sum,
        "digest_xor": audit.digest_xor,
        "published": not noop,
        "noop": noop,
    }
