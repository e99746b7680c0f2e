"""Sink tests: bucketed tables must join shuffle-free on the bucket
key (the co-located-join contract write_bucketed promises)."""

from __future__ import annotations

from pyspark.sql import functions as F

from elb_log_etl_enrichment_spark.sinks.writers import write_bucketed
from elb_log_etl_enrichment_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_partitioned_sink_enables_partition_pruning(spark, tmp_path):
    """Reading the hive-partitioned cleaned-logs layout with a
    partition-key filter must prune at the file index (S5's purpose,
    elb_logs.py:344-348)."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.sinks.writers import write_cleaned_logs

    events = load_table(spark, SF_DIR, "events")
    fake = events.select(
        F.year("ts").alias("request_year"),
        F.month("ts").alias("request_month"),
        F.dayofmonth("ts").alias("request_day"),
        (F.col("user_id") % 3).cast("string").alias("countryCode"),
        "event_id",
    )
    path = str(tmp_path / "cleaned")
    write_cleaned_logs(fake, path)
    back = spark.read.parquet(path).filter(
        (F.col("countryCode") == "1") & (F.col("request_day") == 3)
    )
    plan = back._jdf.queryExecution().executedPlan().treeString()
    assert "PartitionFilters: [" in plan and "countryCode" in plan.split("PartitionFilters")[1][:200]
    rows = back.select("event_id").collect()
    assert rows and all(True for _ in rows)


def test_bucketed_join_has_no_shuffle(spark):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        orders = load_table(spark, SF_DIR, "orders")
        lineitem = load_table(spark, SF_DIR, "lineitem")
        write_bucketed(orders, "orders_b", ["o_orderkey"], n_buckets=8)
        write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "lineitem_b", ["o_orderkey"], n_buckets=8,
        )
        joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().treeString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:2000]}"
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_json_sink_round_trip(spark, tmp_path):
    from elb_log_etl_enrichment_spark.sinks.writers import write_json

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None)], "id long, s string, v double"
    )
    path = str(tmp_path / "out_json")
    write_json(df, path)
    back = spark.read.json(path, schema=df.schema)
    assert sorted(back.collect()) == sorted(df.collect())


def test_orc_sink_round_trip_with_pruning(spark, tmp_path):
    from elb_log_etl_enrichment_spark.sinks.writers import write_orc

    df = spark.range(1000).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE) AS v")
    path = str(tmp_path / "out_orc")
    write_orc(df, path)
    back = spark.read.orc(path).filter("k = 3").select("id")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == df.filter("id % 7 = 3").count()
    # filter reaches the ORC scan; projection prunes to the 2 used cols
    assert "PushedFilters: [" in plan and "k" in plan.split("PushedFilters")[1][:80]


def test_max_records_per_file_rolls_files(spark, tmp_path):
    """maxRecordsPerFile caps parquet file size (the write-side half of
    small-file/giant-file control; the read side is
    spark.sql.files.maxPartitionBytes)."""
    import glob

    from elb_log_etl_enrichment_spark.sinks.writers import write_parquet

    df = spark.range(1000).coalesce(1)
    out = str(tmp_path / "capped")
    write_parquet(df, out, max_records_per_file=100)
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) == 10

    out2 = str(tmp_path / "uncapped")
    write_parquet(df, out2)
    assert len(glob.glob(out2 + "/part-*.parquet")) == 1


def test_sorted_parquet_layout_enables_pruning(spark, tmp_path):
    """Range-partitioned sorted write: files hold disjoint sorted key
    ranges, so parquet min/max stats prune files for range predicates."""
    import glob

    import pyarrow.parquet as pq

    from elb_log_etl_enrichment_spark.sinks.writers import write_sorted_parquet

    df = spark.range(10_000).selectExpr("id", "id % 97 AS v")
    out = str(tmp_path / "sorted")
    write_sorted_parquet(df, out, ["id"], num_files=4)
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            col = meta.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        # sorted within file → row-group ranges are non-overlapping
        assert all(maxs[i] < mins[i + 1] for i in range(len(mins) - 1))
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # disjoint ranges across files → file-level pruning is possible
    assert all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))


def test_zorder_layout_bounds_both_columns(spark, tmp_path):
    """Z-order clustering: every file covers a small rectangle in
    (a, b) space, so min/max file stats prune on EITHER column — the
    property a single-column sort cannot give."""
    import glob

    import pyarrow.parquet as pq

    from elb_log_etl_enrichment_spark.sinks.writers import write_zorder_parquet

    # two independent uniform dimensions (decorrelated via multiplic-
    # ative hashing) — single-column sorts leave the other unbounded
    df = spark.range(40_000).selectExpr(
        "id % 200 AS a", "CAST((id * 2654435761) % 200 AS LONG) AS b"
    )
    out = str(tmp_path / "zorder")
    n_files = 16
    write_zorder_parquet(df, out, "a", "b", num_files=n_files)
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == n_files

    spans_a, spans_b = [], []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        names = [meta.schema.column(i).name for i in range(meta.num_columns)]
        stats = {}
        for name in ("a", "b"):
            i = names.index(name)
            mins = [meta.row_group(rg).column(i).statistics.min for rg in range(meta.num_row_groups)]
            maxs = [meta.row_group(rg).column(i).statistics.max for rg in range(meta.num_row_groups)]
            stats[name] = (min(mins), max(maxs))
        spans_a.append(stats["a"][1] - stats["a"][0])
        spans_b.append(stats["b"][1] - stats["b"][0])

    # with 16 files a perfect z-curve gives ~quarter-range spans per
    # file on each dimension; a single-column sort gives full range
    # (~199) on the other column. Assert both dimensions are bounded.
    assert sum(spans_a) / len(spans_a) < 120
    assert sum(spans_b) / len(spans_b) < 120

    # and the data survives the round trip intact
    back = spark.read.parquet(out)
    assert back.count() == 40_000
    assert back.selectExpr("sum(a)", "sum(b)").collect() == df.selectExpr(
        "sum(a)", "sum(b)"
    ).collect()


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from elb_log_etl_enrichment_spark.sinks.writers import compact_parquet

    src = str(tmp_path / "small")
    dest = str(tmp_path / "compact")
    df = spark.range(0, 20000).withColumn("payload", F.md5(F.col("id").cast("string")))
    df.repartition(64).write.parquet(src)  # simulate 64 tiny tick files
    import os
    n_src = sum(f.endswith(".parquet") for f in os.listdir(src))
    assert n_src == 64
    n_target = compact_parquet(spark, src, dest, target_file_bytes=1 << 40)
    assert n_target == 1
    n_dest = sum(f.endswith(".parquet") for f in os.listdir(dest))
    assert n_dest == 1
    assert spark.read.parquet(dest).count() == 20000
    # content survives byte-identical under a sort-insensitive digest
    a = spark.read.parquet(src).agg(F.sum(F.crc32(F.col("payload")))).first()[0]
    b = spark.read.parquet(dest).agg(F.sum(F.crc32(F.col("payload")))).first()[0]
    assert a == b


def test_schema_evolution_read_fills_missing_columns(spark, tmp_path):
    from elb_log_etl_enrichment_spark.sinks.writers import read_with_schema_evolution

    old = str(tmp_path / "gen1")
    new = str(tmp_path / "gen2")
    spark.createDataFrame([(1, "a")], "id long, legacy string").write.parquet(old)
    spark.createDataFrame([(2, 9.5)], "id long, added double").write.parquet(new)
    merged = read_with_schema_evolution(spark, old, new)
    assert set(merged.columns) == {"id", "legacy", "added"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].legacy == "a" and rows[1].added is None
    assert rows[2].legacy is None and rows[2].added == 9.5


def test_compact_parquet_raises_on_zero_bytes(spark, tmp_path):
    import os

    import pytest

    from elb_log_etl_enrichment_spark.sinks.writers import compact_parquet

    empty = str(tmp_path / "empty_src")
    os.makedirs(empty, exist_ok=True)
    with pytest.raises(Exception):
        compact_parquet(spark, empty, str(tmp_path / "dest"))


def test_ignore_corrupt_files_skips_bad_parquet(spark, tmp_path):
    """Operational resilience: a truncated/garbage parquet file inside
    a table directory fails the whole 100 TB scan by default; with
    spark.sql.files.ignoreCorruptFiles the read degrades to the
    healthy files. Pin both behaviors so the recovery knob is known
    to work before it is needed."""
    import pytest

    d = f"{tmp_path}/t"
    spark.createDataFrame([(i,) for i in range(10)], "x long").coalesce(1)\
        .write.parquet(d)
    with open(f"{d}/part-corrupt.parquet", "wb") as fh:
        fh.write(b"PAR1 this is not a real parquet footer")
    with pytest.raises(Exception):
        spark.read.parquet(d).count()
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        assert spark.read.parquet(d).count() == 10
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")


def test_bucketed_join_plans_without_exchange(spark):
    """The co-bucketed orders x lineitem join must read both sides as
    bucketed scans and plan a SortMergeJoin with NO Exchange — the
    entire point of paying the bucketed write. Also pin that the
    result matches the plain parquet join (layout, not answer)."""
    from elb_log_etl_enrichment_spark.plans.queries_ext import (
        bucketed_join_frame,
    )

    sf = "/root/testdata/sf0.001"
    j = bucketed_join_frame(spark, sf)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan

    from elb_log_etl_enrichment_spark.sources.tables import load_table

    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    expect = o.join(li, o.o_orderkey == li.l_orderkey).count()
    assert j.count() == expect


def test_write_audit_publish_lifecycle(spark, tmp_path):
    """WAP: publish, idempotent retry, real-change replace, and a
    failed audit that must leave the target untouched."""
    import os

    import pytest as _pytest

    from elb_log_etl_enrichment_spark.sinks.writers import (
        AuditFailure,
        write_audit_publish,
    )

    final = str(tmp_path / "t")
    df1 = spark.range(10).withColumnRenamed("id", "k")

    r1 = write_audit_publish(df1, final)
    assert r1["published"] and not r1["noop"] and r1["n_rows"] == 10

    # retry with identical data → no-op, same digest
    r2 = write_audit_publish(df1, final)
    assert r2["noop"] and not r2["published"]
    assert (r2["digest_sum"], r2["digest_xor"]) == (
        r1["digest_sum"],
        r1["digest_xor"],
    )

    # changed data → replaces atomically
    df2 = spark.range(20).withColumnRenamed("id", "k")
    r3 = write_audit_publish(df2, final)
    assert r3["published"] and r3["n_rows"] == 20
    assert spark.read.parquet(final).count() == 20

    # failing audit → raises, target still holds the old publish,
    # staging cleaned up
    with _pytest.raises(AuditFailure):
        write_audit_publish(df1, final, min_rows=100)
    assert spark.read.parquet(final).count() == 20
    assert not os.path.isdir(final + "._staging")

    # failing audit against a fresh target → nothing appears at all
    with _pytest.raises(AuditFailure):
        write_audit_publish(df1, str(tmp_path / "never"), min_rows=100)
    assert not os.path.isdir(str(tmp_path / "never"))


def test_ignore_corrupt_files_reads_valid_subset(spark, tmp_path):
    """Operational totality at scale: one corrupt object among
    thousands must not kill the scan. With ignoreCorruptFiles the
    reader returns every row from the intact files; without it the
    scan fails fast (the default, so corruption can't silently pass
    in pipelines that want strictness)."""
    import glob

    import pytest as _pytest

    d = str(tmp_path / "t")
    spark.range(100).write.parquet(d)
    # drop a half-truncated "parquet" file into the directory
    victim = sorted(glob.glob(f"{d}/part-*.parquet"))[0]
    with open(victim, "rb") as f:
        data = f.read()
    with open(f"{d}/part-corrupt.parquet", "wb") as f:
        f.write(data[: len(data) // 2])  # truncated: valid magic, no footer

    ok = (
        spark.read.option("ignoreCorruptFiles", "true").parquet(d).count()
    )
    assert ok == 100

    with _pytest.raises(Exception):
        spark.read.option("ignoreCorruptFiles", "false").parquet(d).count()


def test_zorder_writes_empty_and_all_null_frames(spark, tmp_path):
    """Code-review r05: percentile_approx over zero non-NULL values
    returns NULL cuts; the writer must degrade to a plain write (like
    write_sorted_parquet) instead of crashing on `for b in None`."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.sinks.writers import write_zorder_parquet

    empty = spark.range(0).select(
        F.col("id").alias("a"), F.col("id").alias("b")
    )
    out1 = str(tmp_path / "z_empty")
    write_zorder_parquet(empty, out1, "a", "b")
    assert spark.read.parquet(out1).count() == 0

    all_null = spark.range(5).select(
        F.lit(None).cast("double").alias("a"), F.col("id").alias("b")
    )
    out2 = str(tmp_path / "z_null")
    write_zorder_parquet(all_null, out2, "a", "b")
    assert spark.read.parquet(out2).count() == 5


def test_orphan_bucketed_layouts_are_removed(tmp_path):
    """A persisted co-bucketed layout whose recorded source corpus is
    gone can never be reused, so the next layout write removes it.
    Layouts of a live corpus, of a remote URI or without a record
    stay, and so does anything not named like a layout."""
    from elb_log_etl_enrichment_spark.plans.queries_ext import (
        _remove_orphan_layouts,
    )

    corpus = tmp_path / "corpus"
    corpus.mkdir()

    def layout(name, source):
        d = tmp_path / f"spark_graft_bucketed_{name}"
        (d / "bj_orders_x").mkdir(parents=True)
        (d / "_FINGERPRINT").write_text("fp")
        if source is not None:
            (d / "_SOURCE").write_text(source)
        return d

    live = layout("live", str(corpus))
    gone = layout("gone", str(tmp_path / "deleted_corpus"))
    unrecorded = layout("unrecorded", None)
    remote = layout("remote", "s3a://bucket/sf1")
    other = tmp_path / "not_a_layout"
    other.mkdir()
    (other / "_SOURCE").write_text(str(tmp_path / "deleted_corpus"))

    _remove_orphan_layouts(str(tmp_path))
    assert not gone.exists()
    assert live.is_dir() and unrecorded.is_dir() and remote.is_dir()
    assert other.is_dir() and corpus.is_dir()


def test_bucketed_layout_persists_and_invalidates(spark, tmp_path):
    """r7: the co-bucketed join layout is a persisted artifact —
    reused across sessions while the source fingerprint matches
    (DDL-only re-register, no rewrite), rewritten the moment a source
    file changes (a stale layout would serve wrong rows)."""
    import os
    import shutil
    import time as _time

    from elb_log_etl_enrichment_spark.plans import queries_ext as qe

    src = tmp_path / "sf"
    src.mkdir()
    for t in ("orders", "lineitem"):
        shutil.copytree(
            f"/root/testdata/sf0.001/{t}.parquet", src / f"{t}.parquet"
        ) if os.path.isdir(f"/root/testdata/sf0.001/{t}.parquet") else shutil.copy(
            f"/root/testdata/sf0.001/{t}.parquet", src / f"{t}.parquet"
        )
    sf_dir = str(src)

    def bucket_file_mtimes():
        import hashlib

        sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        base = os.path.join("/tmp", f"spark_graft_bucketed_{sfx}")
        out = {}
        for root, _, files in os.walk(base):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
        return base, out

    def reset_session_state():
        qe._BUCKET_DIRS.pop(sf_dir, None)
        for t in spark.catalog.listTables():
            if t.name.startswith("bj_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")

    t_o, t_l = qe._bucketed_tables(spark, sf_dir)
    n1 = spark.table(t_l).count()
    base, m1 = bucket_file_mtimes()
    assert n1 > 0 and m1
    with open(os.path.join(base, "_SOURCE"), encoding="utf-8") as fh:
        assert fh.read() == os.path.abspath(sf_dir)

    # fresh "session": same sources -> DDL-only reuse, files untouched
    reset_session_state()
    qe._bucketed_tables(spark, sf_dir)
    _, m2 = bucket_file_mtimes()
    assert m2 == m1, "reuse path rewrote the bucketed files"
    assert spark.table(t_l).count() == n1

    # a source file changes -> fingerprint mismatch -> full rewrite
    reset_session_state()
    victim = src / "lineitem.parquet"
    if victim.is_dir():
        part = next(p for p in victim.iterdir() if p.suffix == ".parquet")
    else:
        part = victim
    _time.sleep(0.01)
    os.utime(part)  # mtime bump = regenerated testdata
    qe._bucketed_tables(spark, sf_dir)
    _, m3 = bucket_file_mtimes()
    assert m3 != m1, "changed source did not invalidate the layout"
    assert spark.table(t_l).count() == n1
