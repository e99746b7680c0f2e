"""End-to-end pipeline test: fixture ALB lines → 4 sinks, plus the
incremental geo-cache contract (second run fetches zero new IPs, a run
commits only the IPs it fetched)."""

from __future__ import annotations

import glob
import gzip
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from elb_log_etl_enrichment_spark.plans.pipeline import run_pipeline
from elb_log_etl_enrichment_spark.sources.geo_cache import load_geo_cache
from elb_log_etl_enrichment_spark.sources.http_geo import fake_fetch

from elb_log_etl_enrichment_spark.sources.alb_fixtures import fixture_lines


def _lines_df(spark):
    return spark.createDataFrame([Row(value=ln) for ln in fixture_lines()])


def _poisoned_fetch():
    """A fetch_fn that fails on any call (nested, so the workers
    receive it by value rather than importing this module)."""

    def fetch(ip: str) -> dict:
        raise AssertionError(f"unexpected geo lookup for {ip}")

    return fetch


def test_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "out")
    res = run_pipeline(spark, _lines_df(spark), out, fetch_fn=fake_fetch)

    enriched = res["enriched"]
    rows = enriched.collect()
    # garbage dropped (3), health checks filtered (5): 22 of 30 remain
    assert len(rows) == 22
    # geo enrichment joined a country for every row (fake fetch)
    assert all(r.countryName is not None for r in rows)
    # sessionization: burst IP got a second session after the 40-min gap
    sess = {
        r.session_id
        for r in rows
        if r.client_ip == "10.1.1.1"
    }
    assert sess == {"10.1.1.1_s0", "10.1.1.1_s1"}
    # rolling 5-min count peaks at the burst size
    burst_max = enriched.filter(F.col("client_ip") == "10.1.1.1").agg(
        F.max("rolling_5min_request_count")
    ).first()[0]
    assert burst_max == 10
    # '-' timings became NULL, total_processing_time treats them as 0
    dash = [r for r in rows if r.client_ip == "10.2.2.2" and r.request_processing_time is None]
    assert dash and all(r.total_processing_time is not None for r in dash)
    # WAF flag
    assert any(r.waf_blocked for r in rows if r.client_ip == "10.2.2.2")
    # error report holds only 4xx/5xx
    statuses = {r.elb_status_code for r in res["errors"].collect()}
    assert statuses == {404, 500, 503, 403}
    # bot summary counts the bot IP's requests
    bots = {(r.countryName, r.bot_request_count) for r in res["bot_summary"].collect()}
    assert sum(n for _, n in bots) == 5
    # sinks on disk: hive-partitioned cleaned logs + reports
    parts = glob.glob(os.path.join(out, "cleaned_logs", "request_year=*/request_month=*/request_day=*/countryCode=*"))
    assert parts, "expected hive-partitioned cleaned_logs layout"
    assert glob.glob(os.path.join(out, "reports", "error_summary_geo.csv", "*.csv"))

    # incremental state: the cache holds one row per distinct IP seen
    # pre-filter (3 analytic + 1 health-check IP — the reference also
    # geo-looks-up before filtering, elb_logs.py:408 vs 423)
    cache_path = os.path.join(out, "ip_geolocation_cache.parquet")
    cache = load_geo_cache(spark, cache_path)
    assert sorted(r.client_ip for r in cache.collect()) == [
        "10.0.9.9", "10.1.1.1", "10.2.2.2", "10.3.3.3",
    ]

    # second run over the same logs must fetch NOTHING: a fetch_fn that
    # raises proves the anti-join found no new IPs
    run_pipeline(spark, _lines_df(spark), str(tmp_path / "out2"),
                 geo_cache_path=cache_path, fetch_fn=_poisoned_fetch())
    cache2 = load_geo_cache(spark, cache_path)
    assert cache2.count() == 4  # keep-latest dedup, no growth


def test_pipeline_golden_output_hash(spark, tmp_path):
    """Golden e2e pin (SURVEY §5.3): md5 of the sorted, stringified
    enriched output over the fixture corpus. Pins EVERY column's
    semantics at once — parser, enrichment, sessionization, rolling
    features, flags. `api_fetch_timestamp` is excluded (wall-clock by
    design, mirroring the reference's cache-at-fetch-time field).

    If a deliberate semantic change lands, recompute with the
    recipe in this test and update the constant in the same commit.
    (r02: constant updated when the UA heuristic gained uap-core
    parity families — fixture Googlebot rows now classify as
    browser='Googlebot' instead of 'Other', like the reference lib.)
    """
    import hashlib

    res = run_pipeline(spark, _lines_df(spark), str(tmp_path / "g"), fetch_fn=fake_fetch)
    e = res["enriched"].drop("api_fetch_timestamp")
    cols = sorted(e.columns)

    def cell(v):
        return f"{v:.6f}" if isinstance(v, float) else str(v)

    serial = sorted(
        "|".join(cell(v) for v in r) for r in e.select(*cols).collect()
    )
    digest = hashlib.md5("\n".join(serial).encode()).hexdigest()
    assert digest == "10493d08998d697c70150709e9b0ae3a"


def test_pipeline_observe_metrics_ride_the_first_action(spark, tmp_path):
    """run_pipeline attaches df.observe counters to the enriched frame;
    they must be collected by the sink actions (no extra job) and agree
    with direct recounts of the returned frame."""
    from elb_log_etl_enrichment_spark.plans.pipeline import run_pipeline

    lines = spark.createDataFrame(
        [(ln,) for ln in fixture_lines()], "value string"
    )
    frames = run_pipeline(spark, lines, str(tmp_path / "obs_out"))
    m = frames["metrics"]
    enriched = frames["enriched"]
    assert m["n_rows"] == enriched.count() > 0
    assert m["n_bots"] == enriched.filter("is_bot").count()
    assert m["n_waf_blocked"] == enriched.filter("waf_blocked").count()
    assert m["n_geo_missing"] == enriched.filter("countryCode IS NULL").count()


def test_run_pipeline_returned_enriched_unpersists_cache(spark, tmp_path):
    """The returned frames["enriched"] must be the PERSISTED plan, so a
    caller's .unpersist() actually releases the cache entry (ADVICE r01:
    the observe() wrapper would not sameResult-match the cached plan)."""
    frames = run_pipeline(spark, _lines_df(spark), str(tmp_path / "out"))
    enriched = frames["enriched"]
    assert enriched.storageLevel.useMemory or enriched.storageLevel.useDisk
    enriched.unpersist(blocking=True)
    assert not (enriched.storageLevel.useMemory or enriched.storageLevel.useDisk)


# ---------------------------------------------------------------------------
# geo-cache commit: update_geo_cache → append_geo_cache_delta / compaction
# ---------------------------------------------------------------------------
def _data_files(path: str) -> list[str]:
    return sorted(
        f
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
        and not os.path.basename(f).startswith(("_", "."))
    )


def _listing(path: str) -> list[tuple[str, int, int]]:
    """Every entry under ``path`` (hidden ones too) with size and mtime."""
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out.append((os.path.join(root, f), st.st_size, st.st_mtime_ns))
    return sorted(out)


def _geo_rows(spark, ips: list[str], ts: str):
    from elb_log_etl_enrichment_spark.sources.geo_cache import GEO_SCHEMA

    rows = [
        (ip, "US", "United States", "Region", "City", 1.0, 2.0, "isp", ts)
        for ip in ips
    ]
    df = spark.createDataFrame(rows, GEO_SCHEMA.fieldNames())
    return df.withColumn(
        "api_fetch_timestamp", F.col("api_fetch_timestamp").cast("timestamp")
    )


def test_geo_cache_empty_update_skips_rewrite(spark, tmp_path):
    """A finalize() that fetched nothing leaves the cache UNTOUCHED — no
    write, no staging dir (a run with no unseen IPs must not write to
    a web-scale cache) — while a non-empty delta still lands through
    update_geo_cache."""
    from elb_log_etl_enrichment_spark.plans.pipeline import enrich_and_featurize
    from elb_log_etl_enrichment_spark.sources.elb_logs import parse_elb_lines
    from elb_log_etl_enrichment_spark.sources.geo_cache import update_geo_cache

    cache_path = str(tmp_path / "geo_cache.parquet")
    parsed = parse_elb_lines(_lines_df(spark))
    enriched, finalize = enrich_and_featurize(spark, parsed, cache_path)
    enriched.count()
    finalize()
    listing_before = _listing(cache_path)

    enriched, finalize = enrich_and_featurize(
        spark, parsed, cache_path, fetch_fn=_poisoned_fetch()
    )
    assert enriched.filter("countryName IS NULL").count() == 0
    finalize()
    assert _listing(cache_path) == listing_before  # not rewritten
    assert not os.path.exists(cache_path + "._staging")

    # a non-empty delta still merges
    newer = _geo_rows(spark, ["5.6.7.8"], "2026-01-01 00:00:00")
    update_geo_cache(spark, newer, cache_path)
    got = {r.client_ip for r in load_geo_cache(spark, cache_path).collect()}
    assert got == {"10.0.9.9", "10.1.1.1", "10.2.2.2", "10.3.3.3", "5.6.7.8"}


def test_append_delta_commits_merge_identical_content(spark, tmp_path):
    """Committing a disjoint delta yields exactly the keep-latest merge
    the stage-and-swap rewrite would commit, for one new data file."""
    from elb_log_etl_enrichment_spark.operators.dedup import upsert_keep_latest
    from elb_log_etl_enrichment_spark.sources.geo_cache import (
        commit_geo_cache,
        update_geo_cache,
    )

    cache_path = str(tmp_path / "cache.parquet")
    base = _geo_rows(spark, ["1.1.1.1", "2.2.2.2"], "2026-01-01 00:00:00")
    commit_geo_cache(spark, base, cache_path)
    n_files_before = len(_data_files(cache_path))

    old = load_geo_cache(spark, cache_path)
    delta = _geo_rows(spark, ["3.3.3.3"], "2026-01-01 00:02:00")
    merged = upsert_keep_latest(old, delta, ["client_ip"], "api_fetch_timestamp")
    update_geo_cache(spark, delta, cache_path)

    got = load_geo_cache(spark, cache_path)
    assert got.count() == 3
    assert got.select("client_ip").distinct().count() == 3  # no dup keys
    # content identical to what the full merge rewrite would commit
    assert got.exceptAll(merged).count() == 0
    assert merged.exceptAll(got).count() == 0
    # exactly ONE new data file (coalesce(1): all-or-nothing job commit)
    assert len(_data_files(cache_path)) == n_files_before + 1


def test_append_delta_compacts_past_ideal_plus_threshold(spark, tmp_path, monkeypatch):
    """The compaction trigger is RELATIVE to the ideal file count for
    the cache's byte size (an absolute threshold would make a cache
    whose healthy layout is wider than the threshold rewrite itself
    every run). At fixture scale ideal == 1, so with a threshold of 1
    a 2-file directory compacts back to ONE file whose content is the
    merge."""
    from elb_log_etl_enrichment_spark.sources import geo_cache, keyed_store

    monkeypatch.setattr(keyed_store, "COMPACT_FILES", 1)
    cache_path = str(tmp_path / "cache.parquet")

    def step(ip: str, ts: str) -> None:
        geo_cache.update_geo_cache(spark, _geo_rows(spark, [ip], ts), cache_path)

    # build through the append path so the file count is deterministic
    # (coalesce(1): exactly one file per step; a commit_geo_cache base
    # write may split one row across several shuffle-task files)
    step("1.1.1.1", "2026-01-01 00:00:00")  # 0 -> 1 file
    # 1 file + delta, threshold 1: 1 < ideal(1)+1 -> appends (2 files)
    step("2.2.2.2", "2026-01-01 00:02:00")
    assert len(_data_files(cache_path)) == 2
    # 2 files >= ideal(1)+1 -> compacts: the swap replaces the
    # directory with ONE ideal-width file holding the full merge
    step("3.3.3.3", "2026-01-01 00:04:00")
    assert len(_data_files(cache_path)) == 1
    got = load_geo_cache(spark, cache_path)
    assert sorted(r.client_ip for r in got.collect()) == [
        "1.1.1.1", "2.2.2.2", "3.3.3.3",
    ]


def test_streaming_cache_append_path_matches_merge_across_ticks(spark, tmp_path):
    """Two fetching micro-batches commit via append; the resulting
    cache has one row per distinct IP with correct geo columns — the
    same content a full keep-latest rewrite would produce."""
    from elb_log_etl_enrichment_spark.streaming.elb_stream import (
        stream_elb_pipeline,
    )

    logs = tmp_path / "logs"
    logs.mkdir()
    out = str(tmp_path / "out")
    lines = fixture_lines()
    half = len(lines) // 2

    def _write_gz(path: str, chunk: list[str]) -> None:
        with gzip.open(path, "wt") as f:
            f.write("\n".join(chunk) + "\n")

    _write_gz(str(logs / "a.log.gz"), lines[:half])
    stream_elb_pipeline(spark, str(logs / "*.gz"), out)
    _write_gz(str(logs / "b.log.gz"), lines[half:])
    stream_elb_pipeline(spark, str(logs / "*.gz"), out)

    cache_path = os.path.join(out, "ip_geolocation_cache.parquet")
    cache = load_geo_cache(spark, cache_path).collect()
    ips = [r.client_ip for r in cache]
    assert len(ips) == len(set(ips)) > 0  # one row per IP, never dupes
    # geo columns are the deterministic fake_fetch function of the IP
    for r in cache:
        want = fake_fetch(r.client_ip)
        assert r.countryCode == want["countryCode"]
        assert r.city == want["city"]
    # cleaned rows match the enrichment of those cache rows: the sink
    # saw the same merged view the append committed
    cleaned = spark.read.parquet(os.path.join(out, "cleaned_logs"))
    joined_cc = {
        (row.client_ip, row.countryCode) for row in
        cleaned.select("client_ip", "countryCode").distinct().collect()
    }
    cache_cc = {(r.client_ip, r.countryCode) for r in cache}
    assert joined_cc <= cache_cc


def test_second_batch_run_appends_one_file_for_its_new_ips(spark, tmp_path):
    """A batch run over logs with k unseen IPs commits O(k): the cache
    gains exactly one data file, the earlier files keep their names
    and sizes, and the cache holds one row per IP. A run with no unseen
    IP leaves the directory listing, mtimes included, unchanged."""
    cache_path = str(tmp_path / "cache.parquet")
    run_pipeline(spark, _lines_df(spark), str(tmp_path / "a"),
                 geo_cache_path=cache_path)["enriched"].unpersist()
    files_before = {f: os.path.getsize(f) for f in _data_files(cache_path)}

    # k = 2 unseen IPs: two of the fixture's clients renamed
    moved = [
        ln.replace(" 10.2.2.2:", " 10.7.2.2:").replace(" 10.3.3.3:", " 10.7.3.3:")
        for ln in fixture_lines()
    ]
    moved_df = spark.createDataFrame([Row(value=ln) for ln in moved])
    run_pipeline(spark, moved_df, str(tmp_path / "b"),
                 geo_cache_path=cache_path)["enriched"].unpersist()
    files_after = {f: os.path.getsize(f) for f in _data_files(cache_path)}
    assert len(files_after) == len(files_before) + 1
    assert {f: files_after[f] for f in files_before} == files_before
    rows = load_geo_cache(spark, cache_path).collect()
    ips = [r.client_ip for r in rows]
    assert len(ips) == len(set(ips))
    assert set(ips) == {
        "10.0.9.9", "10.1.1.1", "10.2.2.2", "10.3.3.3", "10.7.2.2", "10.7.3.3",
    }

    listing = _listing(cache_path)
    run_pipeline(spark, moved_df, str(tmp_path / "c"),
                 geo_cache_path=cache_path,
                 fetch_fn=_poisoned_fetch())["enriched"].unpersist()
    assert _listing(cache_path) == listing


def test_returned_frames_do_not_fetch_again(spark, tmp_path):
    """The CLI counts frames["enriched"] and frames["hourly"] after
    run_pipeline returns, so recomputing them must not call fetch_fn
    again: they read the geo rows back from the committed cache."""
    marker = str(tmp_path / "fetch_forbidden")

    def guarded_fetch(ip: str) -> dict:
        if os.path.exists(marker):
            raise AssertionError(f"geo lookup for {ip} after run_pipeline returned")
        return fake_fetch(ip)

    frames = run_pipeline(spark, _lines_df(spark), str(tmp_path / "out"),
                          fetch_fn=guarded_fetch)
    open(marker, "w").close()
    frames["enriched"].unpersist()
    assert frames["hourly"].count() > 0
    assert frames["enriched"].count() == frames["metrics"]["n_rows"]


def test_warm_run_compiles_no_generated_classes(spark, tmp_path):
    """A warm run_pipeline reuses every generated class of the run
    before it. Spark's codegen cache is one JVM-wide LRU; at its
    100-entry default a run (~117 classes at benchmark scale) evicted
    what the next one needed, so every warm run recompiled. Both runs
    start from a fresh copy of one seed cache, so they plan alike."""
    import shutil

    from elb_log_etl_enrichment_spark.sources.geo_cache import commit_geo_cache

    seed = str(tmp_path / "seed_cache.parquet")
    commit_geo_cache(
        spark, _geo_rows(spark, ["10.1.1.1", "10.2.2.2"], "2026-01-01 00:00:00"), seed
    )
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(name: str) -> None:
        cache = str(tmp_path / name / "cache.parquet")
        shutil.copytree(seed, cache)
        run_pipeline(spark, _lines_df(spark), str(tmp_path / name / "out"),
                     geo_cache_path=cache)["enriched"].unpersist()

    run("first")
    before = compiles.getCount()
    run("second")
    assert compiles.getCount() - before == 0


class TestFeatureChainTemplate:
    def test_template_is_built_once_per_process(self, spark):
        from elb_log_etl_enrichment_spark.plans.pipeline import (
            make_feature_chain_template,
        )

        assert make_feature_chain_template() is make_feature_chain_template()

    def test_template_matches_operator_chain(self, spark, tmp_path):
        """The template's stage split and its inlined ``time_local``
        must give the same rows and schema as applying the builders one
        stage at a time with the ``sessionize``/``add_rolling_features``
        operators (the streaming-vs-batch oracle covers the composed
        pipeline, this covers the chain in isolation with a frozen
        cache)."""
        import gzip

        from elb_log_etl_enrichment_spark.operators.features import (
            add_rolling_features,
            calendar_columns,
            path_columns,
            processing_time_total,
            sessionize,
        )
        from elb_log_etl_enrichment_spark.plans.pipeline import (
            make_feature_chain_template,
        )
        from elb_log_etl_enrichment_spark.sources.alb_fixtures import (
            fixture_lines_extended,
        )
        from elb_log_etl_enrichment_spark.sources.elb_logs import (
            LOCAL_TZ,
            category_columns,
            keep_predicate,
            parse_elb_lines,
        )
        from elb_log_etl_enrichment_spark.sources.http_geo import (
            fake_fetch,
            fetch_geolocations,
        )

        def operator_chain(parsed, cache):
            out = parsed.join(F.broadcast(cache), on="client_ip", how="left")
            out = out.filter(keep_predicate()).withColumns(category_columns())
            out = out.withColumn(
                "time_local", F.from_utc_timestamp(F.col("time"), LOCAL_TZ)
            )
            out = out.withColumns(calendar_columns(F.col("time_local")))
            out = out.withColumn(
                "total_processing_time", processing_time_total()
            )
            out = sessionize(
                out, key="client_ip", ts="time", tiebreak="trace_id"
            )
            out = add_rolling_features(out, key="client_ip", ts="time")
            out = out.withColumns(path_columns())
            return out.drop("time_local")

        lf = str(tmp_path / "x.log.gz")
        with gzip.open(lf, "wt") as f:
            f.write("\n".join(fixture_lines_extended()) + "\n")
        raw = spark.read.text(lf).withColumn(
            "log_source_file", F.input_file_name()
        )
        parsed = parse_elb_lines(raw)
        ips = (
            parsed.select("client_ip")
            .where(F.col("client_ip").isNotNull())
            .distinct()
        )
        # persist so both sides see identical fetch timestamps
        cache = fetch_geolocations(ips, fetch_fn=fake_fetch).persist()
        try:
            cache.count()
            ref = operator_chain(parsed, cache)
            got = make_feature_chain_template()(parsed, cache)
            assert [
                (f.name, f.dataType.simpleString()) for f in ref.schema
            ] == [(f.name, f.dataType.simpleString()) for f in got.schema]
            assert sorted(map(str, ref.collect())) == sorted(
                map(str, got.collect())
            )
        finally:
            cache.unpersist()

    def test_template_rejects_unparsed_time(self, spark):
        from elb_log_etl_enrichment_spark.plans.pipeline import (
            make_feature_chain_template,
        )

        bad = spark.range(1).selectExpr(
            "'1.2.3.4' AS client_ip", "'GET / H' AS request",
            "'ua' AS user_agent", "CAST(200 AS BIGINT) AS elb_status_code",
            "'x' AS classification_reason", "'t' AS trace_id",
            "'2025-01-01' AS time", "'/a' AS path",
            "0.1 AS request_processing_time",
            "0.1 AS target_processing_time",
            "0.1 AS response_processing_time",
        )
        cache = spark.createDataFrame(
            [], "client_ip string, countryCode string"
        )
        with pytest.raises(TypeError, match="parse it first"):
            make_feature_chain_template()(bad, cache)


class TestLookupPartition:
    """``http_geo.lookup_partition``, the per-partition lookup loop of
    ``fetch_geolocations``, against a fake transport that sleeps and
    records start times and concurrency. No JVM."""

    @staticmethod
    def _ips(n):
        return [f"10.{i // 65536}.{i // 256 % 256}.{i % 256}" for i in range(n)]

    @staticmethod
    def _transport(latency_s):
        import threading
        import time

        lock = threading.Lock()
        seen = {"starts": [], "live": 0, "peak": 0}

        def fetch(ip):
            with lock:
                seen["starts"].append(time.monotonic())
                seen["live"] += 1
                seen["peak"] = max(seen["peak"], seen["live"])
            time.sleep(latency_s)
            with lock:
                seen["live"] -= 1
            return fake_fetch(ip)

        return fetch, seen

    def test_rows_come_back_in_input_order(self):
        import time

        from elb_log_etl_enrichment_spark.sources.http_geo import lookup_partition

        ips = self._ips(64)
        rank = {ip: i for i, ip in enumerate(ips)}

        def fetch(ip):
            # later IPs return first
            time.sleep(0.0005 * (len(ips) - rank[ip]))
            return fake_fetch(ip)

        rows = lookup_partition(ips, fetch)
        assert [r["client_ip"] for r in rows] == ips
        assert rows == [
            {**fake_fetch(ip), "api_fetch_timestamp": r["api_fetch_timestamp"]}
            for ip, r in zip(ips, rows)
        ]
        assert lookup_partition([], fetch) == []

    def test_at_most_max_in_flight(self):
        from elb_log_etl_enrichment_spark.sources.http_geo import (
            MAX_IN_FLIGHT,
            lookup_partition,
        )

        assert MAX_IN_FLIGHT == 16
        fetch, seen = self._transport(0.02)
        assert len(lookup_partition(self._ips(100), fetch)) == 100
        assert 1 < seen["peak"] <= MAX_IN_FLIGHT

    def test_rate_limit_spaces_the_starts(self):
        from elb_log_etl_enrichment_spark.sources.http_geo import lookup_partition

        rate_limit_s = 0.02
        # latency above the spacing, so lookups overlap while paced
        fetch, seen = self._transport(0.05)
        lookup_partition(self._ips(12), fetch, rate_limit_s)
        starts = sorted(seen["starts"])
        gaps = [b - a for a, b in zip(starts, starts[1:])]
        # the pacer stamps a start just before it calls fetch_fn; the
        # fake's own stamp may lag it by thread-switch jitter
        assert min(gaps) >= rate_limit_s - 1e-3, gaps
        assert seen["peak"] > 1

    def test_fetch_error_fails_the_call(self):
        import time

        from elb_log_etl_enrichment_spark.sources.http_geo import lookup_partition

        ips = self._ips(500)
        calls = []

        def fetch(ip):
            calls.append(ip)
            if ip == ips[0]:
                raise RuntimeError("transport down")
            time.sleep(0.005)
            return fake_fetch(ip)

        with pytest.raises(RuntimeError, match="transport down"):
            lookup_partition(ips, fetch)
        # the lookups not yet started are cancelled
        assert len(calls) < len(ips)
