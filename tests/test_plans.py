"""Physical-plan regression guards.

Correctness is the oracle harness's job; these tests pin the PLAN
properties the 100 TB design depends on — filter pushdown reaching
the parquet scan, column pruning, dims broadcast instead of shuffled,
pre-aggregation below joins. A regression here is invisible to the
oracle (results stay right) but catastrophic at scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elb_log_etl_enrichment_spark.plans.audit import plan_stats, plan_text

SF = "/root/testdata/sf0.001"


def _q(spark, name):
    from elb_log_etl_enrichment_spark.plans.queries import (
        REGISTRY,
        _load_extensions,
    )

    _load_extensions()
    return REGISTRY[name].fn(spark, SF)


def test_filter_pushdown_reaches_scan(spark):
    stats = plan_stats(_q(spark, "pricing_summary"))
    assert any(
        "LessThanOrEqual(l_shipdate" in f for f in stats["pushed_filters"]
    ), stats["pushed_filters"]


def test_column_pruning_on_wide_table(spark):
    # pricing_summary touches 7 of lineitem's 16 columns; the scan
    # schema must not contain untouched ones
    stats = plan_stats(_q(spark, "pricing_summary"))
    read = stats["read_schemas"][0]
    assert "l_comment" not in read and "l_partkey" not in read


def test_flagship_broadcasts_dims_and_preaggregates(spark):
    plan = plan_text(_q(spark, "revenue_by_nation"))
    assert plan_stats(plan)["broadcast_joins"] >= 2  # nation, region
    # lineitem pre-agg below the join: a HashAggregate keyed on
    # l_orderkey must appear (partial-agg pushdown)
    assert "Keys [1]: [l_orderkey" in plan


def test_scalar_subquery_threshold_is_broadcast(spark):
    stats = plan_stats(_q(spark, "important_parts_value_threshold"))
    assert stats["broadcast_joins"] >= 1  # 1-row threshold side
    # two lineitem scans (per-part agg + grand total), each pruned
    assert stats["scans"] == 2
    for read in stats["read_schemas"]:
        assert "l_comment" not in read


def test_topk_uses_take_ordered_not_global_sort(spark):
    assert "TakeOrderedAndProject" in plan_text(_q(spark, "top_orders_by_revenue"))


def test_chunking_is_shuffle_free_before_final_agg(spark):
    # explode+substring pipeline: the ONLY exchanges allowed are the
    # two for the final global aggregate (partial -> single partition)
    stats = plan_stats(_q(spark, "doc_chunking_stats"))
    assert stats["exchanges"] <= 2, stats


def test_no_accidental_cartesian_products(spark):
    """Global guard: no batch query plans a CartesianProduct or a
    non-broadcast nested-loop join unless it is an intentional cross
    join. At 100 TB an accidental Cartesian is a cluster-killer that
    the oracle comparison cannot see (results stay correct)."""
    from elb_log_etl_enrichment_spark.plans.queries import (
        REGISTRY,
        _load_extensions,
    )

    _load_extensions()
    intentional = {"cross_join_region_priority"}
    offenders = []
    for name, spec in REGISTRY.items():
        if "streaming" in spec.tags or name in intentional:
            continue  # building a streaming entry drains the stream
        plan = plan_text(spec.fn(spark, SF))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_join_strategy_hints_are_honored(spark):
    """Users can override Catalyst's join choice per side: broadcast,
    shuffle-hash, and sort-merge hints each produce their operator —
    the control knob for when statistics mislead the planner at scale."""
    from elb_log_etl_enrichment_spark.sources.tables import load_table

    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer")
    cases = {
        "broadcast": "BroadcastHashJoin",
        "shuffle_hash": "ShuffledHashJoin",
        "merge": "SortMergeJoin",
    }
    for hint, operator in cases.items():
        plan = plan_text(o.join(c.hint(hint), o.o_custkey == c.c_custkey))
        assert operator in plan, (hint, operator)


def test_dynamic_partition_pruning_fires_on_partitioned_sink(spark, tmp_path):
    """A join against a filtered dim must push a runtime (dynamic)
    partition filter into the partitioned-parquet scan — at 100 TB
    this skips whole partition directories the static planner can't."""
    fact = spark.range(10_000).selectExpr("id", "id % 20 AS k", "id * 2 AS v")
    path = str(tmp_path / "fact")
    fact.write.partitionBy("k").parquet(path)
    dim = spark.range(20).selectExpr("id AS k", "id % 7 AS attr")
    back = spark.read.parquet(path)
    joined = back.join(dim.filter("attr = 3"), "k").groupBy("k").count()
    plan = plan_text(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """With broadcast off (the 100 TB fact⋈fact case), Catalyst must
    inject a bloom filter built from the selective side into the
    probe-side scan — the shuffle then carries only probable matches
    instead of the full fact table."""
    from elb_log_etl_enrichment_spark.sources.tables import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF, "lineitem")
        o = load_table(spark, SF, "orders").filter("o_totalprice > 400000")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_window_group_limit_prunes_topk_before_shuffle(spark):
    """rank()<=k filters compile to WindowGroupLimit, and Spark inserts
    it BOTH below the exchange (per-partition partial top-k, like a
    partial agg) and above it — so the shuffle carries at most k rows
    per group per input partition, not the whole table. This is the
    plan property that makes ranking top-k viable at 100 TB."""
    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY

    df = REGISTRY["top3_customers_per_nation"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan
    # tree text is top-down: the partial WGL sits BELOW (after) the
    # Exchange line, i.e. on the scan side of the shuffle
    assert "WindowGroupLimit" in plan.split("Exchange", 1)[1], plan


def test_zscore_builtin_twin_no_python_stage_and_same_rows(spark):
    """The window-function zscore twin must stay JVM-side (no Arrow /
    Python eval stages) and agree row-for-row with the applyInPandas
    extension-point demo."""
    from elb_log_etl_enrichment_spark.plans.audit import plan_text
    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    builtin = REGISTRY["zscore_outlier_events_builtin"].fn(spark, SF)
    plan = plan_text(builtin)
    for marker in ("Python", "Arrow", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"{marker} stage leaked into builtin plan"
    demo = REGISTRY["zscore_outlier_events"].fn(spark, SF)
    key = lambda r: (r["user_id"], r["event_id"])
    assert sorted(map(tuple, builtin.collect()), key=lambda t: t[:2]) == sorted(
        map(tuple, demo.collect()), key=lambda t: t[:2]
    )
    assert REGISTRY["zscore_outlier_events_builtin"].sql == REGISTRY[
        "zscore_outlier_events"
    ].sql


def test_approx_percentile_twins_track_exact(spark):
    """The approx_percentile twins are the documented 100 TB path for
    the exact-percentile profilers; at test scale their bucket masses
    and fences (the `_detail` frames) must track the exact forms
    closely, and the registered rank-error audits (r7: the rows-only →
    oracle promotion) must report every estimate within bound."""
    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
    from elb_log_etl_enrichment_spark.plans.queries_profiling import (
        equi_depth_histogram_orders_approx_detail,
        iqr_outlier_audit_approx_detail,
    )

    all_queries()
    exact = REGISTRY["equi_depth_histogram_orders"].fn(spark, SF).collect()
    approx = equi_depth_histogram_orders_approx_detail(spark, SF).collect()
    n_total = sum(r["n"] for r in exact)
    assert sum(r["n"] for r in approx) == n_total
    ex = {r["bucket"]: r["n"] for r in exact}
    ap = {r["bucket"]: r["n"] for r in approx}
    for b in ex:
        # equi-depth: every bucket holds ~n/8; approx bounds may shift
        # boundary rows but never redistribute mass materially
        assert abs(ap.get(b, 0) - ex[b]) <= max(5, 0.05 * n_total), (b, ex, ap)
    audit = REGISTRY["equi_depth_histogram_orders_approx"].fn(spark, SF).collect()
    assert [r["quantile_idx"] for r in audit] == list(range(1, 8))
    assert all(r["rank_ok"] == 1 and r["n"] == n_total for r in audit), audit

    exact_f = {r["event_type"]: r for r in REGISTRY["iqr_outlier_audit"].fn(spark, SF).collect()}
    approx_f = {r["event_type"]: r for r in iqr_outlier_audit_approx_detail(spark, SF).collect()}
    assert exact_f.keys() == approx_f.keys()
    for et, er in exact_f.items():
        ar = approx_f[et]
        assert er["n"] == ar["n"]
        spread = er["hi_fence"] - er["lo_fence"] or 1.0
        assert abs(ar["lo_fence"] - er["lo_fence"]) <= 0.05 * spread
        assert abs(ar["hi_fence"] - er["hi_fence"]) <= 0.05 * spread
    iqr_audit = {
        r["event_type"]: r
        for r in REGISTRY["iqr_outlier_audit_approx"].fn(spark, SF).collect()
    }
    assert iqr_audit.keys() == exact_f.keys()
    for et, r in iqr_audit.items():
        assert r["q1_rank_ok"] == 1 and r["q3_rank_ok"] == 1, (et, r)
        assert r["n"] == exact_f[et]["n"]


def _assert_driver_order():
    from elb_log_etl_enrichment_spark.plans.queries import (
        DRIVER_ORDER,
        REGISTRY,
        all_oracle_sql,
        all_queries,
    )

    names = list(all_queries())
    osql = all_oracle_sql()
    assert len(DRIVER_ORDER) == len(set(DRIVER_ORDER))
    assert sorted(DRIVER_ORDER) == sorted(REGISTRY), (
        sorted(set(REGISTRY) ^ set(DRIVER_ORDER))
    )
    assert names == DRIVER_ORDER
    assert all(n in osql for n in names[:50]), [n for n in names[:50] if n not in osql]
    first_rows_only = next(
        (i for i, n in enumerate(names) if n not in osql), len(names)
    )
    assert all(n not in osql for n in names[first_rows_only:])


def test_registry_prefix_is_oracle_backed_and_complete():
    """The driver samples the first 50 names of all_queries(): that
    order is the literal DRIVER_ORDER, which lists every registered
    query exactly once; the first 50 are oracle-backed and rows-only
    queries sort after every oracle-backed one."""
    _assert_driver_order()


def test_unlisted_query_fails_the_registry_order_check(monkeypatch):
    """A query registered without a DRIVER_ORDER entry must fail the
    order check instead of silently dropping out of the registry."""
    from elb_log_etl_enrichment_spark.plans import queries

    queries._load_extensions()
    spec = queries.REGISTRY["pricing_summary"]
    monkeypatch.setitem(
        queries.REGISTRY,
        "unlisted_query",
        queries.QuerySpec("unlisted_query", spec.fn, spec.sql, spec.tags),
    )
    with pytest.raises(AssertionError):
        _assert_driver_order()


def test_salted_join_spreads_hot_key_and_matches_plain_join(spark):
    """salted_join contract: (1) the physical plan is a shuffle-hash
    join on (key, salt) — no broadcast (a broadcast would make salting
    a no-op demo); (2) on a pathologically hot key the result is
    row-identical to the plain join."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.operators.skew import salted_join

    big = spark.range(0, 10_000).select(
        (F.when(F.col("id") < 9_000, 7).otherwise(F.col("id") % 50))
        .cast("long")
        .alias("k"),          # 90% of rows share key 7
        (F.col("id") * 3).alias("v"),
    )
    small = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("attr")
    ).hint("shuffle_hash")
    salted = salted_join(big, small, on=["k"], n_salts=8)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    plain = big.join(small, "k")
    agg = lambda df: sorted(
        df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
             F.sum("attr").alias("sa"))
        .collect()
    )
    assert agg(salted) == agg(plain)
    # plan shape on the registry query: shuffle-hash, never broadcast
    q = _q(spark, "salted_event_mktsegment_join")
    qplan = q._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in qplan and "BroadcastHashJoin" not in qplan


def test_salted_join_guards_and_key_only_frames(spark):
    """Review follow-ups: outer joins that would null-extend per
    replica are rejected; a key-only big frame salts fine (position
    salt, no content hash); identical duplicate rows of a hot key
    spread across salts instead of landing on one reducer."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.operators.skew import salted_join

    big = spark.range(0, 1000).select(F.lit(7).cast("long").alias("k"))
    small = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
    )
    with pytest.raises(ValueError, match="big-side-preserving"):
        salted_join(big, small, on=["k"], how="full")
    # key-only big frame: no value columns to hash — must still work
    out = salted_join(big, small, on=["k"], n_salts=8)
    assert out.count() == 1000
    # identical rows spread: rebuild the salt expression the operator
    # uses and check the hot key occupies >1 salt bucket
    n_salts = (
        big.withColumn(
            "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(8))
        )
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_salts > 1


def test_aqe_splits_skewed_join_partitions(spark, tmp_path):
    """AQE skew-join handling (the 100 TB answer to hot keys when
    salting isn't applied): with thresholds forced low, a sort-merge
    join against a heavily skewed key column must show skew-split
    partitions in the final adaptive plan ("n skewed partitions"
    annotation / CustomShuffleReader splitting), proving the runtime
    re-plan path is available to every shuffle join in the registry."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 95 % of left rows share key 0; right side is uniform
        left = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0))
            .otherwise(F.col("id") % 50)
            .alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("pad"),
        )
        right = spark.range(50).select(
            F.col("id").alias("k"), F.lit("dim").alias("attr")
        )
        j = left.join(right, "k").groupBy("attr").count()
        rows = j.collect()  # materialize so AQE finalizes the plan
        assert sum(r["count"] for r in rows) == 200_000  # no row lost
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skewed" in plan.lower(), plan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_expectations_audit_catches_planted_violations(spark, tmp_path):
    """A corpus with a negative total price, an out-of-enum status, an
    orphan custkey, and an out-of-range quantity must fail exactly
    those rules and pass the rest."""
    import datetime

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
    from elb_log_etl_enrichment_spark.sources.tables import load_table

    all_queries()
    sf = "/root/testdata/sf0.001"
    d = datetime.date(2024, 1, 1)
    spark.createDataFrame(
        [(1, 10, "O", -5.0, d), (2, 999999, "X", 10.0, d)],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate date",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(1, 1, 1, 1, 99.0, 0.1, d)],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, l_quantity double, l_discount double, l_shipdate date",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    load_table(spark, sf, "events").limit(5).write.parquet(f"{tmp_path}/events.parquet")
    spark.createDataFrame(
        [(10, "c", 0)], "c_custkey long, c_name string, c_nationkey long"
    ).write.parquet(f"{tmp_path}/customer.parquet")
    rows = {
        r["name"]: r
        for r in REGISTRY["expectations_audit"].fn(spark, str(tmp_path)).collect()
    }
    assert not rows["orders.totalprice_positive"]["pass"]
    assert not rows["orders.status_enum"]["pass"]
    assert rows["orders.custkey_fk_customer"]["n_violations"] == 1
    assert not rows["lineitem.quantity_1_50"]["pass"]
    assert rows["events.ts_not_null"]["pass"]
    assert rows["lineitem.discount_unit_interval"]["pass"]


def test_join_hints_change_plan_not_results(spark):
    """BROADCAST / SHUFFLE_HASH / MERGE hints on the same join must
    produce different physical operators and IDENTICAL results."""
    from elb_log_etl_enrichment_spark.plans.audit import plan_text
    from elb_log_etl_enrichment_spark.plans.queries import _t

    sf = "/root/testdata/sf0.001"
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")

    def agg(hinted):
        return (
            c.join(hinted, c.c_nationkey == hinted.n_nationkey)
            .groupBy(hinted.n_name.alias("nation"))
            .count()
            .orderBy("nation")
        )

    plans = {h: plan_text(agg(n.hint(h))) for h in ("broadcast", "shuffle_hash", "merge")}
    assert "BroadcastHashJoin" in plans["broadcast"]
    assert "ShuffledHashJoin" in plans["shuffle_hash"]
    assert "SortMergeJoin" in plans["merge"]
    results = {h: [tuple(r) for r in agg(n.hint(h)).collect()]
               for h in ("broadcast", "shuffle_hash", "merge")}
    assert results["broadcast"] == results["shuffle_hash"] == results["merge"]


def test_haversine_known_distances(spark):
    """Pin the trig against geodesy ground truth: 1° of longitude at
    the equator ≈ 111.19 km; antipodal points = half the
    circumference ≈ 20015 km; zero distance for identical points."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.plans.queries_geo import haversine_km

    df = spark.range(1).select(
        haversine_km(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(1.0)).alias("one_deg"),
        haversine_km(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(180.0)).alias("anti"),
        haversine_km(F.lit(51.5), F.lit(-0.1), F.lit(51.5), F.lit(-0.1)).alias("zero"),
    ).first()
    assert abs(df["one_deg"] - 111.19) < 0.1
    assert abs(df["anti"] - 20015.1) < 1.0
    assert df["zero"] == 0.0


def test_no_python_stages_outside_documented_extension_points(spark):
    """Global guard (SURVEY §2.9 / "UDFs are the slow path"): no
    oracle-facing batch query may plan a Python evaluation stage
    unless it IS one of the documented Python surfaces — the
    applyInPandas/cogroup extension-point demos, the Arrow/BLAS and
    PQ ANN scorers (vectorized mapInPandas by design), the UDTF demo,
    winnowing's stride-tricks fingerprinter, and the multimodal
    decode plumbing. Anything new that drops into row-at-a-time or
    pandas execution must either justify itself here or be rewritten
    with built-ins."""
    from elb_log_etl_enrichment_spark.plans.queries import (
        REGISTRY,
        _load_extensions,
    )

    _load_extensions()
    markers = (
        "BatchEvalPython",
        "ArrowEvalPython",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "MapInPandas",
        "PythonMapInArrow",
    )
    documented = {
        "cogroup_user_activity",        # §2.9 cogrouped-map demo
        "elb_error_report",             # P11 UA pandas_udf survives here:
                                        # the report PROJECTS ua families
                                        # (hourly agg prunes the UDF away)
        "elb_device_report",            # P11 device axis: the pandas UDF
                                        # IS the operator (r6; 100 TB path
                                        # = distinct-UA broadcast, as UA)
        "cosine_topk_arrow",            # Arrow/BLAS batch scorer
        "cosine_topk_pq",               # PQ-ADC batch scorer
        "cosine_topk_ivfpq",            # IVF-PQ batch scorer
        "cosine_topk_ivfpq_rerank",     # r8 IVFADC+R: the ADC pass is
                                        # the same documented scorer
        "cosine_topk_ivf",              # r7 recall audit embeds the
                                        # Arrow exact scorer in-plan
        "cosine_topk_ivf_bucketed",     # r10 layout-served IVF: same
                                        # Arrow masked-matmul scorer
                                        # over the pruned cell scan
        "multimodal_decode_stats",      # binary-column decode plumbing
        "multimodal_pipeline_stats",
        "multimodal_sniff_stats",
        "multimodal_pixel_roundtrip_stats",  # real PNG codec (pure-Python
                                        # byte work has no JVM expression)
        "multimodal_wav_roundtrip_stats",    # real RIFF/PCM codec
        "multimodal_video_frame_sample_stats",  # real Y4M demux + sampling
        "multimodal_image_resize_stats",     # real decode→box-resize→decode
        "multimodal_audio_frame_features",   # real decode→framing features
        "multimodal_video_motion_stats",     # real demux→frame-SAD motion
        "parquet_footer_stats",         # pyarrow footer parser over the
                                        # file manifest (no JVM expression
                                        # for file metadata)
        "udtf_token_spans",             # Python UDTF demo (slow path, stated)
        "winnowing_fingerprints",       # numpy stride-tricks fingerprints
        "zscore_outlier_events",        # §2.9 applyInPandas demo
    }
    offenders = {}
    for name, spec in REGISTRY.items():
        if "streaming" in spec.tags or name in documented:
            continue
        plan = plan_text(spec.fn(spark, SF))
        found = [m for m in markers if m in plan]
        if found:
            offenders[name] = found
    assert not offenders, offenders


def test_stats_tier_plan_shapes(spark):
    """Plan pins for the statistics tier: the A/B test is a single
    hash-aggregate pipeline (one shuffle, no joins); the drift audit
    joins only via broadcast (its two 1-row bound frames); EWMA/CUSUM
    keep all window work on one event_type-rooted exchange chain with
    no Python stages anywhere."""
    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    welch = plan_text(REGISTRY["ab_welch_ttest"].fn(spark, SF))
    assert "Join" not in welch, welch
    assert "Python" not in welch and "Pandas" not in welch, welch

    drift = plan_text(REGISTRY["value_drift_audit"].fn(spark, SF))
    assert "SortMergeJoin" not in drift and "ShuffledHashJoin" not in drift, drift
    assert "BroadcastNestedLoopJoin" in drift or "BroadcastHashJoin" in drift

    for name in ("ewma_control_chart", "cusum_changepoint"):
        p = plan_text(REGISTRY[name].fn(spark, SF))
        assert "Python" not in p and "Pandas" not in p, (name, p)

    ols = plan_text(REGISTRY["ols_order_value_regression"].fn(spark, SF))
    # exactly one fact-fact join (per-order features x orders); the
    # solve itself adds no join, no extra shuffle, no Python
    assert "Python" not in ols and "Pandas" not in ols, ols


def test_vocab_growth_approx_no_global_sort_and_tracks_exact(spark):
    """VERDICT r02 item 3: the vocab-growth approx twin must carry NO
    single-partition sort in its quartile-assignment subplan (sketch
    cutpoints + broadcast CASE replace the global ntile), and its
    results must track the exact form: total vocabulary is
    boundary-invariant (exact match); per-quartile new-token counts
    may only drift by boundary documents."""
    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
    from elb_log_etl_enrichment_spark.plans.queries_profiling import (
        doc_quartiles_approx,
    )
    from elb_log_etl_enrichment_spark.sources.tables import load_table

    all_queries()
    # plan pin on the quartile-assignment subframe: no SinglePartition
    # exchange, no Window, no ntile anywhere
    dq = doc_quartiles_approx(load_table(spark, SF, "documents"))
    plan = dq._jdf.queryExecution().executedPlan().toString()
    for marker in ("Sort", "Window", "ntile("):
        assert marker not in plan, f"{marker} in approx quartile plan:\n{plan}"
    # the one allowed SinglePartition exchange carries PARTIAL sketch
    # buffers (one row per input partition), never data rows: it must
    # sit directly above the map-side partial percentile aggregate
    for seg in plan.split("Exchange SinglePartition")[1:]:
        assert "partial_percentile_approx" in seg.split("\n")[1], plan

    from elb_log_etl_enrichment_spark.plans.queries_profiling import (
        vocab_growth_audit_approx_detail,
    )

    exact = REGISTRY["vocab_growth_audit"].fn(spark, SF).collect()
    approx = vocab_growth_audit_approx_detail(spark, SF).collect()
    assert [r["quartile"] for r in approx] == [r["quartile"] for r in exact]
    # total vocabulary (final cum_vocab) is partition-boundary-invariant
    assert approx[-1]["cum_vocab"] == exact[-1]["cum_vocab"]
    total = exact[-1]["cum_vocab"]
    for er, ar in zip(exact, approx):
        assert abs(ar["new_tokens"] - er["new_tokens"]) <= max(
            20, 0.10 * total
        ), (er, ar)
    # the registered audit (r7 rows-only → oracle promotion): all four
    # quartiles present, balanced, and total vocab equals the exact form
    audit = REGISTRY["vocab_growth_audit_approx"].fn(spark, SF).collect()
    assert [r["quartile"] for r in audit] == [1, 2, 3, 4]
    assert all(r["docs_balance_ok"] == 1 for r in audit), audit
    assert all(r["total_vocab"] == total for r in audit), (audit, total)


def test_sketch_queries_track_exact_counts(spark):
    """Tolerance oracles for the sketch-backed rows-only queries
    (VERDICT r02 item 7): HLL union estimate within its published
    relative-error envelope of the exact distinct count; approx
    count-distinct/median per event_type within rsd / rank bounds of
    the exact values."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
    from elb_log_etl_enrichment_spark.sources.tables import load_table

    all_queries()
    e = load_table(spark, SF, "events")
    c = load_table(spark, SF, "customer").select("c_custkey")

    # hll_sketch_distinct_users: merged estimate vs exact (the
    # estimate frame is the _detail form since the r7 audit promotion)
    from elb_log_etl_enrichment_spark.plans.queries_ext import (
        approx_aggregates_events_detail,
        hll_sketch_distinct_users_detail,
    )

    hll = hll_sketch_distinct_users_detail(spark, SF).collect()[0]
    exact_users = (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .select("user_id").distinct().count()
    )
    # lgConfigK=12 HLL++ -> ~1.6 % std err; 5 % is a >3-sigma envelope
    assert abs(hll["merged_distinct_users"] - exact_users) <= max(
        5, 0.05 * exact_users
    ), (hll["merged_distinct_users"], exact_users)
    # the registered audit: flags green, exact column matches
    audit = REGISTRY["hll_sketch_distinct_users"].fn(spark, SF).collect()[0]
    assert audit["merged_est_ok"] == 1
    assert audit["exact_distinct_users"] == exact_users
    assert audit["n_nations"] == hll["n_nations"]

    # approx_aggregates_events vs exact per event_type
    approx = {
        r["event_type"]: r
        for r in approx_aggregates_events_detail(spark, SF).collect()
    }
    exact = {
        r["event_type"]: r
        for r in e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.expr("percentile(value, array(0.40, 0.50, 0.60))").alias("p"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys()
    for et, er in exact.items():
        ar = approx[et]
        assert ar["n"] == er["n"]  # plain count is exact
        # approx_count_distinct default rsd = 5 %; allow 3 sigma
        assert abs(ar["approx_users"] - er["users"]) <= max(
            5, 0.15 * er["users"]
        ), (et, ar["approx_users"], er["users"])
        # approx median lands within the exact p40..p60 rank window
        p40, _, p60 = er["p"]
        assert p40 <= ar["approx_median_value"] <= p60, (et, ar, er)
    # the registered audit: every flag green, exact n per group
    audit_rows = {
        r["event_type"]: r
        for r in REGISTRY["approx_aggregates_events"].fn(spark, SF).collect()
    }
    assert audit_rows.keys() == exact.keys()
    for et, r in audit_rows.items():
        assert r["users_est_ok"] == 1 and r["median_rank_ok"] == 1, (et, r)
        assert r["n"] == exact[et]["n"]


def test_q18_single_fact_exchange_and_topk(spark):
    """Q18 shape: the grouped-HAVING detection is the ONLY exchange
    (orders/customer broadcast at test SF), and the top-100 compiles
    to TakeOrderedAndProject, never a global sort."""
    df = _q(spark, "large_volume_customers")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject(limit=100" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_sum" in plan  # map-side combine below the exchange


def test_q19_disjunction_stays_residual_and_pushes_per_side(spark):
    """Q19 shape: the OR-of-ANDs must ride the extracted equi hash join
    as a residual (no nested loop / cartesian), and Catalyst must push
    the per-side weakened disjunctions into BOTH scans (quantity
    brackets to lineitem, brand+size brackets to part)."""
    df = _q(spark, "disjunctive_bracket_revenue")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [l_partkey" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    stats = plan_stats(df)
    pushed = " ".join(" ".join(f) for f in [stats["pushed_filters"]])
    assert "l_quantity,1.0" in pushed or "GreaterThanOrEqual(l_quantity,1.0)" in pushed, pushed
    assert "EqualTo(p_brand" in pushed, pushed


def test_scale_readiness_report_flags_and_passes(spark):
    """The user-facing scale audit: clean plans pass, Python stages
    and nested-loop joins warn, a true cartesian errors."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.plans.audit import (
        scale_readiness_report,
    )

    clean = scale_readiness_report(_q(spark, "pricing_summary"))
    assert clean["ok"] and clean["flags"] == []

    py = scale_readiness_report(_q(spark, "zscore_outlier_events"))
    assert py["ok"]  # warns don't fail ok
    assert any("python_stage" in msg for _, msg in py["flags"])

    jvm_twin = scale_readiness_report(
        _q(spark, "zscore_outlier_events_builtin")
    )
    assert not any("python_stage" in m for _, m in jvm_twin["flags"])

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.range(1000)
        b = spark.range(1000).withColumnRenamed("id", "j")
        cart = scale_readiness_report(a.crossJoin(b))
        assert not cart["ok"]
        assert any(sev == "error" and "cartesian" in msg
                   for sev, msg in cart["flags"])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # the canonical global funnel — every row through one reducer via
    # an unpartitioned window — must warn...
    from pyspark.sql import Window

    funnel = spark.range(10000).withColumn(
        "rk", F.row_number().over(Window.orderBy("id"))
    )
    rep = scale_readiness_report(funnel)
    assert any("single_partition_funnel" in m for _, m in rep["flags"])
    # ...while a 1-row global summary aggregate (same SinglePartition
    # exchange, legitimate consumer) must stay clean
    summary = scale_readiness_report(spark.range(10000).agg(F.sum("id")))
    assert not any(
        "single_partition_funnel" in m for _, m in summary["flags"]
    )


def test_join_strategy_report_agrees_with_catalyst(spark):
    """The advisor's recommendation (from Catalyst's own size stats)
    must agree with the planner in both regimes: a small side →
    broadcast; thresholds off → shuffle-based join."""
    from elb_log_etl_enrichment_spark.plans.audit import join_strategy_report

    big = spark.range(200_000).withColumnRenamed("id", "k")
    small = spark.range(100).withColumnRenamed("id", "k")

    rep = join_strategy_report(big, small, on="k")
    assert rep["recommended"] == "broadcast_right"
    assert rep["planned"] == "broadcast"
    assert rep["agrees"]
    assert rep["right_bytes_est"] < rep["left_bytes_est"]

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        rep2 = join_strategy_report(big, small, on="k")
        assert rep2["recommended"] == "shuffle_join"
        assert rep2["planned"] in ("sort_merge", "shuffle_hash")
        assert rep2["agrees"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_range_lookup_rewrite_plans_hash_join_not_nested_loop(spark):
    """The bucketed range-join rewrite must plan a broadcast HASH
    equi-join — the whole point versus the nested-loop scan a raw
    range predicate would produce."""
    plan = plan_text(_q(spark, "range_lookup_join"))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rfm_reuses_per_customer_exchange_single_scan(spark):
    """r05 regression guard: folding the recency quartiles into the
    quantile aggregate (exact monotone identity, see the query
    docstring) makes BOTH consumers of the per-customer reduce
    identically pruned, so AQE reuses the exchange — ONE orders scan
    instead of the pre-fix three. The pre-execution plan must contain
    exactly two canonically-equal custkey exchanges (AQE dedupes at
    runtime) and no third differently-pruned branch."""
    import re

    df = _q(spark, "rfm_segment_counts")
    pre = plan_text(df)
    # the old shape had THREE orders scans (rfm / bounds / cuts)
    assert len(re.findall(r"\(\d+\) Scan parquet", pre)) == 2, pre
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final or "ReusedQueryStage" in final, final


def test_steady_staleness_rule():
    """bench.py's steady-stamp staleness rule (r7): an entry measured
    at HEAD is fresh ONLY while the working tree carries no engine
    edits (the diff runs against the worktree, not commit..HEAD —
    uncommitted code is still code the stamp can't vouch for,
    code-review r7); an entry with a bogus or missing commit, or for
    an unknown query, is always stale."""
    import subprocess

    from elb_log_etl_enrichment_spark.plans.queries import all_queries

    all_queries()
    import bench

    head = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        cwd=bench.REPO_ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    dirty = bool(
        subprocess.run(
            ["git", "diff", "--name-only", "HEAD", "--",
             "elb_log_etl_enrichment_spark"],
            cwd=bench.REPO_ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip()
    )
    book = {
        "pricing_summary": {"commit": head, "steady": 1.0},
        "no_such_query": {"commit": head, "steady": 1.0},
        "revenue_by_nation": {"steady": 1.0},  # no commit recorded
        "sessionize_events": {"commit": "0000000", "steady": 1.0},
    }
    stale = set(bench._stale_steady_entries(book))
    assert ("pricing_summary" in stale) == dirty
    assert {"no_such_query", "revenue_by_nation", "sessionize_events"} <= stale


class TestAuditEnvelopeFuzz:
    """VERDICT r07 item 8: every error-bound / recall-floor /
    trace-invariant audit is fed a deliberately corrupted estimate —
    a wrong slack formula reads as eternal-green, so each gate must
    demonstrably FLIP on drift past its envelope."""

    def test_equi_depth_rank_gate_flips_on_doubled_estimates(
        self, spark, monkeypatch
    ):
        import pyspark.sql.functions as pf

        orig = pf.percentile_approx
        monkeypatch.setattr(
            pf,
            "percentile_approx",
            lambda c, p, a=None: F.transform(
                orig(c, p, a) if a is not None else orig(c, p),
                lambda x: x * 2,
            ),
        )
        rows = _q(spark, "equi_depth_histogram_orders_approx").collect()
        assert any(r.rank_ok == 0 for r in rows), rows

    def test_iqr_rank_gate_flips_on_doubled_quartiles(
        self, spark, monkeypatch
    ):
        import pyspark.sql.functions as pf

        orig = pf.percentile_approx
        monkeypatch.setattr(
            pf,
            "percentile_approx",
            lambda c, p, a=None: (
                orig(c, p, a) if a is not None else orig(c, p)
            )
            * 2
            + 1e9,
        )
        rows = _q(spark, "iqr_outlier_audit_approx").collect()
        assert rows and all(
            r.q1_rank_ok == 0 and r.q3_rank_ok == 0 for r in rows
        ), rows

    def test_approx_aggregates_gates_flip_independently(
        self, spark, monkeypatch
    ):
        import pyspark.sql.functions as pf

        orig_acd = pf.approx_count_distinct
        monkeypatch.setattr(
            pf, "approx_count_distinct", lambda c: orig_acd(c) * 2
        )
        rows = _q(spark, "approx_aggregates_events").collect()
        assert rows and all(r.users_est_ok == 0 for r in rows), rows
        assert all(r.median_rank_ok == 1 for r in rows), rows
        monkeypatch.undo()

        orig_pa = pf.percentile_approx
        monkeypatch.setattr(
            pf,
            "percentile_approx",
            lambda c, p, a=None: (
                orig_pa(c, p, a) if a is not None else orig_pa(c, p)
            )
            + 1e12,
        )
        rows = _q(spark, "approx_aggregates_events").collect()
        assert rows and all(r.median_rank_ok == 0 for r in rows), rows
        assert all(r.users_est_ok == 1 for r in rows), rows

    def test_hll_union_gate_flips_on_mismerged_estimate(
        self, spark, monkeypatch
    ):
        import pyspark.sql.functions as pf

        orig = pf.hll_sketch_estimate
        monkeypatch.setattr(
            pf, "hll_sketch_estimate", lambda c: orig(c) * 3
        )
        r = _q(spark, "hll_sketch_distinct_users").collect()[0]
        assert r.merged_est_ok == 0, r

    def test_vocab_quartile_gate_flips_on_skewed_partition(
        self, spark, monkeypatch
    ):
        from elb_log_etl_enrichment_spark.plans import queries_profiling as qp

        orig = qp.doc_quartiles_approx
        monkeypatch.setattr(
            qp,
            "doc_quartiles_approx",
            lambda d: orig(d).withColumn("q", F.lit(1)),
        )
        rows = _q(spark, "vocab_growth_audit_approx").collect()
        assert any(r.docs_balance_ok == 0 for r in rows), rows

    def test_pca_eigensum_gate_flips_on_scaled_spectrum(
        self, spark, monkeypatch
    ):
        from elb_log_etl_enrichment_spark.operators import linalg

        orig = linalg.pca_spectrum
        monkeypatch.setattr(
            linalg,
            "pca_spectrum",
            lambda emb, top_k=64: [
                (c, ev * 2, sh, cu)
                for c, ev, sh, cu in orig(emb, top_k=top_k)
            ],
        )
        r = _q(spark, "embedding_pca_variance").collect()[0]
        assert r.eigensum_ok == 0, r

    def test_pca_spectrum_gate_flips_on_shuffled_cumulatives(
        self, spark, monkeypatch
    ):
        from elb_log_etl_enrichment_spark.operators import linalg

        orig = linalg.pca_spectrum

        def corrupt(emb, top_k=64):
            rows = orig(emb, top_k=top_k)
            # reverse the cumulative-share column: no longer the
            # running sum of shares
            cums = [cu for _c, _ev, _sh, cu in rows][::-1]
            return [
                (c, ev, sh, cu2)
                for (c, ev, sh, _cu), cu2 in zip(rows, cums)
            ]

        monkeypatch.setattr(linalg, "pca_spectrum", corrupt)
        r = _q(spark, "embedding_pca_variance").collect()[0]
        assert r.spectrum_ok == 0, r

    def test_ann_recall_gate_flips_on_empty_and_wrong_approx(self, spark):
        from elb_log_etl_enrichment_spark.plans.queries_ext import (
            _ann_recall_audit,
        )

        empty = spark.createDataFrame([], "query_id long, neighbor long")
        r = _ann_recall_audit(spark, SF, empty, k=3, floor=0.4).collect()[0]
        assert r.recall_ok == 0 and r.n_queries > 0, r
        # wrong neighbors (shifted ids) must not count as hits
        from elb_log_etl_enrichment_spark.operators.similarity import (
            cosine_topk_arrow,
        )
        from elb_log_etl_enrichment_spark.sources.tables import load_table

        e = load_table(spark, SF, "embeddings")
        wrong = (
            cosine_topk_arrow(e, F.col("vec_id") % 100 == 0, k=3)
            .select("query_id", (F.col("neighbor") + 100000).alias("neighbor"))
        )
        r = _ann_recall_audit(spark, SF, wrong, k=3, floor=0.4).collect()[0]
        assert r.recall_ok == 0, r

    def test_ann_recall_accounting_immune_to_duplicate_pairs(self, spark):
        """ADVICE r7: duplicate (query_id, neighbor) pairs in an approx
        frame must not fan out the join and inflate the recall."""
        from elb_log_etl_enrichment_spark.operators.similarity import (
            cosine_topk_arrow,
        )
        from elb_log_etl_enrichment_spark.plans.queries_ext import (
            _ann_recall_audit,
        )
        from elb_log_etl_enrichment_spark.sources.tables import load_table

        e = load_table(spark, SF, "embeddings")
        exact = cosine_topk_arrow(e, F.col("vec_id") % 100 == 0, k=3).select(
            "query_id", "neighbor"
        )
        doubled = exact.unionByName(exact)
        r = _ann_recall_audit(spark, SF, doubled, k=3, floor=0.4).collect()[0]
        r1 = _ann_recall_audit(spark, SF, exact, k=3, floor=0.4).collect()[0]
        assert r.recall_ok == 1 and r1.recall_ok == 1
        assert r.n_queries == r1.n_queries

    def test_bpe_roundtrip_gate_flips_on_corrupt_encoder(
        self, spark, monkeypatch
    ):
        from elb_log_etl_enrichment_spark.operators import bpe

        orig = bpe.bpe_encode_tokens

        def corrupt(vocab, merges, **kw):
            out = orig(vocab, merges, **kw)
            return out.withColumn("bpe_sym", F.slice("bpe_sym", 1, 1))

        monkeypatch.setattr(bpe, "bpe_encode_tokens", corrupt)
        rows = _q(spark, "bpe_encode_stats").collect()
        assert any(r.roundtrip_ok == 0 for r in rows), rows

    def test_bpe_bounds_gate_flips_on_inflated_counts(
        self, spark, monkeypatch
    ):
        from elb_log_etl_enrichment_spark.operators import bpe

        orig = bpe.bpe_encode_tokens

        def corrupt(vocab, merges, **kw):
            out = orig(vocab, merges, **kw)
            return out.withColumn(
                "n_bpe_tokens", F.col("n_bpe_tokens") + F.lit(1000)
            )

        monkeypatch.setattr(bpe, "bpe_encode_tokens", corrupt)
        rows = _q(spark, "bpe_encode_stats").collect()
        assert rows and all(r.tokens_in_bounds == 0 for r in rows), rows

    def test_footer_minmax_gate_flips_on_divergent_data(
        self, spark, monkeypatch
    ):
        """Feed the audit a data side that disagrees with the footers
        (a filtered lineitem): the min/max truthfulness flag must
        flip while the footer-internal counts stay consistent."""
        from elb_log_etl_enrichment_spark.sources import tables

        orig = tables.load_table

        def corrupt(sess, sf_dir, name, **kw):
            df = orig(sess, sf_dir, name, **kw)
            if name == "lineitem":
                med = df.agg(
                    F.percentile_approx("l_orderkey", F.lit(0.5))
                ).collect()[0][0]
                return df.filter(F.col("l_orderkey") < F.lit(med))
            return df

        monkeypatch.setattr(tables, "load_table", corrupt)
        r = _q(spark, "parquet_footer_stats").collect()[0]
        assert r.footer_minmax_ok == 0, r
        assert r.values_complete_ok == 1, r


def _jvm_nodes(jplan, name: str):
    """All nodes in a JVM physical-plan tree whose nodeName contains
    ``name``; descends through the AdaptiveSparkPlan wrapper via its
    pre-execution initialPlan (which carries the join hints)."""
    out, stack = [], [jplan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.initialPlan())
            continue
        if name in node.nodeName():
            out.append(node)
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


def test_knn_label_agreement_broadcasts_topk_not_corpus(spark):
    """VERDICT r03 item 1: the label joins must broadcast the BOUNDED
    top-k frame (whose subtree carries the vec_id % 100 query-subset
    filter), never the corpus-sized label projection. Every
    BroadcastExchange subtree must therefore contain the query filter,
    and the full-corpus label scan must appear outside all of them."""
    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries

    all_queries()
    df = REGISTRY["knn_label_agreement"].fn(spark, "/root/testdata/sf0.001")
    jplan = df._jdf.queryExecution().executedPlan()
    exchanges = _jvm_nodes(jplan, "BroadcastExchange")
    assert exchanges, "expected broadcast label joins over the top-k frame"
    for ex in exchanges:
        sub = ex.toString()
        assert "% 100)" in sub, (
            "BroadcastExchange without the query-subset filter — "
            "a corpus-sized side is being broadcast:\n" + sub[:2000]
        )


def test_exact_median_iterated_narrowing_bounds_window_input(spark):
    """VERDICT r03 item 2: exact_median_two_pass must iterate the
    histogram narrowing so no single-partition window ever ranks raw
    rows — every Window in the plan must sit above a HashAggregate,
    and the old per-row row_number rank must be gone. r10: the
    per-level cumulative windows moved to driver-side integer
    arithmetic over the collected ≤1024-row histograms (guide §8), so
    the ONLY window left is the final distinct-value selection."""
    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
    from elb_log_etl_enrichment_spark.plans.queries_stats import (
        _SEL_DEPTH,
        histogram_narrow,
    )

    all_queries()
    df = REGISTRY["exact_median_two_pass"].fn(spark, "/root/testdata/sf0.001")
    jplan = df._jdf.queryExecution().executedPlan()
    windows = _jvm_nodes(jplan, "Window")
    # r10 driver-steered narrowing: only the final distinct-value
    # selection window survives (levels steer via collected histograms)
    assert len(windows) == 1, [w.nodeName() for w in windows]
    for w in windows:
        assert "row_number" not in w.toString().splitlines()[0]
        assert _jvm_nodes(w, "HashAggregate"), (
            "Window over raw rows:\n" + w.toString()[:2000]
        )

    # functional bound: narrowing over 200k spread-out values leaves a
    # final bucket within small-constant reach of n/1024 (equi-width
    # bins over a hash-spread domain; r10's early stop returns the
    # level-1 bucket once it is driver-histogram-small, so the exact
    # n/1024 bound no longer applies — 2x covers the Poisson spread)
    import pyspark.sql.functions as F

    vals = spark.range(200_000).select(
        (F.col("id") * 2654435761 % 1000003).cast("double").alias("value")
    )
    k = vals.agg(F.expr("(count(*) + 1) div 2").alias("k"))
    bucket, resid = histogram_narrow(vals, k, levels=_SEL_DEPTH)
    n_bucket = bucket.count()
    assert n_bucket <= 2 * (200_000 // 1024), n_bucket
    # the residual rank stays a valid index into the bucket
    r = resid.first().k
    assert 1 <= r <= n_bucket
