"""Registry entries extending relational-inventory breadth (SURVEY.md
§2.4 note: join/window/agg shapes beyond the reference's own surface)
plus the streaming, multimodal and full-ELB-pipeline entries.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import PersistSlot, scratch_dir
from ..operators.multimodal import attach_payload, decode_media
from .queries import REGISTRY, _t, register

#: session-scoped SHARED geo cache for the batch ELB fixture queries:
#: applicationId → cache path. The three cache-using fixture queries
#: (elb_pipeline_hourly, elb_error_report, elb_bot_report) parse the
#: SAME extended fixture corpus with the SAME deterministic fetch, so
#: one cache serves all three. The first query of a session fills it
#: through the pipeline's own primitives (``new_keys`` →
#: ``fetch_geolocations`` → ``update_geo_cache``); every query then
#: joins ``load_geo_cache`` of the shared path with no fetch and no
#: probe job — the reference's own mature-cache steady state. Results
#: are identical: geo columns are a pure function of the IP. Session-
#: scoped (not cross-run) so every bench invocation still fills the
#: cache once; single-threaded registry execution is the same contract
#: every engine memo assumes.
_GEO_CACHE_SHARED: dict[str, str] = {}


def _elb_fixture_enriched(spark: SparkSession) -> DataFrame:
    """The extended ELB fixture corpus, parsed and geo-enriched through
    the shared session cache (see ``_GEO_CACHE_SHARED``)."""
    from ..operators.enrich import new_keys
    from ..plans.pipeline import make_feature_chain_template
    from ..session import ensure_engine_confs
    from ..sources.alb_fixtures import write_fixture_parquet
    from ..sources.elb_logs import parse_elb_lines
    from ..sources.geo_cache import load_geo_cache, update_geo_cache
    from ..sources.http_geo import fetch_geolocations

    # tz-sensitive calendar features: pin session tz even on a vanilla
    # session from the caller (no registry table → no load_table call)
    ensure_engine_confs(spark)
    if not os.path.exists(_ELB_FIXTURE_PARQUET):
        write_fixture_parquet(_ELB_FIXTURE_PARQUET, extended=True)
    parsed = parse_elb_lines(spark.read.parquet(_ELB_FIXTURE_PARQUET))
    app = spark.sparkContext.applicationId
    path = _GEO_CACHE_SHARED.get(app)
    if path is None:
        # one key for every app: a new session's dir replaces the dead
        # session's, so their memo entries go too
        _GEO_CACHE_SHARED.clear()
        path = os.path.join(scratch_dir("elb_geo_cache_shared_"), "cache.parquet")
        delta = fetch_geolocations(new_keys(parsed, load_geo_cache(spark, path)))
        update_geo_cache(spark, delta, path)
        _GEO_CACHE_SHARED[app] = path  # registered only once filled
    return make_feature_chain_template()(parsed, load_geo_cache(spark, path))


def _stage_two_batches(first: DataFrame, second: DataFrame, src: str) -> None:
    """Stage two frames as two parquet files whose modification times
    force FileStreamSource's processing order (it sorts by mtime), so
    ONE availableNow run with ``maxFilesPerTrigger=1`` replays them as
    micro-batch 0 (history) then 1 (the cron tick) — the two-run
    ingest shape at a single stream-startup cost (verdict r05 item 4).
    The mtime gap is a full minute; ties are impossible."""
    first.coalesce(1).write.mode("append").parquet(src)
    now = time.time()
    for f in os.listdir(src):
        if not f.startswith("_"):
            os.utime(os.path.join(src, f), (now - 60, now - 60))
    second.coalesce(1).write.mode("append").parquet(src)


# --------------------------------------------------------------------------
# Full-outer join: per-nation customer vs supplier presence.
# --------------------------------------------------------------------------
@register(
    "full_outer_nation_presence",
    sql="""
    SELECT CAST(COALESCE(a.k, b.k) AS BIGINT) AS nationkey,
           CAST(COALESCE(a.n_cust, 0) AS BIGINT) AS n_cust,
           CAST(COALESCE(b.n_supp, 0) AS BIGINT) AS n_supp
    FROM (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1) a
    FULL OUTER JOIN
         (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1) b
    ON a.k = b.k
    """,
    tags=("join", "full_outer"),
)
def full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    a = c.groupBy(F.col("c_nationkey").alias("ka")).agg(F.count(F.lit(1)).alias("n_cust"))
    b = s.groupBy(F.col("s_nationkey").alias("kb")).agg(F.count(F.lit(1)).alias("n_supp"))
    return a.join(b, a.ka == b.kb, "full").select(
        F.coalesce(F.col("ka"), F.col("kb")).cast("long").alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).cast("long").alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).cast("long").alias("n_supp"),
    )


# --------------------------------------------------------------------------
# Cross join (small dims only — both engines materialize |A|·|B|).
# --------------------------------------------------------------------------
@register(
    "cross_join_region_priority",
    sql="""
    SELECT r_name, o_orderpriority
    FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
    """,
    tags=("join", "cross"),
)
def cross_join_region_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").select("r_name")
    p = _t(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    return r.crossJoin(p)


# --------------------------------------------------------------------------
# Correlated subquery: orders above their own customer's average.
# (Spark expresses the correlation as a per-key window — one shuffle,
# no join back; the oracle keeps the literal correlated form.)
# --------------------------------------------------------------------------
@register(
    "orders_above_customer_avg",
    sql="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_price
    FROM orders o
    WHERE o_totalprice > (
        SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*)
        FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    GROUP BY o_orderpriority
    """,
    tags=("subquery", "correlated", "window"),
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    # decimal-sum per-customer threshold + output average (order-
    # independent across engines; a customer's average CAN land exactly
    # on one of their 2-dp prices, where double drift flips membership)
    w = Window.partitionBy("o_custkey")
    cust_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    out_avg = F.round(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
        / F.count(F.lit(1)),
        6,
    )
    return (
        o.withColumn("__cust_avg", cust_avg)
        .filter(F.col("o_totalprice") > F.col("__cust_avg"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            out_avg.alias("avg_price"),
        )
    )


# --------------------------------------------------------------------------
# lead/lag/first_value neighbors (SURVEY §2.6 breadth).
# --------------------------------------------------------------------------
@register(
    "event_neighbors",
    sql="""
    SELECT event_id,
           lag(event_type)  OVER w AS prev_type,
           lead(event_type) OVER w AS next_type,
           first_value(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window", "lead", "lag", "first_value"),
)
def event_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_type").over(wf).alias("first_type"),
    )


# --------------------------------------------------------------------------
# ntile quartiles within a partition (deterministic tiebreak).
# --------------------------------------------------------------------------
@register(
    "order_price_quartiles",
    sql="""
    SELECT o_orderpriority, CAST(q AS BIGINT) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM (
        SELECT o_orderpriority, o_totalprice,
               ntile(4) OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey) AS q
        FROM orders
    ) t
    GROUP BY o_orderpriority, q
    """,
    tags=("window", "ntile"),
)
def order_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.withColumn("quartile", F.ntile(4).over(w).cast("long"))
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


# --------------------------------------------------------------------------
# Interpolated percentiles (exact, oracle-checked; percentile_approx is
# the documented 100 TB substitute — SURVEY §7.4 trap 6).
# --------------------------------------------------------------------------
@register(
    "value_percentiles_by_type",
    sql="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 6) AS p25,
           ROUND(quantile_cont(value, 0.50), 6) AS p50,
           ROUND(quantile_cont(value, 0.75), 6) AS p75,
           ROUND(quantile_cont(value, 0.90), 6) AS p90
    FROM events GROUP BY event_type
    """,
    tags=("agg", "percentile"),
)
def value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    # one array-percentage aggregate = one value buffer + one sort per
    # group (four scalar percentile() calls would keep four)
    qs = F.percentile(
        "value", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75), F.lit(0.90))
    )
    return (
        e.groupBy("event_type")
        .agg(qs.alias("qs"))
        .select(
            "event_type",
            F.round(F.col("qs")[0], 6).alias("p25"),
            F.round(F.col("qs")[1], 6).alias("p50"),
            F.round(F.col("qs")[2], 6).alias("p75"),
            F.round(F.col("qs")[3], 6).alias("p90"),
        )
    )


# --------------------------------------------------------------------------
# min_by / max_by (argmin/argmax) aggregates.
# --------------------------------------------------------------------------
@register(
    "extreme_events_by_type",
    sql="""
    SELECT event_type,
           CAST(first(event_id ORDER BY value, event_id) AS BIGINT)
               AS min_value_event,
           CAST(first(event_id ORDER BY value DESC, event_id DESC) AS BIGINT)
               AS max_value_event,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value
    FROM events GROUP BY event_type
    """,
    tags=("agg", "argminmax"),
)
def extreme_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min_by/max_by over a (value, event_id) struct: equal values are
    # tie-broken by event_id (min side → lowest id, max side → highest
    # id) — raw min_by(event_id, value) is nondeterministic on ties,
    # and the sf0.1 data does contain exact value ties.
    e = _t(spark, sf_dir, "events")
    order = F.struct(F.col("value"), F.col("event_id"))
    return e.groupBy("event_type").agg(
        F.min_by("event_id", order).cast("long").alias("min_value_event"),
        F.max_by("event_id", order).cast("long").alias("max_value_event"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


# --------------------------------------------------------------------------
# explode/unnest word count with deterministic top-k.
# --------------------------------------------------------------------------
@register(
    "top_tokens_wordcount",
    sql="""
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(regexp_extract_all(text, '\\S+')) AS tok FROM documents) t
    GROUP BY tok
    ORDER BY n DESC, tok ASC
    LIMIT 10
    """,
    tags=("explode", "agg", "topk"),
)
def top_tokens_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    return (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# Pivot (explicit value list → deterministic columns; oracle uses
# conditional aggregation, the same plan Spark lowers pivot into).
# --------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_event_type_counts",
    sql=f"""
    SELECT user_id,
           {", ".join(f"CAST(count_if(event_type = '{t}') AS BIGINT) AS {t}" for t in _EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
    tags=("pivot", "agg"),
)
def pivot_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    pivoted = (
        e.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    )
    return pivoted.na.fill(0, _EVENT_TYPES)


# --------------------------------------------------------------------------
# Date arithmetic: truncation, distinct active days, day spans.
# --------------------------------------------------------------------------
@register(
    "user_activity_calendar",
    sql="""
    SELECT user_id,
           strftime(date_trunc('week', MIN(ts)), '%Y-%m-%d') AS first_week,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days,
           CAST(datediff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))
                AS BIGINT) AS span_days
    FROM events GROUP BY user_id
    """,
    tags=("datetime", "agg"),
)
def user_activity_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.date_format(F.date_trunc("week", F.min("ts")), "yyyy-MM-dd").alias(
            "first_week"
        ),
        F.count_distinct(F.to_date("ts")).alias("n_active_days"),
        F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts")))
        .cast("long")
        .alias("span_days"),
    )


# --------------------------------------------------------------------------
# Multimodal plumbing: binary payload → mapInPandas fake decode →
# metadata aggregation. The oracle mirrors the deterministic fake
# formula (operators/multimodal.fake_decode), so the Arrow round-trip
# is fully hash-checked.
# --------------------------------------------------------------------------
@register(
    "multimodal_decode_stats",
    sql="""
    SELECT CASE strlen(text) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                ELSE 'webp' END AS media_format,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(64 + strlen(text) % 256), 6) AS avg_width,
           ROUND(AVG(64 + (strlen(text) * 7) % 256), 6) AS avg_height,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes
    FROM documents
    GROUP BY 1
    """,
    tags=("multimodal", "udf", "mapInPandas"),
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    decoded = decode_media(attach_payload(d, "doc_id", "text"))
    return decoded.groupBy("media_format").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("width"), 6).alias("avg_width"),
        F.round(F.avg("height"), 6).alias("avg_height"),
        F.sum("n_bytes").alias("total_bytes"),
    )


# --------------------------------------------------------------------------
# Real-bytes multimodal round trip: executor-side assembly of VALID
# PNG containers (stdlib zlib — signature/IHDR/IDAT/IEND with correct
# CRCs, dims a pure function of doc_id), then the zero-dependency
# header sniffer reads the dimensions back from the bytes. Every
# width/height below comes out of actual binary parsing; the oracle
# recomputes the same dims from doc_id arithmetic, so a sniffer bug
# (endianness, offset, chunk walk) breaks the hash.
# --------------------------------------------------------------------------
@register(
    "multimodal_sniff_stats",
    sql="""
    SELECT CASE WHEN doc_id % 3 = 2 THEN NULL ELSE 'png' END AS media_format,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(CASE WHEN doc_id % 3 <> 2 THEN 3 + doc_id % 5 END), 6)
               AS avg_width,
           ROUND(AVG(CASE WHEN doc_id % 3 <> 2 THEN 2 + doc_id % 7 END), 6)
               AS avg_height,
           CAST(MAX(CASE WHEN doc_id % 3 <> 2 THEN 3 + doc_id % 5 END) AS BIGINT)
               AS max_width
    FROM documents
    GROUP BY 1
    """,
    tags=("multimodal", "udf", "mapInPandas", "binary", "sniff"),
)
def multimodal_sniff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..operators.multimodal import sniff_media

    d = _t(spark, sf_dir, "documents").select("doc_id")

    def build_payloads(batches):
        import struct
        import zlib

        def chunk(ctype: bytes, data: bytes) -> bytes:
            raw = ctype + data
            return (
                struct.pack(">I", len(data))
                + raw
                + struct.pack(">I", zlib.crc32(raw) & 0xFFFFFFFF)
            )

        def png(w: int, h: int) -> bytes:
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            idat = zlib.compress(
                b"".join(b"\x00" + bytes(3 * w) for _ in range(h))
            )
            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", idat)
                + chunk(b"IEND", b"")
            )

        for pdf in batches:
            ids = pdf["doc_id"]
            payloads = [
                b"not an image"
                if i % 3 == 2
                else png(int(3 + i % 5), int(2 + i % 7))
                for i in ids
            ]
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = d.mapInPandas(
        build_payloads, schema="media_id long, payload binary"
    )
    return sniff_media(media).groupBy("media_format").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("width"), 6).alias("avg_width"),
        F.round(F.avg("height"), 6).alias("avg_height"),
        F.max("width").alias("max_width"),
    )


# --------------------------------------------------------------------------
# REAL pixel decode, oracle-checked (round 4): per sampled doc a
# 16×16 RGB tile is generated from an integer formula, encoded as an
# ACTUAL PNG exercising all five scanline filters, decoded back
# through the stdlib codec (operators/png_codec.py), and per-channel
# means are computed from the DECODED samples. DuckDB computes the
# expected means straight from the formula — no PNG anywhere — so any
# codec bug (filter math, stride, CRC-skipped corruption, channel
# interleave) breaks the hash. Means are integer sums divided by 256
# (a power of two): exact doubles in both engines.
# --------------------------------------------------------------------------
@register(
    "multimodal_pixel_roundtrip_stats",
    sql="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 = 0),
    g AS (SELECT unnest(generate_series(0, 15)) AS i),
    px AS (SELECT ids.doc_id, r.i AS r, c.i AS c FROM ids, g r, g c)
    SELECT doc_id AS media_id,
           CAST(16 AS BIGINT) AS width,
           CAST(16 AS BIGINT) AS height,
           ROUND(AVG((doc_id * 31 + r * 17 + c * 13) % 256), 6) AS mean_r,
           ROUND(AVG((doc_id * 31 + r * 17 + c * 13 + 7) % 256), 6) AS mean_g,
           ROUND(AVG((doc_id * 31 + r * 17 + c * 13 + 14) % 256), 6) AS mean_b
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("multimodal", "codec", "png", "mapInPandas", "oracle"),
)
def multimodal_pixel_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import synthetic_png_roundtrip_stats

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    stats = synthetic_png_roundtrip_stats(ids, side=16)
    return stats.select(
        "media_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# REAL audio decode, oracle-checked (round 4): the WAV sibling of the
# PNG round-trip above — 16-bit PCM waveforms from an integer formula
# round-trip through actual RIFF bytes (operators/wav_codec.py), and
# mean / RMS / zero-crossing stats come from the DECODED samples
# while DuckDB recomputes them from the formula. Mean and mean-square
# are integer sums over 1024 (a power of two) so both are exact
# doubles; sqrt is correctly rounded IEEE in both engines (the
# ab_welch_ttest precedent).
# --------------------------------------------------------------------------
@register(
    "multimodal_wav_roundtrip_stats",
    sql="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 = 0),
    g AS (SELECT unnest(generate_series(0, 1023)) AS i),
    s AS (
        SELECT ids.doc_id, g.i,
               ((doc_id * 37 + i * 73) % 2048) - 1024 AS v
        FROM ids, g
    ),
    l AS (
        SELECT doc_id, v,
               LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        FROM s
    )
    SELECT doc_id AS media_id,
           CAST(1024 AS BIGINT) AS n_samples,
           CAST(16000 AS BIGINT) AS sample_rate,
           ROUND(CAST(SUM(v) AS DOUBLE) / 1024, 6) AS mean_amp,
           ROUND(SQRT(CAST(SUM(v * v) AS DOUBLE) / 1024), 6) AS rms,
           CAST(COUNT(CASE WHEN pv * v < 0 THEN 1 END) AS BIGINT)
               AS zero_crossings
    FROM l GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("multimodal", "codec", "wav", "audio", "mapInPandas", "oracle"),
)
def multimodal_wav_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import synthetic_wav_roundtrip_stats

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    stats = synthetic_wav_roundtrip_stats(ids)
    return stats.select(
        "media_id",
        "n_samples",
        "sample_rate",
        F.round("mean_amp", 6).alias("mean_amp"),
        F.round("rms", 6).alias("rms"),
        "zero_crossings",
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# REAL video demux + frame sampling, oracle-checked (round 4): the
# trio-completing Y4M rung. Per sampled doc an 8-frame C444 YUV clip
# round-trips through an actual YUV4MPEG2 stream
# (operators/y4m_codec.py) — frame boundaries are parsed from marker
# bytes and plane strides — then every 2nd frame is sampled and
# per-plane means come from the DECODED planes. DuckDB recomputes
# them from the generation formula; sampled volume is 4 frames × 256
# px (a power of two), so the means are exact doubles.
# --------------------------------------------------------------------------
@register(
    "multimodal_video_frame_sample_stats",
    sql="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 = 0),
    f AS (SELECT unnest(generate_series(0, 7)) AS f),
    g AS (SELECT unnest(generate_series(0, 15)) AS i),
    px AS (
        SELECT ids.doc_id,
               (doc_id * 11 + f.f * 29 + r.i * 17 + c.i * 13) % 256 AS y
        FROM ids, f, g r, g c WHERE f.f % 2 = 0
    )
    SELECT doc_id AS media_id,
           CAST(8 AS BIGINT) AS n_frames,
           CAST(4 AS BIGINT) AS n_sampled,
           ROUND(AVG(y), 6)               AS mean_y,
           ROUND(AVG((y + 85) % 256), 6)  AS mean_u,
           ROUND(AVG((y + 170) % 256), 6) AS mean_v
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("multimodal", "codec", "video", "y4m", "mapInPandas", "oracle"),
)
def multimodal_video_frame_sample_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import synthetic_y4m_frame_sample_stats

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    stats = synthetic_y4m_frame_sample_stats(ids)
    return stats.select(
        "media_id",
        "n_frames",
        "n_sampled",
        F.round("mean_y", 6).alias("mean_y"),
        F.round("mean_u", 6).alias("mean_u"),
        F.round("mean_v", 6).alias("mean_v"),
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# REAL image resize on really-decoded pixels (round 4): the
# feature-extract rung on top of the pixel round-trip. The formula
# tile round-trips through actual PNG bytes, a 2×2 integer box
# downsample runs over the DECODED samples, the RESIZED tile
# round-trips through PNG again, and channel means come from the
# second decode. DuckDB recomputes the block floor-means from the
# formula — two decodes, the stride walk, and the box arithmetic all
# sit between the query and the oracle. Means are sums over 64 (a
# power of two): exact doubles.
# --------------------------------------------------------------------------
@register(
    "multimodal_image_resize_stats",
    sql="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 = 0),
    g AS (SELECT unnest(generate_series(0, 7)) AS i),
    d AS (SELECT unnest(generate_series(0, 1)) AS j),
    k AS (SELECT unnest(generate_series(0, 2)) AS k),
    blocks AS (
        SELECT ids.doc_id, r.i AS r, c.i AS c, k.k AS k,
               SUM((doc_id * 31 + (r.i * 2 + dr.j) * 17
                    + (c.i * 2 + dc.j) * 13 + k.k * 7) % 256) // 4 AS bv
        FROM ids, g r, g c, k, d dr, d dc
        GROUP BY ids.doc_id, r.i, c.i, k.k
    )
    SELECT doc_id AS media_id,
           CAST(16 AS BIGINT) AS src_side,
           CAST(8 AS BIGINT) AS out_width,
           CAST(8 AS BIGINT) AS out_height,
           ROUND(AVG(CASE WHEN k = 0 THEN bv END), 6) AS mean_r,
           ROUND(AVG(CASE WHEN k = 1 THEN bv END), 6) AS mean_g,
           ROUND(AVG(CASE WHEN k = 2 THEN bv END), 6) AS mean_b
    FROM blocks GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("multimodal", "codec", "png", "resize", "mapInPandas", "oracle"),
)
def multimodal_image_resize_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import synthetic_png_resize_stats

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    stats = synthetic_png_resize_stats(ids, side=16, factor=2)
    return stats.select(
        "media_id",
        "src_side",
        "out_width",
        "out_height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# REAL audio feature extraction (round 4): framing + per-frame
# energy/ZCR over the RIFF round-trip — the first stage of every
# audio DSP chain, on DECODED samples. The waveform formula carries a
# quadratic term so frame energies genuinely differ; outputs are
# all-integer (peak frame by energy with ties→lowest, its energy,
# total energy, in-frame zero crossings), so DuckDB — re-framing the
# formula with window functions, no WAV anywhere — must match
# bit-for-bit.
# --------------------------------------------------------------------------
@register(
    "multimodal_audio_frame_features",
    sql="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 = 0),
    g AS (SELECT unnest(generate_series(0, 2047)) AS i),
    s AS (
        SELECT ids.doc_id, g.i, g.i // 256 AS f,
               ((doc_id * 37 + i * 5 + (i * i * 31) % 997) % 2048)
                   - 1024 AS v
        FROM ids, g
    ),
    l AS (
        SELECT doc_id, f, v,
               LAG(v) OVER (PARTITION BY doc_id, f ORDER BY i) AS pv
        FROM s
    ),
    fr AS (
        SELECT doc_id, f, SUM(v * v) AS energy,
               COUNT(CASE WHEN pv * v < 0 THEN 1 END) AS zc
        FROM l GROUP BY doc_id, f
    ),
    rk AS (
        SELECT doc_id, f, energy, zc,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY energy DESC, f ASC
               ) AS rn
        FROM fr
    )
    SELECT doc_id AS media_id,
           CAST(8 AS BIGINT) AS n_frames,
           CAST(MAX(CASE WHEN rn = 1 THEN f END) AS BIGINT) AS peak_frame,
           CAST(MAX(CASE WHEN rn = 1 THEN energy END) AS BIGINT)
               AS peak_energy,
           CAST(SUM(energy) AS BIGINT) AS total_energy,
           CAST(SUM(zc) AS BIGINT) AS total_zero_crossings
    FROM rk GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("multimodal", "codec", "wav", "audio", "features",
          "mapInPandas", "oracle"),
)
def multimodal_audio_frame_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import synthetic_wav_frame_features

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    return (
        synthetic_wav_frame_features(ids)
        .select(
            "media_id",
            "n_frames",
            "peak_frame",
            "peak_energy",
            "total_energy",
            "total_zero_crossings",
        )
        .orderBy("media_id")
    )


# --------------------------------------------------------------------------
# REAL video temporal analysis (round 4): consecutive-frame SAD (the
# scene-change / motion-estimation primitive) over really-demuxed Y4M
# frames. The luma formula's quadratic frame term makes inter-frame
# deltas vary, so the peak transition is content-dependent, not
# constant. All-integer outputs; DuckDB re-derives them from the
# formula with a LAG over the frame axis.
# --------------------------------------------------------------------------
@register(
    "multimodal_video_motion_stats",
    sql="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 = 0),
    f AS (SELECT unnest(generate_series(0, 7)) AS f),
    g AS (SELECT unnest(generate_series(0, 15)) AS i),
    px AS (
        SELECT ids.doc_id, f.f, r.i AS r, c.i AS c,
               (doc_id * 11 + f.f * f.f * 29 + r.i * 17 + c.i * 13)
                   % 256 AS y
        FROM ids, f, g r, g c
    ),
    dl AS (
        SELECT doc_id, f, r, c, y,
               LAG(y) OVER (
                   PARTITION BY doc_id, r, c ORDER BY f
               ) AS py
        FROM px
    ),
    sad AS (
        SELECT doc_id, f, SUM(ABS(y - py)) AS sad
        FROM dl WHERE f > 0 GROUP BY doc_id, f
    ),
    rk AS (
        SELECT doc_id, f, sad,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY sad DESC, f ASC
               ) AS rn
        FROM sad
    )
    SELECT doc_id AS media_id,
           CAST(8 AS BIGINT) AS n_frames,
           CAST(SUM(sad) AS BIGINT) AS total_sad,
           CAST(MAX(CASE WHEN rn = 1 THEN f END) AS BIGINT)
               AS peak_transition,
           CAST(MAX(CASE WHEN rn = 1 THEN sad END) AS BIGINT) AS peak_sad
    FROM rk GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("multimodal", "codec", "video", "y4m", "motion",
          "mapInPandas", "oracle"),
)
def multimodal_video_motion_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import synthetic_y4m_motion_stats

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    return (
        synthetic_y4m_motion_stats(ids)
        .select(
            "media_id",
            "n_frames",
            "total_sad",
            "peak_transition",
            "peak_sad",
        )
        .orderBy("media_id")
    )


# --------------------------------------------------------------------------
# Structured Streaming sessionization (session_window) — oracle-checked
# against the batch lag/cumsum construction: gap-based session windows
# are semantically identical to the reference's sessionizer.
# --------------------------------------------------------------------------
@register(
    "streaming_sessionize_events",
    sql="""
    WITH t AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
    d AS (
        -- session_window's gap is half-open: an event EXACTLY gap after
        -- the previous one starts a new session, hence >= (the batch
        -- sessionizer and its oracle use the reference's strict >).
        SELECT *, CASE WHEN ms - lag(ms) OVER (
                   PARTITION BY user_id ORDER BY ms, event_id) >= 1800000
               THEN 1 ELSE 0 END AS brk
        FROM t
    ),
    s AS (
        SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        FROM d
    )
    SELECT user_id,
           MIN(ms) AS session_start_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM s GROUP BY user_id, sess
    """,
    tags=("streaming", "session_window"),
)
def streaming_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import read_events_stream, run_available_now, sessionized_stream

    events = read_events_stream(spark, sf_dir)
    sessions = sessionized_stream(events, gap="30 minutes")
    ckpt = scratch_dir("ckpt_", "sessionize")
    result = run_available_now(
        sessions, spark, "mem_stream_sessions", ckpt, state_partitions=8
    )
    return result.select(
        "user_id",
        F.unix_millis("session_start").alias("session_start_ms"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 2).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# Structured Streaming tumbling hourly aggregate — oracle-checked
# against the equivalent batch GROUP BY on the truncated hour (exact
# counts; the approx-distinct column stays engine-side and is omitted).
# --------------------------------------------------------------------------
@register(
    "streaming_hourly_counts",
    sql="""
    SELECT epoch_ms(date_trunc('hour', ts)) AS hour_start_ms, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "tumbling_window"),
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import hourly_stream_agg, read_events_stream, run_available_now

    events = read_events_stream(spark, sf_dir)
    hourly = hourly_stream_agg(events)
    ckpt = scratch_dir("ckpt_", "hourly")
    result = run_available_now(
        hourly, spark, "mem_stream_hourly", ckpt, state_partitions=8
    )
    return result.select(
        F.unix_millis("hour_start").alias("hour_start_ms"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 2).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# Streaming watermark-bounded dedup — oracle-checked against batch
# DISTINCT. The streamed frame is projected to the dedup KEY columns
# only, so the surviving row set is exactly the distinct key set —
# deterministic even though WHICH physical duplicate survives is not.
# --------------------------------------------------------------------------
@register(
    "streaming_dedup_distinct_users",
    sql="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("streaming", "dedup", "watermark", "dropDuplicatesWithinWatermark"),
)
def streaming_dedup_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once replay dedup at the ingest edge
    (``dropDuplicatesWithinWatermark``): per-key state lives only
    until the watermark passes, so state is bounded by key cardinality
    × watermark horizon, never by stream length. Draining the whole
    input under Trigger.AvailableNow, the surviving key set must equal
    batch DISTINCT — the oracle for the streaming operator."""
    from ..streaming.stream import (
        deduped_stream,
        read_events_stream,
        run_available_now,
    )

    events = read_events_stream(spark, sf_dir)
    dd = deduped_stream(
        events.select("user_id", "event_type", "ts"),
        keys=["user_id", "event_type"],
    )
    ckpt = scratch_dir("ckpt_", "stream_dedup")
    result = run_available_now(
        dd, spark, "mem_stream_dedup", ckpt, output_mode="append",
        state_partitions=8,
    )
    return result.select("user_id", "event_type")


# --------------------------------------------------------------------------
# Chained stateful streaming: watermark dedup FEEDING a tumbling
# aggregate (two state stores, one watermark) — oracle-checked against
# the batch COUNT(DISTINCT user) per (hour, type). Whichever physical
# duplicate survives the dedup, its ts truncates to the same hour, so
# the downstream window counts are deterministic. Output mode is
# UPDATE: append would withhold every window the final watermark
# (max_ts − 2 h) hasn't passed, silently dropping the stream's tail
# hours from the drained result (measured: 865 vs 868 rows).
# --------------------------------------------------------------------------
@register(
    "streaming_dedup_hourly_active_users",
    sql="""
    SELECT epoch_ms(date_trunc('hour', ts)) AS hour_start_ms,
           event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_pairs
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "dedup", "chained_stateful", "tumbling_window"),
)
def streaming_dedup_hourly_active_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.stream import (
        dedup_then_hourly_users,
        read_events_stream,
        run_available_now,
    )

    events = read_events_stream(spark, sf_dir)
    out = dedup_then_hourly_users(events)
    ckpt = scratch_dir("ckpt_", "dedup_hourly")
    result = run_available_now(
        out, spark, "mem_stream_dedup_hourly", ckpt, output_mode="update",
        state_partitions=8,
    )
    # Update mode APPENDS each batch's changed rows to the memory sink:
    # in a multi-batch drain a window emits once per batch it grows in,
    # leaving stale intermediate counts alongside the final one. The
    # per-window count is nondecreasing (the upstream dedup only ever
    # admits new pairs), so MAX per window recovers exactly the final
    # emission regardless of batch slicing.
    return (
        result.groupBy("hour_start", "event_type")
        .agg(F.max("n_active_pairs").alias("n_active_pairs"))
        .select(
            F.unix_millis("hour_start").alias("hour_start_ms"),
            "event_type",
            F.col("n_active_pairs").cast("long").alias("n_active_pairs"),
        )
    )


# --------------------------------------------------------------------------
# Stream-stream interval join (attribution) — oracle-checked against
# the equivalent batch self-join: with Trigger.AvailableNow draining
# the whole input, the watermarked streaming join must produce exactly
# the batch result.
# --------------------------------------------------------------------------
@register(
    "streaming_view_purchase_join",
    sql="""
    SELECT a.user_id,
           a.event_id AS view_id,
           b.event_id AS purchase_id,
           CAST(epoch_ms(b.ts) - epoch_ms(a.ts) AS BIGINT) AS gap_ms
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL 30 MINUTE
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    """,
    tags=("streaming", "stream_stream_join", "interval_join"),
)
def streaming_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import (
        read_events_stream,
        run_available_now,
        view_purchase_join_stream,
    )

    events = read_events_stream(spark, sf_dir)
    joined = view_purchase_join_stream(events, max_gap="30 minutes").drop("view_ts")
    ckpt = scratch_dir("ckpt_", "vp_join")
    return run_available_now(
        joined, spark, "mem_stream_vp_join", ckpt, output_mode="append",
        state_partitions=8,
    )


# --------------------------------------------------------------------------
# Skew-safe two-stage salted aggregation (operators/skew.py) — result
# must equal the plain GROUP BY, which is exactly what the oracle runs.
# --------------------------------------------------------------------------
@register(
    "salted_user_event_totals",
    sql="""
    SELECT user_id,
           CAST(COUNT(event_id) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           ROUND(MAX(value), 6) AS max_value
    FROM events GROUP BY user_id
    """,
    tags=("agg", "skew", "salting"),
)
def salted_user_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    e = _t(spark, sf_dir, "events")
    out = salted_agg(
        e.select("user_id", "event_id", "value"),
        keys=["user_id"],
        aggs={
            "n_events": ("count", "event_id"),
            "__sum_value": ("sum", "value"),
            "__max_value": ("max", "value"),
        },
    )
    return out.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("__sum_value", 2).alias("sum_value"),
        F.round("__max_value", 6).alias("max_value"),
    )


# --------------------------------------------------------------------------
# Skew-safe salted JOIN (operators/skew.salted_join) — replicate the
# small side per salt, spread the big side's hot keys over n_salts
# reducers. Result must equal the plain join, which is the oracle.
# --------------------------------------------------------------------------
@register(
    "salted_event_mktsegment_join",
    sql="""
    SELECT c.c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("join", "skew", "salting"),
)
def salted_event_mktsegment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events ⋈ customer through the salted-join operator, forced onto
    the shuffle-hash path (`hint('shuffle_hash')`) — the scenario the
    operator exists for is a dim too big to broadcast with a hot fact
    key, so letting AQE broadcast the 150-row test dim would demo
    nothing. Every fact row meets exactly one replica (the one
    carrying its salt), so the result is the plain join — the oracle
    runs the unsalted JOIN."""
    from ..operators.skew import salted_join

    e = _t(spark, sf_dir, "events").select("user_id", "value")
    c = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        .hint("shuffle_hash")
    )
    joined = salted_join(e, c, on=["user_id"], n_salts=8)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("mktsegment")
    )


# --------------------------------------------------------------------------
# applyInPandas grouped custom operator (operators/grouped.py): the
# oracle replays the same math in SQL, hash-checking the whole Arrow
# grouped-map round trip.
# --------------------------------------------------------------------------
@register(
    "zscore_outlier_events",
    sql="""
    SELECT user_id, event_id, value, ROUND((value - m) / s, 6) AS zscore
    FROM (
        SELECT user_id, event_id, value,
               AVG(value)         OVER (PARTITION BY user_id) AS m,
               stddev_samp(value) OVER (PARTITION BY user_id) AS s,
               COUNT(*)           OVER (PARTITION BY user_id) AS n
        FROM events
    ) t
    WHERE n >= 2 AND s IS NOT NULL AND s <> 0
      AND abs((value - m) / s) > 2.0
    """,
    tags=("udf", "applyInPandas", "grouped"),
)
def zscore_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.grouped import zscore_outliers

    e = _t(spark, sf_dir, "events")
    out = zscore_outliers(e, threshold=2.0)
    return out.select(
        "user_id", "event_id", "value", F.round("zscore", 6).alias("zscore")
    )


_ZSCORE_SQL = REGISTRY["zscore_outlier_events"].sql


# --------------------------------------------------------------------------
# Built-in twin of the grouped-map demo above (VERDICT r01 item 7):
# identical semantics via window avg/stddev_samp/count — zero Python
# stages, whole-stage codegen end to end; this is the hot-path form,
# the applyInPandas one is the extension-point demo. Same oracle SQL.
# --------------------------------------------------------------------------
@register(
    "zscore_outlier_events_builtin",
    sql=_ZSCORE_SQL,
    tags=("window", "grouped", "builtin"),
)
def zscore_outlier_events_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.grouped import zscore_outliers_builtin

    e = _t(spark, sf_dir, "events")
    out = zscore_outliers_builtin(e, threshold=2.0)
    return out.select(
        "user_id", "event_id", "value", F.round("zscore", 6).alias("zscore")
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (vector analog of MinHash-LSH).
# --------------------------------------------------------------------------
def _embedding_near_dup_sql() -> str:
    from ..functions.vectors import lsh_sql_ctes

    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    {lsh_sql_ctes()},
    p AS (
        SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
               ROUND(list_dot_product(a.v, c.v) / (a.nrm * c.nrm), 6) AS cosine
        FROM nb a JOIN nb c ON a.bkt = c.bkt AND a.vec_id < c.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.3
    """


@register(
    "embedding_near_dup_pairs",
    sql=_embedding_near_dup_sql(),
    tags=("similarity", "dedup", "lsh"),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_near_dup

    e = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup(e, threshold=0.3)


# --------------------------------------------------------------------------
# HAVING over a join+agg (TPC-H Q18 shape): large orders by total
# line quantity.
# --------------------------------------------------------------------------
@register(
    "large_orders_having",
    sql="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           ROUND(o_totalprice, 2) AS total_price,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(l_quantity) > 200
    """,
    tags=("agg", "having", "join"),
)
def large_orders_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("__sum_qty"))
        .filter(F.col("__sum_qty") > 200)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
            F.round("__sum_qty", 2).alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# Disjunctive compound predicate (TPC-H Q19 shape): OR of AND-blocks
# across two tables — Catalyst pushes the part-only/lineitem-only
# conjuncts below the join (common-factor extraction).
# --------------------------------------------------------------------------
@register(
    "promo_revenue_disjunctive_filter",
    sql="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 5 AND l_quantity <= 25)
       OR (p_type = 'PROMO' AND p_size BETWEEN 10 AND 40
           AND l_quantity >= 10 AND l_quantity <= 45)
       OR (p_type = 'ECONOMY' AND l_discount > 0.05)
    """,
    tags=("filter", "disjunction", "join", "pushdown"),
)
def promo_revenue_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & (qty >= 5) & (qty <= 25)
        )
        | (
            (F.col("p_type") == "PROMO")
            & F.col("p_size").between(10, 40)
            & (qty >= 10) & (qty <= 45)
        )
        | ((F.col("p_type") == "ECONOMY") & (F.col("l_discount") > 0.05))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Bucketized range self-join (operators/rangejoin.py): pairs of events
# by the same user within 5 minutes. The oracle states the range
# predicate directly (DuckDB plans an IEJoin); Spark computes the
# identical set via the cell ±1 equi-join.
# --------------------------------------------------------------------------
@register(
    "events_within_5min_pairs",
    sql="""
    SELECT a.user_id,
           a.event_id AS id_a, b.event_id AS id_b,
           CAST(abs(epoch_ms(a.ts) - epoch_ms(b.ts)) AS BIGINT) AS gap_ms
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 300000
    """,
    tags=("join", "range", "custom"),
)
def events_within_5min_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import range_self_join

    e = _t(spark, sf_dir, "events")
    return range_self_join(e, key="user_id", ts="ts", id_col="event_id", max_gap_ms=300000)


# --------------------------------------------------------------------------
# Hypertable-style hierarchical rollup (minute → hour → day, coarser
# tiers from finer partials). Oracle: three direct GROUP BYs unioned.
# --------------------------------------------------------------------------
@register(
    "hierarchical_time_rollup",
    sql="""
    SELECT 'minute' AS level, epoch_ms(date_trunc('minute', ts)) AS bucket_start_ms,
           CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'hour', epoch_ms(date_trunc('hour', ts)),
           CAST(COUNT(*) AS BIGINT), ROUND(SUM(value), 2)
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'day', epoch_ms(date_trunc('day', ts)),
           CAST(COUNT(*) AS BIGINT), ROUND(SUM(value), 2)
    FROM events GROUP BY 2
    """,
    tags=("agg", "rollup", "hypertable", "custom"),
)
def hierarchical_time_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import hierarchical_time_rollup

    e = _t(spark, sf_dir, "events")
    return hierarchical_time_rollup(e, ts="ts", value="value")


# --------------------------------------------------------------------------
# ANN recall audits (r7: rows-only → oracle, same design as the
# approx-aggregate twins). The trained indexes (IVF cells / PQ
# codebooks) are iterative and engine-specific, so the REGISTERED
# query is the recall contract checked IN-PLAN against the exact
# Arrow/BLAS top-k on the same query set: the driver hash-fails the
# moment recall drops below the pinned floor. The neighbor frames
# stay available as the `*_detail` callables (and the exact
# neighbors as the oracle-backed `cosine_topk_arrow`); floors are
# conservative halves of values measured across sf0.001-sf0.1 on
# random uniform vectors — ANN's worst case (real clustered
# embedding corpora quantize better).
# --------------------------------------------------------------------------
_ANN_QUERY_PRED_SQL = "vec_id % 100 = 0"


def _ann_recall_audit_sql(k: int) -> str:
    return f"""
    SELECT CAST({k} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(1 AS BIGINT) AS recall_ok
    FROM embeddings WHERE {_ANN_QUERY_PRED_SQL}
    """


#: (applicationId, corpus plan identity, k) → collected exact top-k
#: pairs. Ground truth is a pure function of (corpus, k) and tiny
#: (O(|Q|·k) id pairs), so an eval harness computes it ONCE and scores
#: every index against it — without the memo the pq/ivfpq audits each
#: re-ran the full exact BLAS corpus scan per call (r7).
_EXACT_TOPK_MEMO: dict = {}


def _exact_topk_pairs(
    spark: SparkSession, e: DataFrame, pred, k: int
) -> list | None:
    from ..artifacts import plan_identity
    from ..operators.similarity import cosine_topk_arrow

    # BOTH identities: the canonicalized plan string normalizes the
    # scan RELATION (no path — two sf_dirs print identically, measured
    # r7), so file identity must come from inputFiles; the plan hash
    # covers filters/transforms the file list can't see.
    try:
        key = (
            spark.sparkContext.applicationId,
            tuple(sorted(e.inputFiles())),
            plan_identity(e),
            # the predicate picks the QUERY SET — plan_identity(e)
            # covers the corpus frame only, so a different pred on the
            # same corpus/k must not share ground truth (code-review
            # r7b); str(Column) renders the resolved expression
            str(pred),
            k,
        )
        # no files OR no plan identity (truncated render → None,
        # ADVICE r8) → no safe memo key: two differently-truncated
        # plans over the same files must not share ground truth
        if not key[1] or key[2] is None:
            key = None
    except Exception:
        key = None
    pairs = _EXACT_TOPK_MEMO.get(key) if key else None
    if pairs is None:
        pairs = [
            (r.query_id, r.neighbor)
            for r in cosine_topk_arrow(e, pred, k=k)
            .select("query_id", "neighbor")
            .collect()
        ]
        if key:
            from ..memo import memo_put

            memo_put(_EXACT_TOPK_MEMO, key, pairs, cap=32)
    return pairs


def _ann_recall_audit(
    spark: SparkSession, sf_dir: str, approx: DataFrame, k: int, floor: float
) -> DataFrame:
    """One-row recall@k audit: |approx ∩ exact| / |exact| >= floor.

    The exact side is `cosine_topk_arrow` (oracle-backed elsewhere),
    computed once per (corpus, k) and memoized as collected id pairs
    (see `_EXACT_TOPK_MEMO`); the intersection is a broadcast join on
    (query_id, neighbor) — both sides carry O(|Q|·k) rows, so the
    audit costs at most one extra scan of the corpus per session
    (the shared exact pass), never a pairwise blow-up."""
    e = _t(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 100 == 0
    pairs = _exact_topk_pairs(spark, e, pred, k)
    exact = spark.createDataFrame(
        pairs, "query_id long, neighbor long"
    )
    marked = exact.join(
        F.broadcast(
            # .distinct() so a future index that emits a duplicate
            # (query_id, neighbor) pair can't fan out the left join
            # and inflate n_exact/n_hits (ADVICE r7) — the recall
            # accounting must not depend on an unstated invariant of
            # every index implementation; O(|Q|·k) rows, trivial.
            approx.select("query_id", "neighbor")
            .distinct()
            .withColumn("hit", F.lit(1))
        ),
        ["query_id", "neighbor"],
        "left",
    )
    n_queries = e.filter(pred).agg(F.count(F.lit(1)).alias("n_queries"))
    counts = marked.agg(
        F.count(F.lit(1)).alias("n_exact"), F.count("hit").alias("n_hits")
    )
    return F.broadcast(n_queries).crossJoin(F.broadcast(counts)).select(
        F.lit(k).cast("long").alias("k"),
        F.col("n_queries").cast("long").alias("n_queries"),
        (F.col("n_hits") >= F.lit(floor) * F.col("n_exact"))
        .cast("long")
        .alias("recall_ok"),
    )


def cosine_topk_ivf_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_ivf

    e = _t(spark, sf_dir, "embeddings")
    # adaptive √N sizing (operators/similarity.ivf_sizing) — fixed
    # (16, 4) decayed 0.93 → 0.62 recall from sf0.01 → sf0.1
    return cosine_topk_ivf(e, F.col("vec_id") % 100 == 0, k=3)


@register(
    "cosine_topk_ivf",
    sql=_ann_recall_audit_sql(3),
    tags=("similarity", "ann", "ivf", "kmeans"),
)
def cosine_topk_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (KMeans cells, adaptive √N sizing — operators/similarity.
    ivf_sizing) recall@3 audit vs exact BLAS top-k. Floor 0.4: rule
    measured 0.867/0.933/0.817/0.862 at sf0.001/0.01/0.1/sf1 under
    the r9 3/8 probe fraction (was 0.867/0.867/0.700/0.775 at 1/4) —
    the sf1 value EXCEEDS the sf0.1 value (fixed (16,4) geometry
    decayed 0.93 → 0.62 and would breach any floor at 100×)."""
    return _ann_recall_audit(
        spark, sf_dir, cosine_topk_ivf_detail(spark, sf_dir), k=3, floor=0.4
    )


def cosine_topk_ivf_bucketed_detail(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.similarity import cosine_topk_ivf_bucketed

    e = _t(spark, sf_dir, "embeddings")
    return cosine_topk_ivf_bucketed(e, F.col("vec_id") % 100 == 0, k=3)


@register(
    "cosine_topk_ivf_bucketed",
    sql=_ann_recall_audit_sql(3),
    tags=("similarity", "ann", "ivf", "layout", "pruning"),
)
def cosine_topk_ivf_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF served from the cell-partitioned parquet layout (VERDICT
    r9 item 3 — build-once serve-many; operators/similarity.
    build_ivf_index + cosine_topk_ivf_bucketed): cell assignment is
    write-once storage, the serve scan partition-prunes to the probed
    cells, and results are pair-identical to cosine_topk_ivf on the
    same centroids (pinned in tests/test_similarity.py, along with the
    plan-asserted pruning). Same recall@3 audit/floor as the
    query-time twin — identical results, identical recall."""
    return _ann_recall_audit(
        spark,
        sf_dir,
        cosine_topk_ivf_bucketed_detail(spark, sf_dir),
        k=3,
        floor=0.4,
    )


def cosine_topk_pq_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_pq

    e = _t(spark, sf_dir, "embeddings")
    return cosine_topk_pq(e, F.col("vec_id") % 100 == 0, k=5)


@register(
    "cosine_topk_pq",
    sql=_ann_recall_audit_sql(5),
    tags=("similarity", "ann", "pq", "adc"),
)
def cosine_topk_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC (8-byte codes, broadcast codebooks) recall@5 audit.
    Floor 0.5: measured 0.84/0.88/0.78/0.665 at sf0.001/0.01/0.1/sf1
    (no cell probes in plain PQ, so the r9 probe-fraction change does
    not touch this path; the sf1 decay is code resolution — the
    rerank twin is the scale answer)."""
    return _ann_recall_audit(
        spark, sf_dir, cosine_topk_pq_detail(spark, sf_dir), k=5, floor=0.5
    )


def cosine_topk_ivfpq_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_ivfpq

    e = _t(spark, sf_dir, "embeddings")
    return cosine_topk_ivfpq(e, F.col("vec_id") % 100 == 0, k=5)


@register(
    "cosine_topk_ivfpq_rerank",
    sql=_ann_recall_audit_sql(5),
    tags=("similarity", "ann", "ivf", "pq", "rerank"),
)
def cosine_topk_ivfpq_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC+R (r8): the IVF-PQ shortlist exact-re-ranked — recall@5
    audit. Floor 0.35: rule measured 0.800/0.800/0.800/0.838 at
    sf0.001/0.01/0.1/sf1 under the r9 3/8 probe fraction —
    monotone-or-flat in N (VERDICT r08 item 4: the 1/4 fraction's
    0.76/0.72/0.68/0.742 sf0.1 dip was the probe ceiling binding
    before the rerank budget; the exact re-rank recovers the ADC
    quantization loss only for candidates the probed cells surface)."""
    from ..operators.similarity import cosine_topk_ivfpq_rerank

    e = _t(spark, sf_dir, "embeddings")
    approx = cosine_topk_ivfpq_rerank(e, F.col("vec_id") % 100 == 0, k=5)
    return _ann_recall_audit(spark, sf_dir, approx, k=5, floor=0.35)


@register(
    "cosine_topk_ivfpq",
    sql=_ann_recall_audit_sql(5),
    tags=("similarity", "ann", "ivf", "pq", "residual"),
)
def cosine_topk_ivfpq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (Jégou et al. 2011 IVFADC; residual codebooks, adaptive
    √N cell sizing) recall@5 audit. Floor 0.3: rule measured
    0.760/0.760/0.690/0.629 at sf0.001/0.01/0.1/sf1 under the r9 3/8
    probe fraction (was 0.720/0.720/0.610/0.592 at 1/4) — 2× floor
    margin through sf1; the residual slope is PQ quantization
    resolution, not cell geometry (residual quantization of RANDOM
    vectors is the scheme's worst case) — the exact-re-rank twin
    (`cosine_topk_ivfpq_rerank`, flat 0.80+) is the production
    answer to that slope."""
    return _ann_recall_audit(
        spark, sf_dir, cosine_topk_ivfpq_detail(spark, sf_dir), k=5, floor=0.3
    )


# --------------------------------------------------------------------------
# Approximate aggregates — the documented 100 TB substitutes for exact
# count-distinct/median (SURVEY §7.4 trap 6). Engine-specific sketches
# (HLL++/GK) cannot match DuckDB bit-for-bit, so the REGISTERED query
# is the error-bound AUDIT (r7, same design as the approx-percentile
# twins): the estimates are checked against their published
# guarantees in-plan and the flags hash-fail at the driver on drift;
# the estimate frame stays as `approx_aggregates_events_detail`.
# --------------------------------------------------------------------------
def approx_aggregates_events_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("approx_median_value"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "approx_aggregates_events",
    sql="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(1 AS BIGINT) AS users_est_ok,
           CAST(1 AS BIGINT) AS median_rank_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "approx", "sketch"),
)
def approx_aggregates_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-bound audit of the approx aggregates: per event_type,
    `approx_count_distinct` must land within 5·rsd (default rsd 0.05)
    of the exact distinct count, and the approx median's rank
    interval must intersect n/2 ± (2n/accuracy + 1) — both checked in
    one sketch aggregate + one conditional-count pass (broadcast
    estimates), the same scalable shape as the percentile-twin
    audits."""
    acc = 10_000
    e = _t(spark, sf_dir, "events")
    est = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("au"),
        F.percentile_approx("value", F.lit(0.5), F.lit(acc)).alias("am"),
        F.count_distinct("user_id").alias("xu"),
    )
    j = e.join(F.broadcast(est), "event_type")
    stats = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("value") < F.col("am")).alias("m_lo"),
        F.count_if(F.col("value") <= F.col("am")).alias("m_hi"),
        F.any_value("au").alias("au"),
        F.any_value("xu").alias("xu"),
    )
    users_ok = (
        F.abs(F.col("au") - F.col("xu"))
        <= 5 * 0.05 * F.col("xu") + F.lit(1.0)
    ).cast("long")
    slack = 2.0 * F.col("n") / acc + 1.0
    target = F.col("n") / 2.0
    median_ok = (
        ~(
            (F.col("m_hi") < target - slack)
            | (F.col("m_lo") > target + slack)
        )
    ).cast("long")
    return stats.select(
        "event_type",
        "n",
        users_ok.alias("users_est_ok"),
        median_ok.alias("median_rank_ok"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Custom stateful streaming operator (applyInPandasWithState): per-user
# running totals in keyed state. The update-mode sink holds one row per
# (user, emitting batch) — batch-split-dependent — but each user's
# FINAL state (max cum_events; the counter is monotone per key) is
# invariant to how availableNow slices the input, so projecting the
# final row per user is deterministic and batch-replayable in SQL
# (verdict r05 item 6: rows-only → oracle-backed).
# --------------------------------------------------------------------------
@register(
    "streaming_stateful_user_totals",
    sql="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS cum_events,
           ROUND(SUM(value), 2) AS cum_value_r
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful", "udf"),
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import (
        read_events_stream,
        run_available_now,
        stateful_user_totals,
    )

    events = read_events_stream(spark, sf_dir)
    totals = stateful_user_totals(events)
    ckpt = scratch_dir("ckpt_", "stateful")
    sink = run_available_now(
        totals, spark, "mem_stream_stateful", ckpt, output_mode="update"
    )
    final = Window.partitionBy("user_id").orderBy(F.col("cum_events").desc())
    return (
        sink.withColumn("__rn", F.row_number().over(final))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "cum_events",
            F.round("cum_value", 2).alias("cum_value_r"),
        )
    )


# --------------------------------------------------------------------------
# Full ELB pipeline — the reference's headline artifact
# (export_hourly_aggregates, reference elb_logs.py:351-368) composed
# end-to-end: parse (shlex-grammar tokenize + typed casts) → filter
# (health checks, null ip/request) → geo enrich (deterministic
# fake_fetch through the real anti-join/upsert/broadcast-join cache
# path) → US/Eastern time features → hourly 6-key aggregate.
#
# Input is the committed fixture parquet (sources/data/) so the DuckDB
# oracle can read the SAME bytes by absolute path and replay the whole
# composition in SQL: regexp_extract_all('"[^"]*"|\S+') reproduces the
# quoted-field split, try_strptime the strict ts parse, a digit guard
# the int casts, and the fake_fetch octet formula the geo columns.
# --------------------------------------------------------------------------
# round 3: the composed pipeline + error report read the EXTENDED
# 3-day corpus (225 lines, 60 IPs, all 5 fake-geo countries) so the
# oracles exercise A1-A7 across 60+ hourly groups, not 3
from ..sources.alb_fixtures import FIXTURE_PARQUET_EXT as _ELB_FIXTURE_PARQUET

_ELB_PIPELINE_HOURLY_SQL = f"""
    WITH raw AS (
        SELECT regexp_extract_all(value, '"[^"]*"|\\S+') AS t
        FROM read_parquet('{_ELB_FIXTURE_PARQUET}')
    ),
    parsed AS (
        SELECT
            try_strptime(t[2], '%Y-%m-%dT%H:%M:%S.%fZ') AS time_utc,
            regexp_replace(t[4], ':[0-9]+$', '') AS client_ip,
            try_cast(t[6] AS DOUBLE)  AS rpt,
            try_cast(t[7] AS DOUBLE)  AS tpt,
            try_cast(t[8] AS DOUBLE)  AS rspt,
            CASE WHEN regexp_matches(t[9],  '^[0-9]+$') THEN CAST(t[9]  AS BIGINT) END AS status,
            CASE WHEN regexp_matches(t[11], '^[0-9]+$') THEN CAST(t[11] AS BIGINT) END AS received_bytes,
            CASE WHEN regexp_matches(t[12], '^[0-9]+$') THEN CAST(t[12] AS BIGINT) END AS sent_bytes,
            trim(t[13], '"') AS request,
            trim(t[14], '"') AS user_agent
        FROM raw
        WHERE len(t) >= 29
    ),
    filtered AS (
        SELECT *,
            timezone('America/New_York', time_utc AT TIME ZONE 'UTC') AS time_local,
            COALESCE(rpt, 0) + COALESCE(tpt, 0) + COALESCE(rspt, 0) AS total_processing_time,
            CASE WHEN status IS NULL THEN 'Unknown'
                 WHEN status >= 200 AND status < 300 THEN '2xx_Success'
                 WHEN status >= 400 AND status < 500 THEN '4xx_ClientError'
                 WHEN status >= 500 AND status < 600 THEN '5xx_ServerError'
                 ELSE 'Other' END AS status_code_type,
            list_aggregate(
                list_transform(string_split(client_ip, '.'),
                               x -> try_cast(x AS BIGINT)), 'sum') % 5 AS octet
        FROM parsed
        WHERE time_utc IS NOT NULL
          AND client_ip IS NOT NULL AND request IS NOT NULL
          AND NOT COALESCE(
              regexp_matches(lower(user_agent),
                             'datadog|healthchecker|kube-probe|aws-elb'), FALSE)
    )
    SELECT
        CAST(year(time_local)  AS BIGINT) AS request_year,
        CAST(month(time_local) AS BIGINT) AS request_month,
        CAST(day(time_local)   AS BIGINT) AS request_day,
        CAST(hour(time_local)  AS BIGINT) AS request_hour,
        'Country' || octet AS "countryName",
        'City' || octet    AS city,
        CAST(COUNT(client_ip) AS BIGINT)          AS request_count,
        CAST(COUNT(DISTINCT client_ip) AS BIGINT) AS unique_client_ips_count,
        ROUND(AVG(total_processing_time), 6)      AS average_total_processing_time,
        ROUND(MEDIAN(total_processing_time), 6)   AS median_total_processing_time,
        CAST(SUM(sent_bytes) AS BIGINT)           AS sum_sent_bytes,
        CAST(SUM(received_bytes) AS BIGINT)       AS sum_received_bytes,
        CAST(COUNT(*) FILTER (status_code_type = '2xx_Success') AS BIGINT)     AS count_2xx,
        CAST(COUNT(*) FILTER (status_code_type = '4xx_ClientError') AS BIGINT) AS count_4xx,
        CAST(COUNT(*) FILTER (status_code_type = '5xx_ServerError') AS BIGINT) AS count_5xx
    FROM filtered
    GROUP BY 1, 2, 3, 4, 5, 6
"""


@register(
    "elb_pipeline_hourly",
    sql=_ELB_PIPELINE_HOURLY_SQL,
    tags=("pipeline", "e2e", "elb", "agg", "join", "parse"),
)
def elb_pipeline_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregate import hourly_geo_aggregates

    agg = hourly_geo_aggregates(_elb_fixture_enriched(spark))
    return _hourly_agg_oracle_projection(agg)


def _hourly_agg_oracle_projection(agg: DataFrame) -> DataFrame:
    """Shared oracle-facing projection for the batch AND streaming
    composed pipelines: explicit long casts + 6-dp rounding so both
    hash-compare against ``_ELB_PIPELINE_HOURLY_SQL`` identically."""
    return agg.select(
        F.col("request_year").cast("long").alias("request_year"),
        F.col("request_month").cast("long").alias("request_month"),
        F.col("request_day").cast("long").alias("request_day"),
        F.col("request_hour").cast("long").alias("request_hour"),
        "countryName",
        "city",
        F.col("request_count").cast("long").alias("request_count"),
        F.col("unique_client_ips_count").cast("long").alias("unique_client_ips_count"),
        F.round("average_total_processing_time", 6).alias(
            "average_total_processing_time"
        ),
        F.round("median_total_processing_time", 6).alias(
            "median_total_processing_time"
        ),
        F.col("sum_sent_bytes").cast("long").alias("sum_sent_bytes"),
        F.col("sum_received_bytes").cast("long").alias("sum_received_bytes"),
        F.col("count_2xx").cast("long").alias("count_2xx"),
        F.col("count_4xx").cast("long").alias("count_4xx"),
        F.col("count_5xx").cast("long").alias("count_5xx"),
    )


# --------------------------------------------------------------------------
# Batch/stream parity on the reference's OWN workload (VERDICT r04
# item 7): the composed §3.1 pipeline run as a STREAM — the
# reference's cron loop (re-list + re-parse the whole prefix every ~2
# minutes, elb_logs.py:402) mapped onto checkpointed exactly-once file
# tracking. ONE paced availableNow run (maxFilesPerTrigger=1, r7 —
# verdict r06 item 6) over the extended fixture corpus split into two
# gzip "S3 objects" whose mtimes order them as history then cron
# tick: micro-batch 0 parses/enriches only the first object, batch 1
# only the second (same per-batch increments the former two-run shape
# produced, at one stream-startup cost); the hourly aggregate over
# the read-back partitioned cleaned-logs sink must equal the BATCH
# pipeline's DuckDB oracle over the full corpus — proving each file
# was parsed/enriched exactly once and the per-batch feature pipeline
# composes to the batch answer. Cross-RUN recovery stays pinned by
# tests/test_streaming.py's two-invocation cases.
# --------------------------------------------------------------------------
@register(
    "streaming_elb_pipeline_hourly",
    sql=_ELB_PIPELINE_HOURLY_SQL,
    tags=("streaming", "pipeline", "e2e", "elb", "incremental", "parse"),
)
def streaming_elb_pipeline_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    import gzip
    import os

    from ..operators.aggregate import hourly_geo_aggregates
    from ..session import ensure_engine_confs
    from ..sources.alb_fixtures import fixture_lines_extended
    from ..streaming.elb_stream import stream_elb_pipeline

    ensure_engine_confs(spark)
    base = scratch_dir("ckpt_", "elb_stream_pipeline")
    logs = os.path.join(base, "logs")
    os.makedirs(logs, exist_ok=True)
    out = os.path.join(base, "out")
    lines = fixture_lines_extended()
    half = len(lines) // 2

    def land(name: str, chunk: list[str], mtime: float | None = None) -> None:
        p = os.path.join(logs, name)
        with gzip.open(p, "wt") as f:
            f.write("\n".join(chunk) + "\n")
        if mtime is not None:
            os.utime(p, (mtime, mtime))

    # mtime gap orders the objects: a = history, b = the cron tick
    now = time.time()
    land("a.log.gz", lines[:half], mtime=now - 60)
    land("b.log.gz", lines[half:])
    stream_elb_pipeline(
        spark,
        os.path.join(logs, "*.gz"),
        out,
        max_files_per_trigger=1,
        batch_shuffle_partitions=4,  # cron-tick-sized batches (~3k rows)
    )
    cleaned = spark.read.parquet(os.path.join(out, "cleaned_logs"))
    return _hourly_agg_oracle_projection(hourly_geo_aggregates(cleaned))


# --------------------------------------------------------------------------
# Error-summary report (reference export_error_summary,
# elb_logs.py:370-377): 4xx/5xx IN-list filter + the exact 13-column
# projection, over the SAME extended fixture corpus as the composed
# pipeline — time emitted as epoch millis so the cross-engine hash
# never meets a timestamp formatter. UA families replay as a CASE over
# the corpus's closed agent set (the vendored-table families); geo
# columns replay the fake_fetch octet formula.
# --------------------------------------------------------------------------
_ELB_ERROR_REPORT_SQL = f"""
    WITH raw AS (
        SELECT regexp_extract_all(value, '"[^"]*"|\\S+') AS t
        FROM read_parquet('{_ELB_FIXTURE_PARQUET}')
    ),
    parsed AS (
        SELECT
            try_strptime(t[2], '%Y-%m-%dT%H:%M:%S.%fZ') AS time_utc,
            regexp_replace(t[4], ':[0-9]+$', '') AS client_ip,
            CASE WHEN regexp_matches(t[9], '^[0-9]+$') THEN CAST(t[9] AS BIGINT) END
                AS elb_status_code,
            trim(t[13], '"') AS request,
            trim(t[14], '"') AS user_agent,
            trim(t[25], '"') AS error_reason,
            trim(t[27], '"') AS target_status_code_list
        FROM raw WHERE len(t) >= 29
    ),
    f AS (
        SELECT *,
            list_aggregate(
                list_transform(string_split(client_ip, '.'),
                               x -> try_cast(x AS BIGINT)), 'sum') % 5 AS octet,
            CASE WHEN elb_status_code IS NULL THEN 'Unknown'
                 WHEN elb_status_code >= 200 AND elb_status_code < 300 THEN '2xx_Success'
                 WHEN elb_status_code >= 400 AND elb_status_code < 500 THEN '4xx_ClientError'
                 WHEN elb_status_code >= 500 AND elb_status_code < 600 THEN '5xx_ServerError'
                 ELSE 'Other' END AS status_code_type
        FROM parsed
        WHERE time_utc IS NOT NULL
          AND client_ip IS NOT NULL AND request IS NOT NULL
          AND NOT COALESCE(
              regexp_matches(lower(user_agent),
                             'datadog|healthchecker|kube-probe|aws-elb'), FALSE)
    )
    SELECT
        epoch_ms(time_utc) AS time_utc_ms,
        client_ip,
        'City' || octet    AS city,
        'Country' || octet AS "countryName",
        'ISP' || octet     AS isp,
        split_part(request, ' ', 1) AS http_method,
        split_part(request, ' ', 2) AS full_url,
        elb_status_code,
        target_status_code_list,
        user_agent,
        CASE WHEN user_agent LIKE 'Googlebot%' THEN 'Googlebot'
             WHEN user_agent LIKE 'curl/%' THEN 'curl'
             WHEN user_agent LIKE 'Mozilla/5.0 (Windows NT%' THEN 'Chrome'
             ELSE 'Other' END AS ua_browser_family,
        CASE WHEN user_agent LIKE 'Mozilla/5.0 (Windows NT%' THEN 'Windows'
             ELSE 'Other' END AS ua_os_family,
        error_reason
    FROM f
    WHERE status_code_type IN ('4xx_ClientError', '5xx_ServerError')
"""


@register(
    "elb_error_report",
    sql=_ELB_ERROR_REPORT_SQL,
    tags=("pipeline", "elb", "report", "filter", "projection"),
)
def elb_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference error_summary_geo.csv (elb_logs.py:371-377) as an
    oracle-backed query: full parse→filter→geo-enrich path, IN-list
    4xx/5xx filter (F3), 13-column projection (F5). `time` goes out as
    epoch millis for engine-stable hashing."""
    from ..operators.aggregate import error_summary

    err = error_summary(_elb_fixture_enriched(spark))
    return err.select(
        F.unix_millis("time").alias("time_utc_ms"),
        "client_ip",
        "city",
        "countryName",
        "isp",
        "http_method",
        "full_url",
        F.col("elb_status_code").cast("long").alias("elb_status_code"),
        "target_status_code_list",
        "user_agent",
        "ua_browser_family",
        "ua_os_family",
        "error_reason",
    )


# --------------------------------------------------------------------------
# Bot-traffic report (reference export_bot_traffic,
# elb_logs.py:380-391): boolean is_bot filter (F4) + count(*) group
# size per (countryName, isp) origin (A8 — ROW count, vs A2's
# non-null count), over the same extended fixture corpus. The
# reference's second CSV report; elb_error_report covered the first
# (VERDICT r03 item 4 closes the asymmetry). The geo columns replay
# the fake_fetch octet formula; is_bot replays the keyword scan over
# the lowered user agent (reference elb_logs.py:122-126). Note the
# health-check filter runs FIRST (as in the reference main()), so a
# datadog agent — bot keyword AND health-check pattern — never
# reaches the bot report.
# --------------------------------------------------------------------------
_ELB_BOT_REPORT_SQL = f"""
    WITH raw AS (
        SELECT regexp_extract_all(value, '"[^"]*"|\\S+') AS t
        FROM read_parquet('{_ELB_FIXTURE_PARQUET}')
    ),
    parsed AS (
        SELECT
            try_strptime(t[2], '%Y-%m-%dT%H:%M:%S.%fZ') AS time_utc,
            regexp_replace(t[4], ':[0-9]+$', '') AS client_ip,
            trim(t[13], '"') AS request,
            trim(t[14], '"') AS user_agent
        FROM raw WHERE len(t) >= 29
    ),
    f AS (
        SELECT *,
            list_aggregate(
                list_transform(string_split(client_ip, '.'),
                               x -> try_cast(x AS BIGINT)), 'sum') % 5 AS octet
        FROM parsed
        WHERE time_utc IS NOT NULL
          AND client_ip IS NOT NULL AND request IS NOT NULL
          AND NOT COALESCE(
              regexp_matches(lower(user_agent),
                             'datadog|healthchecker|kube-probe|aws-elb'), FALSE)
    )
    SELECT
        'Country' || octet AS "countryName",
        'ISP' || octet     AS isp,
        CAST(COUNT(*) AS BIGINT) AS bot_request_count
    FROM f
    WHERE COALESCE(
        regexp_matches(lower(user_agent),
                       'bot|crawler|spider|googlebot|python-urllib|datadog|'
                       'pingdom|uptimerobot|newrelic|monitoring|nagios'),
        FALSE)
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


@register(
    "elb_bot_report",
    sql=_ELB_BOT_REPORT_SQL,
    tags=("pipeline", "elb", "report", "filter", "agg"),
)
def elb_bot_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference bot_traffic_by_origin_summary.csv (elb_logs.py:385-391)
    as an oracle-backed query: full parse→filter→geo-enrich path, then
    the is_bot boolean filter (F4) and a count(*) per origin (A8)."""
    from ..operators.aggregate import bot_traffic

    _, summary = bot_traffic(_elb_fixture_enriched(spark))
    return summary.select(
        "countryName",
        "isp",
        F.col("bot_request_count").cast("long").alias("bot_request_count"),
    ).orderBy("countryName", "isp")


# --------------------------------------------------------------------------
# Stream-static join: streaming events enriched against the static
# customer⨝nation dim (broadcast, stateless), then a complete-mode
# count per nation — the streaming analog of batch geo enrichment.
# Oracle is the equivalent batch join+agg.
# --------------------------------------------------------------------------
@register(
    "streaming_static_nation_counts",
    sql="""
    SELECT n.n_name AS nation_name,
           e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 2)   AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
    tags=("streaming", "stream_static_join", "broadcast"),
)
def streaming_static_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import (
        read_events_stream,
        run_available_now,
        static_enriched_stream,
    )

    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = customer.join(
        F.broadcast(nation),
        customer.c_nationkey == nation.n_nationkey,
    ).select("c_custkey", F.col("n_name").alias("nation_name"))

    events = read_events_stream(spark, sf_dir)
    enriched = static_enriched_stream(events, dim)
    agg = enriched.groupBy("nation_name", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    ckpt = scratch_dir("ckpt_", "static_join")
    return run_available_now(
        agg, spark, "mem_stream_static", ckpt, state_partitions=8
    )


# --------------------------------------------------------------------------
# Cogrouped-map (groupBy().cogroup().applyInPandas) — the per-key
# two-table merge surface. Oracle expresses the same semantics with
# two aggs + a filtered join-back; the cogrouped Arrow round trip is
# what's under test.
# --------------------------------------------------------------------------
@register(
    "cogroup_user_activity",
    sql="""
    WITH e AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, MAX(ts) AS last_ts
        FROM events GROUP BY user_id
    ), o AS (
        SELECT o_custkey AS user_id, CAST(COUNT(*) AS BIGINT) AS n_orders,
               MAX(o_orderdate) AS last_order
        FROM orders GROUP BY o_custkey
    ), after_cnt AS (
        SELECT ev.user_id, CAST(COUNT(*) AS BIGINT) AS n_after
        FROM events ev JOIN o ON ev.user_id = o.user_id
        WHERE ev.ts > o.last_order
        GROUP BY ev.user_id
    )
    SELECT COALESCE(e.user_id, o.user_id)   AS user_id,
           COALESCE(e.n_events, 0)          AS n_events,
           COALESCE(o.n_orders, 0)          AS n_orders,
           COALESCE(a.n_after, 0)           AS n_events_after_last_order
    FROM e
    FULL OUTER JOIN o ON e.user_id = o.user_id
    LEFT JOIN after_cnt a ON COALESCE(e.user_id, o.user_id) = a.user_id
    """,
    tags=("cogroup", "applyInPandas", "udf"),
)
def cogroup_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.grouped import cogroup_user_activity as op

    return op(_t(spark, sf_dir, "events"), _t(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Streaming SLIDING window aggregate (1 h windows, 15 min slide):
# each event lands in 4 overlapping windows. Oracle replicates the
# window assignment with a 4-offset UNNEST; Spark's streaming
# `window()` operator does the same expansion before the keyed state
# agg, so state size is (windows-per-event x key cardinality), evicted
# by the watermark as event time advances.
# --------------------------------------------------------------------------
@register(
    "streaming_sliding_window_counts",
    sql="""
    WITH w AS (
        SELECT event_type, value,
               time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE
                   AS win_start,
               ts
        FROM events, UNNEST(generate_series(0, 3)) t(k)
    )
    SELECT CAST(epoch_ms(win_start) AS BIGINT) AS win_start_ms,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2)     AS sum_value
    FROM w
    WHERE ts < win_start + INTERVAL 1 HOUR
    GROUP BY 1, 2
    """,
    tags=("streaming", "sliding_window"),
)
def streaming_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import read_events_stream, run_available_now

    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("window.start")).alias("win_start_ms"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            "sum_value",
        )
    )
    ckpt = scratch_dir("ckpt_", "sliding")
    return run_available_now(
        agg, spark, "mem_stream_sliding", ckpt, state_partitions=8
    )


# --------------------------------------------------------------------------
# Schema-ful JSON parsing (`from_json`, vs json_extract_events'
# path-extraction): parse props into a typed struct once, then project
# fields — the right shape when several fields are read (one parse,
# not one per path). Malformed JSON yields a NULL struct (PERMISSIVE),
# counted as parse failures.
# --------------------------------------------------------------------------
@register(
    "from_json_props_stats",
    sql="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS n_parsed,
           ROUND(AVG(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
               AS avg_k
    FROM events
    GROUP BY event_type
    """,
    tags=("json", "from_json", "agg"),
)
def from_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    parsed = e.select(
        "event_type", F.from_json("props", "k BIGINT").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("p.k").alias("n_parsed"),
        F.round(F.avg("p.k"), 6).alias("avg_k"),
    )


# --------------------------------------------------------------------------
# Raw SQL surface: the engine's tables as temp views + spark.sql text.
# Same Catalyst plan as the DataFrame form (SQL and DataFrame APIs
# meet in the same logical plan), so everything pushes down
# identically — this entry exists to prove the migration path for
# users whose queries are SQL strings.
# --------------------------------------------------------------------------
_SQL_API_QUERY = """
    SELECT r_name,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
"""


@register(
    "sql_api_region_order_totals",
    sql=_SQL_API_QUERY,
    tags=("sql_api", "join", "agg"),
)
def sql_api_region_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_API_QUERY)


# --------------------------------------------------------------------------
# Full multimodal pipeline: payload → decode → resize planning →
# frame sampling → per-format rollup. Exercises every multimodal
# operator (attach_payload / decode_media / resize_stub /
# frame_sample_stub); the oracle replays the deterministic stub
# formulas, so the whole mapInPandas + columnar-planning chain is
# hash-checked. Note the binary payload never reaches the final agg —
# column pruning drops it after decode.
# --------------------------------------------------------------------------
@register(
    "multimodal_pipeline_stats",
    sql="""
    WITH decoded AS (
        SELECT doc_id,
               strlen(text) AS n,
               CASE strlen(text) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                    ELSE 'webp' END AS media_format,
               64 + strlen(text) % 256       AS width,
               64 + (strlen(text) * 7) % 256 AS height
        FROM documents
    ), resized AS (
        SELECT *,
               FLOOR(width  * LEAST(1.0, 128.0 / GREATEST(width, height)))
                   AS target_width,
               FLOOR(height * LEAST(1.0, 128.0 / GREATEST(width, height)))
                   AS target_height,
               -- frames 0..(n%30) sampled every 10th
               FLOOR((n % 30) / 10) + 1 AS n_sampled_frames
        FROM decoded
    )
    SELECT media_format,
           CAST(COUNT(*) AS BIGINT)          AS n_assets,
           ROUND(AVG(target_width), 6)       AS avg_target_w,
           ROUND(AVG(target_height), 6)      AS avg_target_h,
           CAST(SUM(n_sampled_frames) AS BIGINT) AS total_sampled_frames
    FROM resized
    GROUP BY media_format
    """,
    tags=("multimodal", "udf", "mapInPandas", "pipeline"),
)
def multimodal_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import frame_sample_stub, resize_stub

    d = _t(spark, sf_dir, "documents")
    # persisted: resize and frame-sample both branch off the decode,
    # and without a cache the self-join would run the (expensive,
    # per-row Python) decode pass twice. Payload column is pruned
    # before the cache materializes only on Spark's side of the UDF —
    # drop it explicitly so the cached frame is metadata-only.
    decoded = decode_media(attach_payload(d, "doc_id", "text")).drop(
        "payload"
    ).persist()
    resized = resize_stub(decoded)
    frames = frame_sample_stub(decoded).groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_sampled_frames")
    )
    return (
        resized.join(frames, "media_id")
        .groupBy("media_format")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.round(F.avg("target_width"), 6).alias("avg_target_w"),
            F.round(F.avg("target_height"), 6).alias("avg_target_h"),
            F.sum("n_sampled_frames").alias("total_sampled_frames"),
        )
    )


# --------------------------------------------------------------------------
# Forward as-of join (operators/asof.asof_join_forward): for each
# event, the user's EARLIEST order at-or-after the event time — the
# "time-to-next-conversion" shape. Oracle uses DuckDB's native ASOF
# with >= on a tie-deduped right side (smallest orderkey per
# (custkey, date), matching the operator's tiebreak).
# --------------------------------------------------------------------------
@register(
    "asof_next_order_after_event",
    sql="""
    WITH o AS (
        SELECT o_custkey, o_orderdate, o_orderkey FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY o_custkey, o_orderdate
                       ORDER BY o_orderkey ASC) AS rn
            FROM orders
        ) WHERE rn = 1
    )
    SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ms,
           o.o_orderkey AS next_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS next_order_date
    FROM events e
    ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
    """,
    tags=("asof", "join", "custom"),
)
def asof_next_order_after_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_forward

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders")
    joined = asof_join_forward(
        e,
        o,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_orderdate"],
        right_tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.col("o_orderkey").alias("next_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("next_order_date"),
    )


# --------------------------------------------------------------------------
# Ordered funnel analysis (view → click → purchase): per user, each
# stage counts only if it happens AT OR AFTER the previous stage's
# first occurrence — the classic conversion funnel. One pivoted
# per-user agg (conditional mins) + staged comparison, no self-joins:
# at 100 TB this is a single shuffle on user_id, not a 3-way
# event-table self-join. Oracle uses the identical conditional-min
# formulation in SQL.
# --------------------------------------------------------------------------
@register(
    "funnel_view_click_purchase",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click_any,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase_any
        FROM events GROUP BY user_id
    ), staged AS (
        SELECT user_id,
               t_view,
               CASE WHEN t_click_any >= t_view THEN t_click_any END AS t_click,
               CASE WHEN t_purchase_any >= t_view AND t_click_any >= t_view
                         AND t_purchase_any >= t_click_any
                    THEN t_purchase_any END AS t_purchase
        FROM per_user
    )
    SELECT CAST(COUNT(*) AS BIGINT)              AS n_users,
           CAST(COUNT(t_view) AS BIGINT)         AS reached_view,
           CAST(COUNT(t_click) AS BIGINT)        AS reached_click,
           CAST(COUNT(t_purchase) AS BIGINT)     AS reached_purchase,
           ROUND(AVG(CAST(epoch_ms(t_purchase) - epoch_ms(t_view) AS DOUBLE)
                     / 1000.0), 6)               AS avg_funnel_seconds
    FROM staged
    """,
    tags=("funnel", "agg", "pivot"),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click_any"),
        first_ts("purchase").alias("t_purchase_any"),
    )
    t_click = F.when(
        F.col("t_click_any") >= F.col("t_view"), F.col("t_click_any")
    )
    staged = per_user.select(
        "user_id",
        "t_view",
        t_click.alias("t_click"),
        F.when(
            (F.col("t_purchase_any") >= F.col("t_view"))
            & (F.col("t_click_any") >= F.col("t_view"))
            & (F.col("t_purchase_any") >= F.col("t_click_any")),
            F.col("t_purchase_any"),
        ).alias("t_purchase"),
    )
    funnel_s = (
        (F.unix_millis("t_purchase") - F.unix_millis("t_view")).cast("double")
        / 1000.0
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("reached_view"),
        F.count("t_click").alias("reached_click"),
        F.count("t_purchase").alias("reached_purchase"),
        F.round(F.avg(funnel_s), 6).alias("avg_funnel_seconds"),
    )


# --------------------------------------------------------------------------
# Mergeable HLL sketches (Datasketches via hll_sketch_agg /
# hll_union_agg): per-nation distinct-user sketches that UNION to the
# global estimate — the property that lets 1000 executors count
# distincts with fixed-size state and no second shuffle. The
# REGISTERED query is the error-envelope AUDIT (r7, was rows-only):
# DuckDB has no byte-identical HLL, but the union estimate's deviation
# from the exact distinct count IS checkable (default lgConfigK=12 →
# rsd ≈ 1.04/√4096 ≈ 1.6%; flag allows 5·rsd + 1). The sketch frame
# stays as `hll_sketch_distinct_users_detail`; merge-consistency is
# separately pinned in tests/test_plans.py.
# --------------------------------------------------------------------------
#: persisted join frames from the PREVIOUS hll_sketch_distinct_users
#: call, released at the next call's entry (memo.PersistSlot discipline).
_HLL_SLOT = PersistSlot()

def hll_sketch_distinct_users_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per_nation = (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    merged = per_nation.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias(
            "merged_distinct_users"
        ),
        F.count(F.lit(1)).alias("n_nations"),
    )
    return merged


@register(
    "hll_sketch_distinct_users",
    sql="""
    SELECT CAST(COUNT(DISTINCT e.user_id) AS BIGINT)
               AS exact_distinct_users,
           CAST(COUNT(DISTINCT c.c_nationkey) AS BIGINT) AS n_nations,
           CAST(1 AS BIGINT) AS merged_est_ok
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    tags=("sketch", "hll", "approx", "agg"),
)
def hll_sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    _HLL_SLOT.release()
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    # persisted (r10): the join feeds BOTH the per-nation sketch rollup
    # and the exact-distinct audit arm — unpersisted, the events scan +
    # broadcast join ran twice. Projected to the two columns both
    # consumers need before caching.
    joined = (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .select("user_id", "c_nationkey")
        .persist()
    )
    _HLL_SLOT.hold(joined)
    per_nation = joined.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = per_nation.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_nations"),
    )
    exact = joined.agg(
        F.count_distinct("user_id").alias("exact_distinct_users")
    )
    # vacuous pass when the join is empty (est is NULL — no sketches
    # to merge): the oracle's flag is unconditional, and NULL here
    # would hash-mismatch on a legal degenerate input (code-review
    # r7; same convention as the PCA/ANN audits)
    ok = F.when(
        F.col("est").isNotNull(),
        (
            F.abs(F.col("est") - F.col("exact_distinct_users"))
            <= 5 * 0.0163 * F.col("exact_distinct_users") + F.lit(1.0)
        ).cast("long"),
    ).otherwise(F.lit(1).cast("long"))
    return (
        exact.join(F.broadcast(merged))
        .select(
            "exact_distinct_users",
            "n_nations",
            ok.alias("merged_est_ok"),
        )
    )


# --------------------------------------------------------------------------
# Streaming OHLC bars — the batch decimal-key min_by/max_by trick
# lifted onto a tumbling window; with Trigger.AvailableNow draining
# everything, the result must equal the batch bars exactly (Spark
# tumbling windows align to the epoch, same as floor(epoch/21600)).
# --------------------------------------------------------------------------
@register(
    "streaming_ohlc_bars",
    sql="""
    WITH b AS (
        SELECT event_type AS series,
               CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT) * 1000
                   AS bucket_start_ms,
               value, ts, event_id
        FROM events
    ),
    w AS (
        SELECT series, bucket_start_ms, value,
               first_value(value) OVER
                   (PARTITION BY series, bucket_start_ms
                    ORDER BY ts, event_id) AS open_v,
               last_value(value) OVER
                   (PARTITION BY series, bucket_start_ms
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING) AS close_v
        FROM b
    )
    SELECT series, bucket_start_ms,
           ROUND(MIN(open_v), 6)  AS open,
           ROUND(MAX(value), 6)   AS high,
           ROUND(MIN(value), 6)   AS low,
           ROUND(MIN(close_v), 6) AS close,
           CAST(COUNT(*) AS BIGINT) AS volume
    FROM w
    GROUP BY series, bucket_start_ms
    """,
    tags=("streaming", "tumbling_window", "ohlc"),
)
def streaming_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import ohlc_stream, read_events_stream, run_available_now

    events = read_events_stream(spark, sf_dir)
    bars = ohlc_stream(events)
    ckpt = scratch_dir("ckpt_", "ohlc")
    result = run_available_now(
        bars, spark, "mem_stream_ohlc", ckpt, state_partitions=8
    )
    return result.select(
        "series",
        F.unix_millis("bucket_start").alias("bucket_start_ms"),
        "open",
        "high",
        "low",
        "close",
        F.col("volume").cast("long").alias("volume"),
    )


# --------------------------------------------------------------------------
# Weighted PageRank over the customer-nation -> supplier-nation trade
# graph. The 100 TB-heavy part is the 6-way join + edge aggregation
# (same shape as nation_pair_volume / TPC-H Q7); the power iteration
# then runs on a dimension-sized graph with a broadcast edge frame.
# The oracle UNROLLS the 10 iterations into chained CTEs (recursive
# CTEs can't aggregate in the recursive term), with every float
# literal emitted at full precision so both engines run identical
# IEEE arithmetic.
# --------------------------------------------------------------------------
def _pagerank_sql_parts(iters: int = 10, damping: float = 0.85) -> list[str]:
    """The oracle's CTE parts, each ``<name> AS (<body>)`` — exposed so
    ``scripts/pagerank_sf1_oracle.py`` can materialize them one-by-one
    as temp tables (the single-statement WITH-chain re-evaluates the
    6-way edge join per iteration under DuckDB's CTE handling and
    exhausts 24 GB at sf1 — r6 finding, same class as the kNN oracle)."""
    teleport = repr(1.0 - damping)
    parts = [
        """edges AS (
        SELECT n1.n_name AS src, n2.n_name AS dst,
               SUM(l_extendedprice * (1 - l_discount)) AS w
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey  = c_custkey
        JOIN supplier ON l_suppkey  = s_suppkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        GROUP BY 1, 2
    )""",
        "out_w AS (SELECT src, SUM(w) AS tot FROM edges GROUP BY src)",
        """norm AS (
        SELECT edges.src, edges.dst, edges.w / out_w.tot AS p
        FROM edges JOIN out_w ON edges.src = out_w.src
    )""",
        """nodes AS (
        SELECT src AS name FROM norm UNION SELECT dst FROM norm
    )""",
        "nn AS (SELECT COUNT(*) AS cnt FROM nodes)",
        "pr0 AS (SELECT name, 1.0 / CAST(cnt AS DOUBLE) AS rank FROM nodes, nn)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""pr{k} AS (
        SELECT n.name,
               CAST('{teleport}' AS DOUBLE) / CAST(nn.cnt AS DOUBLE)
                 + {damping!r} * COALESCE(s.inc, 0.0) AS rank
        FROM nodes n CROSS JOIN nn
        LEFT JOIN (
            SELECT norm.dst AS name, SUM(pr{k - 1}.rank * norm.p) AS inc
            FROM pr{k - 1} JOIN norm ON pr{k - 1}.name = norm.src
            GROUP BY norm.dst
        ) s ON n.name = s.name
    )"""
        )
    return parts


def _pagerank_sql(iters: int = 10, damping: float = 0.85) -> str:
    parts = _pagerank_sql_parts(iters, damping)
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT name AS nation, ROUND(rank, 6) AS rank FROM pr{iters}"
    )


@register(
    "nation_trade_pagerank",
    sql=_pagerank_sql(),
    tags=("graph", "pagerank", "iterative", "join", "agg"),
)
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    # Join order matters 10x here: resolve the supplier side to its
    # nation FIRST (supplier ⨝ nation is broadcast-sized), partially
    # aggregate lineitem to (orderkey, dst-nation) — the group key
    # contains the next join key, so the orders join and everything
    # after it carries one row per (order, supplier-nation) instead of
    # one per line item. Measured 1.9 s -> 0.2 s steady at sf0.1; at
    # 100 TB it divides the only fact-fact shuffle by lines-per-order.
    n1 = n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("src"))
    n2 = n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("dst"))
    sup = s.join(F.broadcast(n2), F.col("s_nationkey") == F.col("sk")).select(
        F.col("s_suppkey").alias("lsk"), "dst"
    )
    cust = c.join(F.broadcast(n1), F.col("c_nationkey") == F.col("ck")).select(
        F.col("c_custkey").alias("ock"), "src"
    )
    part = (
        li.join(F.broadcast(sup), li["l_suppkey"] == F.col("lsk"))
        .groupBy("l_orderkey", "dst")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("pw"))
    )
    edges = (
        part.join(
            o.select("o_orderkey", "o_custkey"),
            part["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("ock"))
        .groupBy("src", "dst")
        .agg(F.sum("pw").alias("w"))
    )
    ranks = pagerank(edges, damping=0.85, iters=10)
    return ranks.select(F.col("name").alias("nation"), F.round("rank", 6).alias("rank"))


# --------------------------------------------------------------------------
# Python Data Source (Spark 4) — synthetic ALB lines through the real
# parser. Oracle (VERDICT r06 item 3, was rows-only): the
# deterministic corpus the source generates is MATERIALIZED as a
# committed parquet (sources/data/synthetic_elb_corpus.parquet);
# DuckDB replays tokenize + digit-guard status + categorize over the
# same bytes. tests/test_synthetic_source.py pins source output ==
# committed file line-for-line, so a generator or scheduling
# regression breaks the pin while an aggregation regression breaks
# the hash. The parse filter (classification_reason & strict time
# non-null) replays as len(t) >= 29 + try_strptime — equivalent
# because the arity guard is what NULLs the trailing columns.
# --------------------------------------------------------------------------
def _synthetic_status_counts_sql() -> str:
    from ..sources.synthetic_elb import CORPUS_PARQUET

    return f"""
    WITH raw AS (
        SELECT regexp_extract_all(value, '"[^"]*"|\\S+') AS t
        FROM read_parquet('{CORPUS_PARQUET}')
    ),
    parsed AS (
        SELECT CASE WHEN regexp_matches(t[9], '^[0-9]+$')
                    THEN CAST(t[9] AS BIGINT) END AS sc
        FROM raw
        WHERE len(t) >= 29
          AND try_strptime(t[2], '%Y-%m-%dT%H:%M:%S.%fZ') IS NOT NULL
    )
    SELECT CASE WHEN sc IS NULL THEN 'Unknown'
                WHEN sc >= 100 AND sc < 200 THEN '1xx_Informational'
                WHEN sc >= 200 AND sc < 300 THEN '2xx_Success'
                WHEN sc >= 300 AND sc < 400 THEN '3xx_Redirection'
                WHEN sc >= 400 AND sc < 500 THEN '4xx_ClientError'
                WHEN sc >= 500 AND sc < 600 THEN '5xx_ServerError'
                ELSE 'Other' END AS status_category,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM parsed GROUP BY 1 ORDER BY 1
    """


@register(
    "synthetic_source_status_counts",
    sql=_synthetic_status_counts_sql(),
    tags=("source", "python_datasource", "parse"),
)
def synthetic_source_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.elb_logs import categorize_status, parse_elb_lines
    from ..sources.synthetic_elb import (
        CORPUS_PARTITIONS,
        CORPUS_ROWS_PER_PARTITION,
        CORPUS_SEED,
    )
    from ..sources.synthetic_elb import register as register_source

    register_source(spark)
    raw = (
        spark.read.format("elb_synthetic")
        .option("partitions", CORPUS_PARTITIONS)
        .option("rows_per_partition", CORPUS_ROWS_PER_PARTITION)
        .option("seed", CORPUS_SEED)
        .load()
    )
    parsed = parse_elb_lines(raw).withColumn(
        "status_category", categorize_status(F.col("elb_status_code"))
    )
    return (
        parsed.groupBy("status_category")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status_category")
    )


# --------------------------------------------------------------------------
# Robust (MAD-based) outlier census — the median/MAD companion to the
# z-score operator above: immune to the outliers it measures. Two
# passes over the values (median, then median of absolute deviations)
# with the tiny per-type model broadcast back between them.
# --------------------------------------------------------------------------
@register(
    "mad_outlier_census",
    sql="""
    WITH med AS (
        SELECT event_type, median(value) AS med
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type, ANY_VALUE(m.med) AS med,
               median(abs(e.value - m.med)) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (
               WHERE abs(e.value - m.med) > 3 * 1.4826 * m.mad
           ) AS BIGINT) AS n_outliers,
           ROUND(ANY_VALUE(m.med), 6) AS med,
           ROUND(ANY_VALUE(m.mad), 6) AS mad
    FROM events e JOIN mad m USING (event_type)
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    tags=("stats", "robust", "outliers", "median"),
)
def mad_outlier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outliers by the robust rule |v − median| > 3·1.4826·MAD, per
    event type. Exact medians (the documented percentile_approx swap
    applies at 100 TB); the per-type (median, MAD) model is
    group-count-sized and broadcasts back onto the fact scan — the
    fact table itself shuffles only for its own aggregates."""
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"),
        )
    )
    return (
        e.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(
                F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad")
            ).alias("n_outliers"),
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Streaming continuous-ingestion dedup, replayed as two availableNow
# runs over one checkpoint (the cron-restart story): round 0 ingests
# the history partition (doc_id % 5 != 0), round 1 classifies the
# batch partition against the index round 0 persisted. Batch-local
# dedup + the persisted-index probe are both pure functions of the
# corpus split, so the per-round stats ARE SQL-expressible — the rare
# streaming query with a full oracle.
# --------------------------------------------------------------------------
@register(
    "streaming_ingest_dedup_stats",
    sql="""
    WITH t AS (
        SELECT doc_id,
               md5(array_to_string(regexp_extract_all(text, '\\S+')[1:8], ' '))
                   AS digest,
               doc_id % 5 = 0 AS is_batch
        FROM documents
    ),
    h AS (
        SELECT doc_id, digest,
               MIN(doc_id) OVER (PARTITION BY digest) AS survivor
        FROM t WHERE NOT is_batch
    ),
    hd AS (SELECT DISTINCT digest FROM t WHERE NOT is_batch),
    b AS (
        SELECT doc_id, digest,
               MIN(doc_id) OVER (PARTITION BY digest) AS survivor,
               digest IN (SELECT digest FROM hd) AS in_hist
        FROM t WHERE is_batch
    )
    SELECT CAST(0 AS BIGINT) AS round,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(0 AS BIGINT) AS n_dup_of_history,
           CAST(COUNT(CASE WHEN doc_id <> survivor THEN 1 END) AS BIGINT)
               AS n_dup_within_batch,
           CAST(COUNT(CASE WHEN doc_id = survivor THEN 1 END) AS BIGINT)
               AS n_ingested
    FROM h
    UNION ALL
    SELECT CAST(1 AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN in_hist THEN 1 END) AS BIGINT),
           CAST(COUNT(CASE WHEN NOT in_hist AND doc_id <> survivor THEN 1 END)
                AS BIGINT),
           CAST(COUNT(CASE WHEN NOT in_hist AND doc_id = survivor THEN 1 END)
                AS BIGINT)
    FROM b
    ORDER BY round
    """,
    tags=("streaming", "dedup", "incremental", "foreachBatch", "e2e"),
)
def streaming_ingest_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE real streaming run through
    ``streaming.stream.ingest_dedup_stream`` paced to two
    micro-batches (see ``_stage_two_batches``): history lands as
    batch 0, the cron tick as batch 1, classification identical to
    the former two-run shape at a single stream-startup cost."""
    from ..session import ensure_engine_confs
    from ..streaming.stream import ingest_dedup_stream

    ensure_engine_confs(spark)
    base = scratch_dir("ckpt_", "ingest_dedup")
    src = os.path.join(base, "src")
    index = os.path.join(base, "digest_index.parquet")
    ck = os.path.join(base, "ck")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    _stage_two_batches(
        d.filter(F.col("doc_id") % 5 != 0), d.filter(F.col("doc_id") % 5 == 0), src
    )
    schema = "doc_id long, text string"
    ingest_dedup_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        spark,
        index,
        ck,
        batch_shuffle_partitions=8,  # tick-sized batches (r7)
    )
    stats = spark.read.parquet(index + "_stats")
    w = Window.orderBy("batch_id")
    return (
        stats.withColumn("round", F.row_number().over(w) - 1)
        .select(
            F.col("round").cast("long").alias("round"),
            "n_batch",
            "n_dup_of_history",
            "n_dup_within_batch",
            "n_ingested",
        )
        .orderBy("round")
    )


# --------------------------------------------------------------------------
# Device-family report over the ELB fixture (round 6): the one UA
# surface (P11's device_parsers axis) without a registry row. The
# oracle CASE chain is GENERATED from the same vendored
# ``DEVICE_PARSERS`` table the pandas UDF classifies with
# (shared-formula hardening, like the fake-geo octet formula):
# ordered first-match, ``$1`` substitution with uap-core's
# device-only trim, 'Other' fallback. The curated patterns are
# RE2-compatible by construction, so DuckDB's regexp_* replays them
# byte-identically.
# --------------------------------------------------------------------------
def _device_case_sql(ua_expr: str) -> str:
    # the table the CLASSIFIER actually uses (ua.DEVICE_PARSERS is
    # rebound to the full uap-core table when one is dropped in;
    # importing ua_regexes' copy here would desync the oracle —
    # code-review r06)
    from ..functions.ua import DEVICE_PARSERS

    branches = []
    for rule in DEVICE_PARSERS:
        rx = rule["regex"].replace("'", "''")
        repl = rule.get("device_replacement")
        if repl is None:  # family = bare first capture group
            out = f"regexp_extract({ua_expr}, '{rx}', 1)"
        elif "$" in repl:
            # the generator replays only the '<prefix>$1' substitution
            # shape the curated table uses; a future '$2'/interleaved
            # rule must extend this, not silently drop its tail
            if not repl.endswith("$1") or repl.count("$") != 1:
                raise ValueError(
                    f"device_replacement {repl!r} is not '<prefix>$1' — "
                    "extend _device_case_sql before adding such rules"
                )
            prefix = repl.split("$1")[0].replace("'", "''")
            out = f"trim('{prefix}' || regexp_extract({ua_expr}, '{rx}', 1))"
        else:
            out = f"'{repl}'"
        branches.append(f"WHEN regexp_matches({ua_expr}, '{rx}') THEN {out}")
    return "CASE " + " ".join(branches) + " ELSE 'Other' END"


def _elb_device_report_sql() -> str | None:
    # In an environment where classify_device takes a path the table
    # cannot replay — the real `user_agents` wheel, or a full
    # uap-core regexes.yaml (whose long-tail patterns are not all
    # RE2/DuckDB-safe) — registering the curated-table CASE would
    # oracle a DIFFERENT function than the engine runs (code-review
    # r06). Fall back to rows-only there; the UA battery remains the
    # parity contract.
    from ..functions import ua

    if ua._ua_parse is not None or ua._FULL_UAP is not None:
        return None
    return f"""
    WITH raw AS (
        SELECT regexp_extract_all(value, '"[^"]*"|\\S+') AS t
        FROM read_parquet('{_ELB_FIXTURE_PARQUET}')
    ),
    parsed AS (
        SELECT trim(t[14], '"') AS user_agent
        FROM raw WHERE len(t) >= 29
    )
    SELECT {_device_case_sql('user_agent')} AS device_family,
           CAST(COUNT(*) AS BIGINT) AS n_requests
    FROM parsed
    GROUP BY 1
    ORDER BY 1
    """


@register(
    "elb_device_report",
    sql=_elb_device_report_sql(),
    tags=("elb", "ua", "device", "report", "udf"),
)
def elb_device_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Device-family request counts over the extended ELB fixture —
    the uap-core ``device_parsers`` axis of P11 (reference
    elb_logs.py:119-121 classifies browser/OS; devices are the same
    public table's third rule list). Arrow-batched pandas UDF on the
    Spark side; at 100 TB, classify DISTINCT UA strings and
    broadcast-join back (the documented UA scale path).

    The oracle CASE is generated from the table ``classify_device``
    actually uses (``ua.DEVICE_PARSERS``, post any full-uap-core
    rebind); where the engine takes a path the table cannot replay —
    the real ``user_agents`` wheel, or a dropped-in full regexes.yaml
    — registration falls back to rows-only (code-review r06) and the
    UA battery (tests/test_parse.py) is the parity contract."""
    import os

    from ..functions.ua import device_classify
    from ..session import ensure_engine_confs
    from ..sources.alb_fixtures import write_fixture_parquet
    from ..sources.elb_logs import parse_elb_lines

    ensure_engine_confs(spark)
    if not os.path.exists(_ELB_FIXTURE_PARQUET):
        write_fixture_parquet(_ELB_FIXTURE_PARQUET, extended=True)
    lines = spark.read.parquet(_ELB_FIXTURE_PARQUET)
    parsed = parse_elb_lines(lines)
    return (
        parsed.select(device_classify(F.col("user_agent")).alias("device_family"))
        .groupBy("device_family")
        .agg(F.count(F.lit(1)).alias("n_requests"))
        .orderBy("device_family")
    )


# --------------------------------------------------------------------------
# Streaming NEAR-dup ingestion (round 4): the MinHash-LSH sibling of
# the exact-digest ingest filter above. Same two-availableNow-runs
# replay over one checkpoint, but the persisted index holds the
# retained corpus's LSH BAND KEYS: a batch doc is a history near-dup
# if any of its 4 band keys matches, a within-batch near-dup if any
# of its band buckets contains a smaller batch doc_id, and only
# survivors' keys append back. Band-level classification is a pure
# function of the corpus split, so this streaming query too carries a
# full DuckDB oracle (reusing the shared MinHash band construction).
# --------------------------------------------------------------------------
def _streaming_neardup_sql() -> str:
    from .queries_text import _MINHASH_CTES

    return f"""
    WITH {_MINHASH_CTES},
    hb AS (SELECT * FROM bands WHERE doc_id % 5 != 0),
    bb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
    h_bm AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band, band_key) AS bmin
        FROM hb
    ),
    h_peer AS (SELECT doc_id, MIN(bmin) AS peer_min FROM h_bm GROUP BY doc_id),
    h_docs AS (
        SELECT d.doc_id, COALESCE(p.peer_min < d.doc_id, FALSE) AS batch_dup
        FROM (SELECT doc_id FROM documents WHERE doc_id % 5 != 0) d
        LEFT JOIN h_peer p USING (doc_id)
    ),
    h_surv AS (SELECT doc_id FROM h_docs WHERE NOT batch_dup),
    idx AS (
        SELECT DISTINCT band, band_key FROM hb JOIN h_surv USING (doc_id)
    ),
    b_bm AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band, band_key) AS bmin
        FROM bb
    ),
    b_peer AS (SELECT doc_id, MIN(bmin) AS peer_min FROM b_bm GROUP BY doc_id),
    b_hist AS (SELECT DISTINCT bb.doc_id FROM bb JOIN idx USING (band, band_key)),
    b_docs AS (
        SELECT d.doc_id,
               d.doc_id IN (SELECT doc_id FROM b_hist) AS hist_dup,
               COALESCE(p.peer_min < d.doc_id, FALSE) AS batch_dup
        FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
        LEFT JOIN b_peer p USING (doc_id)
    )
    SELECT CAST(0 AS BIGINT) AS round,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(0 AS BIGINT) AS n_dup_of_history,
           CAST(COUNT(CASE WHEN batch_dup THEN 1 END) AS BIGINT)
               AS n_dup_within_batch,
           CAST(COUNT(CASE WHEN NOT batch_dup THEN 1 END) AS BIGINT)
               AS n_ingested
    FROM h_docs
    UNION ALL
    SELECT CAST(1 AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN hist_dup THEN 1 END) AS BIGINT),
           CAST(COUNT(CASE WHEN NOT hist_dup AND batch_dup THEN 1 END)
                AS BIGINT),
           CAST(COUNT(CASE WHEN NOT hist_dup AND NOT batch_dup THEN 1 END)
                AS BIGINT)
    FROM b_docs
    ORDER BY round
    """


@register(
    "streaming_neardup_ingest_stats",
    sql=_streaming_neardup_sql(),
    tags=("streaming", "dedup", "minhash", "lsh", "incremental", "e2e"),
)
def streaming_neardup_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE real streaming run through
    ``streaming.stream.neardup_ingest_stream`` whose file source is
    paced to two micro-batches (``maxFilesPerTrigger=1`` over two
    pre-staged files with forced mtime order — availableNow honors
    read limits), so history-vs-batch classification is identical to
    the former two-run shape while paying stream startup ONCE
    (verdict r05 item 4: 14.7 s steady → single-startup). The replay
    path itself keeps its dedicated tests (test_streaming), which
    re-enter the upsert with an explicit batch_id."""
    from ..session import ensure_engine_confs
    from ..streaming.stream import neardup_ingest_stream

    ensure_engine_confs(spark)
    base = scratch_dir("ckpt_", "neardup_ingest")
    src = os.path.join(base, "src")
    index = os.path.join(base, "band_index.parquet")
    ck = os.path.join(base, "ck")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    _stage_two_batches(
        d.filter(F.col("doc_id") % 5 != 0), d.filter(F.col("doc_id") % 5 == 0), src
    )
    schema = "doc_id long, text string"
    neardup_ingest_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        spark,
        index,
        ck,
        batch_shuffle_partitions=8,  # tick-sized batches; map side
        # keeps its explicit defaultParallelism spread
    )
    stats = spark.read.parquet(index + "_stats")
    w = Window.orderBy("batch_id")
    return (
        stats.withColumn("round", F.row_number().over(w) - 1)
        .select(
            F.col("round").cast("long").alias("round"),
            "n_batch",
            "n_dup_of_history",
            "n_dup_within_batch",
            "n_ingested",
        )
        .orderBy("round")
    )


# --------------------------------------------------------------------------
# JSON-lines source/sink round-trip (SURVEY §2.1 sink family): the one
# text-based interchange format the sink tier didn't yet exercise
# end-to-end. Spark writes a typed frame as JSONL and reads it back
# through spark.read.json with an EXPLICIT schema (schema inference on
# 100 TB of JSON means a full extra pass — never rely on it), and the
# aggregate over the round-tripped frame must equal the oracle's
# aggregate over the original parquet — proving the sink/source pair
# is lossless for longs, doubles, strings AND microsecond timestamps
# (the fragile one: JSON carries them as ISO-8601 text).
# --------------------------------------------------------------------------


@register(
    "jsonl_roundtrip_stats",
    sql="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)                       AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
                                                          AS sum_value,
           CAST(MIN(epoch_us(ts)) AS BIGINT)              AS min_ts_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT)              AS max_ts_us
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("sink", "source", "json", "roundtrip"),
)
def jsonl_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events as JSON lines, read them back with the explicit
    schema, aggregate the COPY — the oracle aggregates the ORIGINAL,
    so any loss in the round trip (timestamp precision, double
    formatting, null handling) breaks the hash. Timestamps are written
    with an explicit micros format: Spark's default JSON writer stops
    at milliseconds, which would silently truncate `ts` — exactly the
    class of bug this query exists to catch."""
    ev = _t(spark, sf_dir, "events")
    path = scratch_dir("jsonl_rt_", sf_dir)
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    (
        ev.select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite")
        .option("timestampFormat", ts_fmt)
        .json(path)
    )
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    back = (
        spark.read.schema(schema)
        .option("timestampFormat", ts_fmt)
        .json(path)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
            F.min(F.unix_micros("ts")).alias("min_ts_us"),
            F.max(F.unix_micros("ts")).alias("max_ts_us"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Format-matrix round-trip (completes the §2.1 interchange grid:
# parquet is the native store, JSONL has its own round-trip query,
# this one covers ORC and CSV as SOURCES, not just sinks). Each format
# writes the same typed projection of events, reads it back with an
# EXPLICIT schema, and aggregates the copy; the oracle aggregates the
# original once per format label — identical rows per format prove
# both round trips lossless, including microsecond timestamps (ORC
# stores them natively; CSV carries them as formatted text with the
# same micros pattern the JSONL query uses).
# --------------------------------------------------------------------------


@register(
    "format_matrix_roundtrip",
    sql="""
    SELECT fmt,
           CAST(COUNT(*) AS BIGINT)                       AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
                                                          AS sum_value,
           CAST(MIN(epoch_us(ts)) AS BIGINT)              AS min_ts_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT)              AS max_ts_us
    FROM events CROSS JOIN (SELECT unnest(['csv', 'orc']) AS fmt)
    GROUP BY fmt
    ORDER BY fmt
    """,
    tags=("sink", "source", "orc", "csv", "roundtrip"),
)
def format_matrix_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC and CSV write→read→aggregate, one result row per format,
    hash-compared against the original events table. Explicit schema
    on both read-backs (no inference pass); CSV gets the micros
    timestampFormat because its default parser stops at the pattern's
    precision. The aggregate is per-format global, so the verification
    moves 2 rows no matter the corpus size."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    parts = []
    for fmt in ("csv", "orc"):
        path = scratch_dir(f"fmt_rt_{fmt}_", sf_dir)
        w = ev.write.mode("overwrite")
        if fmt == "csv":
            w.option("header", True).option("timestampFormat", ts_fmt).csv(path)
            back = (
                spark.read.schema(schema)
                .option("header", True)
                .option("timestampFormat", ts_fmt)
                .csv(path)
            )
        else:
            w.orc(path)
            back = spark.read.schema(schema).orc(path)
        parts.append(
            back.groupBy(F.lit(fmt).alias("fmt")).agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
                .cast("double")
                .alias("sum_value"),
                F.min(F.unix_micros("ts")).alias("min_ts_us"),
                F.max(F.unix_micros("ts")).alias("max_ts_us"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("fmt")


# --------------------------------------------------------------------------
# Idempotent partition backfill (dynamic partition overwrite): the
# production pattern for reprocessing ONE day of a partitioned sink
# without touching its neighbors. Static overwrite mode would TRUNCATE
# the whole table before writing the one corrected day — the classic
# data-loss footgun `partitionOverwriteMode=dynamic` exists to fix;
# the oracle aggregate over the post-backfill table (every partition
# intact, the earliest day's values doubled) hash-proves both that the
# backfill landed and that no other partition was dropped.
# --------------------------------------------------------------------------
@register(
    "partition_backfill_stats",
    sql="""
    WITH d0 AS (SELECT MIN(CAST(date_trunc('day', ts) AS DATE)) AS d FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
               AS n_days,
           -- double the DOUBLE first, THEN cast: the same operation
           -- order as the engine (which writes value*2 into the
           -- backfilled partition and casts on read), so the two
           -- sides quantize identical IEEE values even on corpora
           -- with more than 6 decimal places.
           CAST(ROUND(SUM(CAST(value * CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                                             = (SELECT d FROM d0)
                                            THEN 2 ELSE 1 END
                               AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("sink", "partition", "backfill", "dynamic_overwrite"),
)
def partition_backfill_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events hive-partitioned by day, then reprocess ONLY the
    earliest day (values doubled — a stand-in for a corrected parse)
    with ``partitionOverwriteMode=dynamic``, and aggregate the whole
    table afterwards. The oracle computes the expected post-backfill
    state from the original events; a match proves the corrected
    partition replaced exactly itself (`n_days` pins that the other
    partitions survived — static overwrite would have truncated
    them)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.date_trunc("day", F.col("ts")).cast("date").alias("dt"),
    )
    path = scratch_dir("backfill_", sf_dir)
    ev.write.partitionBy("dt").mode("overwrite").parquet(path)

    d0 = ev.agg(F.min("dt")).collect()[0][0]
    if d0 is not None:
        corrected = ev.filter(F.col("dt") == F.lit(d0)).withColumn(
            "value", F.col("value") * 2
        )
        (
            corrected.write.partitionBy("dt")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )
    # Explicit schema (partition column included): schema inference
    # over a just-written empty partitioned dir has no footers to read
    # — and at scale an explicit schema skips footer sampling anyway.
    back = spark.read.schema(
        "event_id long, event_type string, value double, dt date"
    ).parquet(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("dt").alias("n_days"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Bucketed-table co-located join: the storage-layout answer to the
# biggest shuffle in the schema (orders JOIN lineitem on orderkey).
# Both sides are written `bucketBy(orderkey)` with the SAME bucket
# count, so the join reads co-bucketed files and plans a SortMergeJoin
# with NO Exchange on either side — at 100 TB this turns the nightly
# fact-fact join from a full-network shuffle into a local merge.
# tests/test_sinks.py pins the no-Exchange property on the physical
# plan; the oracle hash-checks the aggregate against the plain
# parquet join, proving bucketing changed the LAYOUT, not the answer.
# --------------------------------------------------------------------------
_BUCKET_DIRS: dict[str, str] = {}
_BUCKETED_JOIN_N_BUCKETS = 8


def _source_fingerprint(sf_dir: str, spark=None) -> str | None:
    """Cheap identity of the bucketing inputs via the shared
    ``artifacts.stat_fingerprint`` (path + size + mtime of every file
    under the two source parquets; r7 consolidation — the hand-rolled
    copy crashed on a file vanishing mid-scan instead of treating the
    corpus as changed). Any regeneration of the testdata invalidates
    the persisted layout — a stale bucketed table would otherwise
    serve WRONG rows that the oracle (which reads the plain parquet)
    immediately hash-fails. None = no stable identity (rewrite).

    r8 (VERDICT r07 item 2): a schemed ``sf_dir`` (s3a://, hdfs://)
    fingerprints through the Hadoop FS API when ``spark`` is given,
    so the persisted-layout tier no longer silently retrains every
    session on exactly the stores a 100 TB deployment uses."""
    import os

    from ..artifacts import stat_fingerprint
    from ..hadoop_fs import hadoop_path_exists

    if "://" in sf_dir and not sf_dir.startswith("file:"):
        if spark is None:
            return None
        sep = "" if sf_dir.endswith("/") else "/"
        uris = [f"{sf_dir}{sep}{tbl}.parquet" for tbl in ("orders", "lineitem")]
        try:
            uris = [u for u in uris if hadoop_path_exists(spark, u)]
        except Exception:
            return None
        return stat_fingerprint(uris, extra=(sf_dir,), spark=spark)

    paths = [
        # abspath: stat_fingerprint treats a relative path as
        # non-local and returns None, which would silently disable
        # layout reuse for callers passing e.g. "testdata/sf0.1"
        # (code-review r7b)
        os.path.abspath(os.path.join(sf_dir, f"{tbl}.parquet"))
        for tbl in ("orders", "lineitem")
        if os.path.exists(os.path.join(sf_dir, f"{tbl}.parquet"))
    ]
    return stat_fingerprint(paths, extra=(os.path.abspath(sf_dir),))


#: name prefix of the persisted co-bucketed layout dirs in gettempdir()
_BUCKETED_PREFIX = "spark_graft_bucketed_"


def _remove_orphan_layouts(root: str) -> None:
    """Delete each ``spark_graft_bucketed_*`` dir under ``root`` whose
    recorded source corpus (its ``_SOURCE`` file, a local absolute
    path) no longer exists: no later run can reuse it, as with a
    pytest ``tmp_path`` corpus. A dir without a record, or recording
    a remote URI, is kept."""
    for name in os.listdir(root):
        if not name.startswith(_BUCKETED_PREFIX):
            continue
        layout = os.path.join(root, name)
        try:
            with open(os.path.join(layout, "_SOURCE"), encoding="utf-8") as fh:
                src = fh.read().strip()
        except OSError:
            continue
        if os.path.isabs(src) and not os.path.exists(src):
            shutil.rmtree(layout, ignore_errors=True)


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Register orders + lineitem as co-bucketed external tables and
    return their catalog names. The bucketed files are a PERSISTED
    layout artifact (like a production table maintained bucketed on
    its join key): written once under a stable path keyed by a source
    fingerprint, reused across sessions while the sources are
    byte-identical, rewritten the moment they change (r7 — the
    per-session tempdir paid the full two-table write on every new
    process for the same unchanged inputs). Writing a new layout
    records its source next to ``_FINGERPRINT`` and first removes the
    layouts whose source is gone (``_remove_orphan_layouts``)."""
    import hashlib

    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_orders, t_lineitem = f"bj_orders_{sfx}", f"bj_lineitem_{sfx}"
    if _BUCKET_DIRS.get(sf_dir) and spark.catalog.tableExists(t_orders):
        return t_orders, t_lineitem
    fp = _source_fingerprint(sf_dir, spark=spark)
    base = os.path.join(tempfile.gettempdir(), f"{_BUCKETED_PREFIX}{sfx}")
    stamp = os.path.join(base, "_FINGERPRINT")
    reuse = False
    try:
        with open(stamp, encoding="utf-8") as fh:
            reuse = fh.read().strip() == fp
    except OSError:
        reuse = False
    if not reuse:
        shutil.rmtree(base, ignore_errors=True)
        _remove_orphan_layouts(tempfile.gettempdir())
        os.makedirs(base, exist_ok=True)
        # a local corpus is recorded by its absolute path, which the
        # sweep can check; a URI is recorded as given and never swept
        with open(os.path.join(base, "_SOURCE"), "w", encoding="utf-8") as fh:
            fh.write(os.path.abspath(sf_dir) if os.path.isdir(sf_dir) else sf_dir)
    _BUCKET_DIRS[sf_dir] = base
    for name, frame, key in (
        (t_orders, _t(spark, sf_dir, "orders"), "o_orderkey"),
        (t_lineitem, _t(spark, sf_dir, "lineitem"), "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        if reuse:
            # re-register the existing bucketed files in this
            # session's catalog — DDL only, no data rewrite
            spark.sql(
                f"""
                CREATE TABLE {name}
                ({', '.join(f'{f.name} {f.dataType.simpleString()}'
                            for f in frame.schema.fields)})
                USING parquet
                CLUSTERED BY ({key}) SORTED BY ({key})
                INTO {_BUCKETED_JOIN_N_BUCKETS} BUCKETS
                LOCATION '{os.path.join(base, name)}'
                """
            )
        else:
            (
                frame.write.bucketBy(_BUCKETED_JOIN_N_BUCKETS, key)
                .sortBy(key)
                .option("path", os.path.join(base, name))
                .mode("overwrite")
                .saveAsTable(name)
            )
    if not reuse and fp is not None:
        # fp None = no stable identity (source raced away mid-scan):
        # leave no stamp, so the next session rewrites fresh
        with open(stamp, "w", encoding="utf-8") as fh:
            fh.write(fp)
    return t_orders, t_lineitem


def bucketed_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw co-bucketed join (pre-aggregate) — exposed so the plan
    test can assert the absence of Exchange nodes on it."""
    t_orders, t_lineitem = _bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders).select("o_orderkey", "o_orderstatus")
    li = spark.table(t_lineitem).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # MERGE hint: at production scale neither fact side is
    # broadcastable, so SortMergeJoin over the co-bucketed layout IS
    # the real plan; without the hint, tiny test inputs would take a
    # broadcast join and the planner would (correctly) disable the
    # bucketed scan, hiding the property this query demonstrates.
    return o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)


@register(
    "bucketed_join_agg",
    sql="""
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
    tags=("join", "bucketing", "storage", "sink"),
)
def bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order status THROUGH the co-bucketed tables: the
    join itself plans without any Exchange (bucketed scan on both
    sides); only the final status aggregate shuffles (a handful of
    groups). Revenue is an exact decimal sum so the bucketed row
    order can't perturb the hash."""
    j = bucketed_join_frame(spark, sf_dir)
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Embedding linear algebra: per-dimension moments (oracle-exact) and
# the PCA spectrum from a map-side Gram matrix (operators/linalg.py).
# --------------------------------------------------------------------------
@register(
    "embedding_dim_profile",
    sql="""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    idx AS (
        SELECT unnest(range(0, (SELECT COALESCE(MAX(len(embedding)), 0)
                                FROM e))) AS dim
    ),
    x AS (
        SELECT idx.dim,
               e.embedding[idx.dim + 1]::DOUBLE AS x,
               CASE WHEN idx.dim + 2 <= len(e.embedding)
                    THEN e.embedding[idx.dim + 2]::DOUBLE END AS x_next
        FROM e CROSS JOIN idx
        WHERE idx.dim < len(e.embedding)
    ),
    agg AS (
        SELECT dim,
            COUNT(x) AS n,
            CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS s1,
            CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS s2,
            CAST(SUM(CASE WHEN x_next IS NOT NULL
                          THEN CAST(x * x_next AS DECIMAL(28,12)) END)
                 AS DOUBLE) AS s12,
            COUNT(x_next) AS n12,
            CAST(SUM(CASE WHEN x_next IS NOT NULL
                          THEN CAST(x AS DECIMAL(28,12)) END) AS DOUBLE) AS s1p,
            CAST(SUM(CASE WHEN x_next IS NOT NULL
                          THEN CAST(x_next AS DECIMAL(28,12)) END) AS DOUBLE) AS s2p
        FROM x GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(n AS BIGINT) AS n,
           ROUND(s1 / n, 6) AS mean,
           ROUND((s2 - s1 * s1 / n) / n, 6) AS var,
           CASE WHEN n12 > 0
                THEN ROUND((s12 - s1p * s2p / n12) / n12, 6) END AS cov_next
    FROM agg
    ORDER BY dim
    """,
    tags=("linalg", "embedding", "profiling", "agg"),
)
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance and adjacent-dimension covariance
    of the embedding corpus — the pre-indexing profile that informs
    whitening and truncation choices. posexplode + 64-group decimal
    aggregate; the exchange carries d groups regardless of corpus
    size (see operators/linalg.py scale notes)."""
    from ..operators.linalg import dim_moments

    return dim_moments(_t(spark, sf_dir, "embeddings"))


def embedding_pca_variance_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-16 PCA eigen-spectrum of the embedding covariance: Gram
    matrix via one BLAS product per Arrow batch (32 KiB crossing the
    wire per batch, never row x d^2), eigh on the 64 x 64 driver-side
    result."""
    from ..operators.linalg import pca_spectrum

    rows = pca_spectrum(_t(spark, sf_dir, "embeddings"))
    return spark.createDataFrame(
        [(c, round(ev, 9), round(sh, 9), round(cu, 9)) for c, ev, sh, cu in rows],
        "component long, eigenvalue double, share double, cumulative_share double",
    )


@register(
    "embedding_pca_variance",
    # r7 rows-only → oracle: the eigen-decomposition itself is not
    # SQL-expressible, but the covariance TRACE is (sum of per-dim
    # population variances, same decimal-quantized sums as the
    # dim-profile oracle) and linear algebra pins the spectrum to it:
    # trace(cov) == Σ eigenvalues exactly. The registered query is the
    # audit — the trace is compared as a VALUE (both engines from
    # decimal sums), and the spectrum invariants (eigensum == trace,
    # descending, shares cumulate to ≤1, all non-negative) hash-fail
    # on drift. Full spectrum frame = embedding_pca_variance_detail.
    sql="""
    WITH e AS (SELECT embedding FROM embeddings),
    idx AS (
        SELECT unnest(range(0, (SELECT COALESCE(MAX(len(embedding)), 0)
                                FROM e))) AS dim
    ),
    x AS (
        SELECT idx.dim, e.embedding[idx.dim + 1]::DOUBLE AS x
        FROM e CROSS JOIN idx
        WHERE idx.dim < len(e.embedding)
    ),
    agg AS (
        SELECT dim, COUNT(x) AS n,
               CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS s2
        FROM x GROUP BY dim
    )
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           ROUND(CAST(SUM(CAST((s2 - s1 * s1 / n) / n
                               AS DECIMAL(28,12))) AS DOUBLE), 6) AS trace,
           CAST(1 AS BIGINT) AS eigensum_ok,
           CAST(1 AS BIGINT) AS spectrum_ok
    FROM agg
    """,
    tags=("linalg", "embedding", "pca", "mapInPandas"),
)
def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA spectrum audit (see the oracle comment above): computes the
    full eigen-spectrum driver-side from the distributed Gram matrix,
    the covariance trace from the SAME decimal-sum expression tree as
    the oracle, and emits trace + invariant flags. eigensum_ok uses a
    1e-6 relative tolerance (eigh is backward-stable; the residual is
    float association noise, not a semantic gap)."""
    import numpy as np

    from ..operators.linalg import pca_spectrum

    emb = _t(spark, sf_dir, "embeddings")
    rows = pca_spectrum(emb, top_k=64)

    x = F.col("x").cast("double")
    per_dim = (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.count("x").alias("n"),
            F.sum(x.cast("decimal(28,12)")).cast("double").alias("s1"),
            F.sum((x * x).cast("decimal(28,12)")).cast("double").alias("s2"),
        )
    )
    trace_df = per_dim.agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        # each per-dim variance term is quantized to decimal BEFORE
        # the across-dim sum (identically in the oracle SQL above):
        # a double accumulation is engine-order-dependent, and a trace
        # within ~1 ulp of a 6-decimal boundary would hash-mismatch
        # flakily between Spark and DuckDB (ADVICE r7). Decimal sums
        # are exact and order-free.
        F.round(
            F.sum(
                (
                    (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                    / F.col("n")
                ).cast("decimal(28,12)")
            ).cast("double"),
            6,
        ).alias("trace"),
    )
    evals = np.array([ev for _c, ev, _sh, _cu in rows], dtype=np.float64)
    eigensum = float(evals.sum())
    shares = [sh for _c, _ev, sh, _cu in rows]
    cums = [cu for _c, _ev, _sh, cu in rows]
    # vacuous pass on an empty corpus (<2 rows: no spectrum to audit),
    # mirroring the oracle's unconditional flags over the empty agg
    spectrum_ok = not rows or bool(
        all(evals >= 0.0)
        and all(evals[i] >= evals[i + 1] - 1e-12 for i in range(len(evals) - 1))
        and all(abs(c - sum(shares[: i + 1])) < 1e-9 for i, c in enumerate(cums))
        and cums[-1] <= 1.0 + 1e-9
    )
    eigensum_ok = F.when(
        F.col("trace").isNotNull(),
        (
            F.abs(F.lit(eigensum) - F.col("trace"))
            <= 1e-6 * F.greatest(F.lit(1.0), F.abs(F.col("trace")))
        ).cast("long"),
    ).otherwise(F.lit(1).cast("long"))
    return F.broadcast(
        emb.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    ).crossJoin(F.broadcast(trace_df)).select(
        "n_rows",
        "n_dims",
        "trace",
        eigensum_ok.alias("eigensum_ok"),
        F.lit(spectrum_ok).cast("long").alias("spectrum_ok"),
    )


# --------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join: unmatched views surface with
# NULL purchase columns once the purchase-side watermark passes their
# match window (state eviction). WHEN exactly the frontier rows flush
# is micro-batch-boundary-dependent (the symmetric join evicts against
# a state watermark that lags the data watermark by up to the interval
# span), so the query restricts itself to the DETERMINISTIC region —
# views older than max event time minus a 6 h finality margin (3x the
# worst-case 2 h watermark + 2x30 min interval lag). Inside that
# region the emitted set is exact and the oracle replays it: inner
# matches UNION unmatched views, all with view_ts <= m - 6 h.
# --------------------------------------------------------------------------
@register(
    "streaming_view_purchase_outer",
    sql="""
    WITH v AS (SELECT user_id, ts AS view_ts, event_id AS view_id
               FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id AS pu, ts AS purchase_ts, event_id AS purchase_id
          FROM events WHERE event_type = 'purchase'),
    mx AS (SELECT MAX(ts) AS m FROM events),
    vf AS (SELECT * FROM v
           WHERE view_ts <= (SELECT m - INTERVAL 6 HOUR FROM mx)),
    matched AS (
        SELECT vf.user_id, vf.view_id, vf.view_ts, p.purchase_id,
               CAST(epoch_ms(p.purchase_ts) - epoch_ms(vf.view_ts) AS BIGINT)
                   AS gap_ms
        FROM vf JOIN p ON vf.user_id = p.pu
         AND p.purchase_ts >= vf.view_ts
         AND p.purchase_ts <= vf.view_ts + INTERVAL 30 MINUTE
    )
    SELECT user_id, view_id, view_ts, purchase_id, gap_ms FROM matched
    UNION ALL
    SELECT vf.user_id, vf.view_id, vf.view_ts,
           CAST(NULL AS BIGINT) AS purchase_id,
           CAST(NULL AS BIGINT) AS gap_ms
    FROM vf
    WHERE vf.view_id NOT IN (SELECT view_id FROM matched)
    """,
    tags=("streaming", "stream_stream_join", "outer_join", "watermark"),
)
def streaming_view_purchase_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import (
        read_events_stream,
        run_available_now,
        view_purchase_join_stream,
    )

    events = read_events_stream(spark, sf_dir)
    joined = view_purchase_join_stream(events, max_gap="30 minutes", how="left_outer")
    ckpt = scratch_dir("ckpt_", "vp_outer_join")
    # state_partitions sized to state volume (~25 MB peak across both
    # join sides — r6: 32 stores spent ~5 s/batch on open/commit alone)
    out = run_available_now(
        joined, spark, "mem_stream_vp_outer", ckpt, output_mode="append",
        state_partitions=8,
    )
    bound = _t(spark, sf_dir, "events").agg(
        (F.max("ts") - F.expr("INTERVAL 6 HOURS")).alias("final_cutoff")
    )
    return (
        out.crossJoin(F.broadcast(bound))
        .filter(F.col("view_ts") <= F.col("final_cutoff"))
        .drop("final_cutoff")
    )


# --------------------------------------------------------------------------
# Timer-driven stateful sessionization (applyInPandasWithState +
# EventTimeTimeout): gap-closed sessions emit in-batch; each user's
# final open session emits when the watermark passes last+gap. As
# with the outer interval join, WHEN the frontier timers fire is
# batch-boundary-dependent, so the query restricts itself to the
# deterministic region (session_end <= max ts - 2 h) where the
# emitted set provably equals batch sessionization — which is
# exactly what the oracle computes.
# --------------------------------------------------------------------------
@register(
    "streaming_timeout_sessions",
    sql="""
    WITH mx AS (SELECT MAX(epoch_ms(ts)) AS m FROM events),
    t AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
    d AS (
        SELECT *, CASE WHEN ms - lag(ms) OVER w > 1800000
                       THEN 1 ELSE 0 END AS brk
        FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ms)
    ),
    s AS (
        SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ms
                                 ROWS UNBOUNDED PRECEDING) AS sn
        FROM d
    ),
    g AS (
        SELECT user_id,
               MIN(ms) AS session_start_ms,
               MAX(ms) AS session_end_ms,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, sn
    )
    SELECT user_id, session_start_ms, session_end_ms, n_events
    FROM g CROSS JOIN mx
    WHERE session_end_ms <= m - 7200000
    ORDER BY user_id, session_start_ms
    """,
    tags=("streaming", "stateful", "timeout", "sessionization"),
)
def streaming_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stream import (
        read_events_stream,
        run_available_now,
        timeout_sessionized_stream,
    )

    events = read_events_stream(spark, sf_dir)
    s = timeout_sessionized_stream(events)
    ckpt = scratch_dir("ckpt_", "timeout_sessions")
    # keyed state is user-count-sized (≤ a few thousand open sessions
    # at this corpus) — size the store count to it, not to the batch
    # shuffle width (see run_available_now's state_partitions note)
    out = run_available_now(
        s, spark, "mem_stream_timeout_sess", ckpt, output_mode="append",
        state_partitions=8,
    )
    bound = _t(spark, sf_dir, "events").agg(
        (F.max(F.expr("unix_millis(ts)")) - F.lit(7_200_000)).alias("m_cut")
    )
    return (
        out.crossJoin(F.broadcast(bound))
        .filter(F.col("session_end_ms") <= F.col("m_cut"))
        .drop("m_cut")
        .orderBy("user_id", "session_start_ms")
    )


# --------------------------------------------------------------------------
# Log template mining (Drain-style, declarative): collapse variable
# URL path segments so ops dashboards group by ENDPOINT, not by the
# infinite set of concrete paths. /errors/e0../e4 → /errors/e<NUM>;
# /api/v1/items → /api/v<NUM>/items. Same extended fixture corpus and
# oracle pattern as elb_pipeline_hourly; path extraction and both
# masking rules are the SAME regex text in both engines (no
# parse_url in the oracle path, so there is no cross-engine URL
# parser to disagree with).
# --------------------------------------------------------------------------
_TPL_PATH_RE = "^[a-z]+://[^/?]+(/[^?]*)?"
_TPL_UUID_RE = (
    "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
)
_TPL_HC_RE = "datadog|healthchecker|kube-probe|aws-elb"


@register(
    "elb_template_mining",
    sql=f"""
    WITH raw AS (
        SELECT regexp_extract_all(value, '"[^"]*"|\\S+') AS t
        FROM read_parquet('{_ELB_FIXTURE_PARQUET}')
    ),
    parsed AS (
        SELECT split_part(trim(t[13], '"'), ' ', 1) AS http_method,
               split_part(trim(t[13], '"'), ' ', 2) AS url,
               trim(t[14], '"') AS user_agent,
               CASE WHEN regexp_matches(t[9], '^[0-9]+$')
                    THEN CAST(t[9] AS BIGINT) END AS status
        FROM raw WHERE len(t) >= 29
    ),
    tpl AS (
        SELECT http_method,
               regexp_replace(
                   regexp_replace(
                       regexp_extract(url, '{_TPL_PATH_RE}', 1),
                       '{_TPL_UUID_RE}', '<ID>', 'g'),
                   '[0-9]+', '<NUM>', 'g') AS template,
               regexp_extract(url, '{_TPL_PATH_RE}', 1) AS path,
               status
        FROM parsed
        WHERE NOT COALESCE(
            regexp_matches(lower(user_agent), '{_TPL_HC_RE}'), FALSE)
    )
    SELECT http_method, template,
           CAST(COUNT(*) AS BIGINT) AS n_requests,
           CAST(COUNT(DISTINCT path) AS BIGINT) AS n_distinct_paths,
           CAST(COUNT(CASE WHEN status >= 500 THEN 1 END) AS BIGINT)
               AS n_5xx,
           CAST(COUNT(CASE WHEN status >= 500 THEN 1 END) * 10000
                // COUNT(*) AS BIGINT) AS err_5xx_bp
    FROM tpl
    GROUP BY http_method, template
    ORDER BY http_method, template
    """,
    tags=("elb", "text", "template_mining", "ops"),
)
def elb_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Endpoint templates from the parsed ALB corpus: mask UUIDs then
    digit runs in the URL path, aggregate per (method, template) with
    request counts, how many concrete paths collapsed into the
    template, and exact-integer 5xx basis points. One parse + one
    vocabulary-sized aggregate; the masking is a codegen'd
    regexp_replace chain, so template extraction costs the same as
    any projection at 100 TB."""
    import os

    from ..session import ensure_engine_confs
    from ..sources.alb_fixtures import write_fixture_parquet
    from ..sources.elb_logs import parse_elb_lines

    ensure_engine_confs(spark)
    if not os.path.exists(_ELB_FIXTURE_PARQUET):
        write_fixture_parquet(_ELB_FIXTURE_PARQUET, extended=True)
    parsed = parse_elb_lines(spark.read.parquet(_ELB_FIXTURE_PARQUET))
    path = F.regexp_extract(F.col("full_url"), _TPL_PATH_RE, 1)
    template = F.regexp_replace(
        F.regexp_replace(path, _TPL_UUID_RE, "<ID>"), "[0-9]+", "<NUM>"
    )
    tpl = (
        parsed.filter(
            ~F.coalesce(
                F.lower(F.col("user_agent")).rlike(_TPL_HC_RE), F.lit(False)
            )
        )
        .select(
            "http_method",
            template.alias("template"),
            path.alias("path"),
            F.col("elb_status_code").alias("status"),
        )
    )
    return (
        tpl.groupBy("http_method", "template")
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.countDistinct("path").alias("n_distinct_paths"),
            F.count(F.when(F.col("status") >= 500, 1)).alias("n_5xx"),
            F.expr(
                "CAST(count(CASE WHEN status >= 500 THEN 1 END) * 10000 "
                "div count(*) AS BIGINT)"
            ).alias("err_5xx_bp"),
        )
        .orderBy("http_method", "template")
    )


# --------------------------------------------------------------------------
# Range-dimension lookup join, rewritten to an equi-join. Assigning
# each fact row the dimension row whose [lo, hi) range contains it
# (price tiers here; IP->geo ranges, latency SLO bands, tax brackets
# in the wild) naively plans a BroadcastNestedLoopJoin — O(facts x
# ranges) compares. The scalable rewrite buckets the number line:
# each RANGE expands to the buckets it covers (a tiny dim-side
# explode), each FACT computes its bucket in place, and the join
# becomes a plain broadcast HASH equi-join on bucket with the range
# predicate as a residual — O(facts) probes no matter how many
# ranges. test_plans.py pins that the rewrite really plans a
# BroadcastHashJoin.
# --------------------------------------------------------------------------
_TIER_BUCKET = 50_000
#: (tier name, lo, hi) — hi exclusive; last tier open-ended
_PRICE_TIERS = (
    ("T1_budget", 0, 50_000),
    ("T2_mid", 50_000, 100_000),
    ("T3_high", 100_000, 200_000),
    ("T4_premium", 200_000, 400_000),
    ("T5_luxury", 400_000, 600_000),
)


def _tier_case_sql() -> str:
    arms = " ".join(
        f"WHEN o_totalprice >= {lo} AND o_totalprice < {hi} THEN '{name}'"
        for name, lo, hi in _PRICE_TIERS
    )
    return f"CASE {arms} END"


@register(
    "range_lookup_join",
    sql=f"""
    SELECT {_tier_case_sql()} AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    WHERE {_tier_case_sql()} IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
    tags=("join", "range", "broadcast", "rewrite"),
)
def range_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-tier assignment through the BUCKETED range-join rewrite:
    the tier dim explodes each [lo, hi) range into its covered
    50k-wide buckets, orders compute their bucket in place, and a
    broadcast HASH equi-join on bucket (+ residual range predicate)
    replaces the nested-loop scan a raw range join would plan. The
    oracle expresses the same assignment as a CASE — a hash match
    proves the rewrite assigns every order its correct range row.
    Exact-integer cents keep the sums engine-identical."""
    o = _t(spark, sf_dir, "orders")
    tiers = spark.createDataFrame(
        [
            (name, lo, hi, b)
            for name, lo, hi in _PRICE_TIERS
            for b in range(lo // _TIER_BUCKET, (hi - 1) // _TIER_BUCKET + 1)
        ],
        "tier string, lo long, hi long, bucket long",
    )
    facts = o.select(
        "o_totalprice",
        F.floor(F.col("o_totalprice") / _TIER_BUCKET)
        .cast("long")
        .alias("bucket"),
    )
    joined = facts.join(F.broadcast(tiers), "bucket").filter(
        (F.col("o_totalprice") >= F.col("lo"))
        & (F.col("o_totalprice") < F.col("hi"))
    )
    return (
        joined.groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("tier")
    )


# --------------------------------------------------------------------------
# RFM segmentation: the classic customer-value grid. One per-customer
# reduce builds (recency, frequency, monetary); each dimension is cut
# at its exact quartiles (a 3-value broadcast per dimension — the
# scale path is swapping in percentile_approx, the same documented
# trade as the equi-depth twins); segment = R digit * 100 + F * 10
# + M. Exact-integer inputs (epoch days, counts, cents) make the
# cuts and comparisons engine-identical.
# --------------------------------------------------------------------------


@register(
    "rfm_segment_counts",
    sql="""
    WITH per_c AS (
        SELECT o_custkey,
               MAX(epoch_ms(o_orderdate) // 86400000) AS last_day,
               COUNT(*) AS freq,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    bounds AS (
        SELECT MAX(last_day) AS maxd FROM per_c
    ),
    rfm AS (
        SELECT o_custkey,
               bounds.maxd - last_day AS recency,
               freq, cents
        FROM per_c CROSS JOIN bounds
    ),
    cuts AS (
        SELECT quantile_cont(recency, 0.25) AS r1,
               quantile_cont(recency, 0.50) AS r2,
               quantile_cont(recency, 0.75) AS r3,
               quantile_cont(freq, 0.25) AS f1,
               quantile_cont(freq, 0.50) AS f2,
               quantile_cont(freq, 0.75) AS f3,
               quantile_cont(cents, 0.25) AS m1,
               quantile_cont(cents, 0.50) AS m2,
               quantile_cont(cents, 0.75) AS m3
        FROM rfm
    ),
    seg AS (
        SELECT (CASE WHEN recency <= cuts.r1 THEN 4
                     WHEN recency <= cuts.r2 THEN 3
                     WHEN recency <= cuts.r3 THEN 2 ELSE 1 END) * 100
             + (CASE WHEN freq <= cuts.f1 THEN 1
                     WHEN freq <= cuts.f2 THEN 2
                     WHEN freq <= cuts.f3 THEN 3 ELSE 4 END) * 10
             + (CASE WHEN cents <= cuts.m1 THEN 1
                     WHEN cents <= cuts.m2 THEN 2
                     WHEN cents <= cuts.m3 THEN 3 ELSE 4 END) AS segment,
               cents
        FROM rfm CROSS JOIN cuts
    )
    SELECT CAST(segment AS BIGINT) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM seg GROUP BY segment ORDER BY segment
    """,
    tags=("analytics", "rfm", "segmentation"),
)
def rfm_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers segmented into the R/F/M quartile grid (recency
    scored 4 = most recent; frequency and monetary scored 4 = top
    quartile), rolled up to per-segment customer counts and exact
    total cents. One per-customer reduce, one 9-value exact-quartile
    aggregate broadcast back, then a vocabulary-sized segment
    aggregate — no windows, no data-sized joins.

    r05 single-pass rewrite: the old shape computed ``maxd`` in its
    own aggregate before deriving ``recency`` per row, which split the
    per-customer subtree into THREE differently-pruned branches (rfm,
    bounds, cuts) that Catalyst could not ReuseExchange — three full
    orders scans. The recency quartiles now fold into the SAME
    aggregate as ``maxd`` via the monotone-transform identity
    ``quantile_q(maxd − X) = maxd − quantile_{1−q}(X)`` (exact here:
    linear interpolation over integer days with quarter fractions —
    every intermediate is a multiple of 0.25 far below 2^52, so the
    identity holds bit-for-bit, and ``recency <= maxd − ld_q`` is
    exactly ``last_day >= ld_q``). Both remaining consumers of the
    per-customer aggregate are identically pruned, so the exchange is
    reused: ONE orders scan, one shuffle (plan-pinned in
    test_plans.py). The DuckDB oracle keeps the direct recency
    formulation — the hash match doubles as an exactness proof of the
    quantile identity."""
    o = _t(spark, sf_dir, "orders")
    per_c = o.groupBy("o_custkey").agg(
        F.expr("max(unix_millis(o_orderdate) div 86400000)").alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
    )
    cuts = per_c.agg(
        # recency quartile q maps to last_day quantile 1-q (see above);
        # maxd itself cancels out of every comparison, so it is never
        # computed
        F.percentile("last_day", F.lit(0.75)).alias("ld1"),
        F.percentile("last_day", F.lit(0.50)).alias("ld2"),
        F.percentile("last_day", F.lit(0.25)).alias("ld3"),
        *[
            F.percentile(c, F.lit(q)).alias(f"{c[0]}{i}")
            for c in ("freq", "cents")
            for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
        ],
    )
    r_digit = (
        F.when(F.col("last_day") >= F.col("ld1"), 4)
        .when(F.col("last_day") >= F.col("ld2"), 3)
        .when(F.col("last_day") >= F.col("ld3"), 2)
        .otherwise(1)
    )
    f_digit = (
        F.when(F.col("freq") <= F.col("f1"), 1)
        .when(F.col("freq") <= F.col("f2"), 2)
        .when(F.col("freq") <= F.col("f3"), 3)
        .otherwise(4)
    )
    m_digit = (
        F.when(F.col("cents") <= F.col("c1"), 1)
        .when(F.col("cents") <= F.col("c2"), 2)
        .when(F.col("cents") <= F.col("c3"), 3)
        .otherwise(4)
    )
    seg = per_c.crossJoin(F.broadcast(cuts)).select(
        (r_digit * 100 + f_digit * 10 + m_digit).alias("segment"), "cents"
    )
    return (
        seg.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# Embedding centroid drift: is the vector distribution moving? The
# scalar drift audit (value_drift_audit) can't see a 64-dim shift;
# per-dimension centroid deltas between two halves of the corpus
# can. Decimal per-dim sums are exact (any order, any partitioning),
# so the two centroids — and therefore every delta — are
# bit-identical across engines; the split is vec_id parity, the
# deterministic stand-in for a time column.
# --------------------------------------------------------------------------


@register(
    "embedding_centroid_drift",
    sql="""
    WITH e AS (
        SELECT vec_id % 2 AS period, embedding
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    idx AS (
        SELECT unnest(range(0, (SELECT COALESCE(MAX(len(embedding)), 0)
                                FROM e))) AS dim
    ),
    x AS (
        SELECT e.period, idx.dim, e.embedding[idx.dim + 1]::DOUBLE AS x
        FROM e CROSS JOIN idx
        WHERE idx.dim < len(e.embedding)
    ),
    m AS (
        SELECT dim,
               CAST(SUM(CASE WHEN period = 0
                             THEN CAST(x AS DECIMAL(28,12)) END) AS DOUBLE)
                   / COUNT(CASE WHEN period = 0 THEN 1 END) AS m0,
               CAST(SUM(CASE WHEN period = 1
                             THEN CAST(x AS DECIMAL(28,12)) END) AS DOUBLE)
                   / COUNT(CASE WHEN period = 1 THEN 1 END) AS m1
        FROM x GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           ROUND(m0, 9) AS mean_a,
           ROUND(m1, 9) AS mean_b,
           ROUND(ABS(m1 - m0), 9) AS abs_shift
    FROM m ORDER BY dim
    """,
    tags=("embedding", "drift", "mlops"),
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension centroid comparison between the two vec_id-parity
    halves of the embedding corpus: exact-decimal per-dim sums divide
    into identical IEEE means in both engines, so every per-dim shift
    is hash-verified. A rising `abs_shift` on specific dimensions is
    the embedding-pipeline drift signal (model update, preprocessing
    change, upstream corpus shift) that scalar histograms cannot see.
    Scale shape: one posexplode scan into a (2 x dims)-sized
    aggregate — the output is dimension-sized regardless of corpus
    size."""
    e = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    x = e.select(
        (F.col("vec_id") % 2).alias("period"),
        F.posexplode("embedding").alias("dim", "x"),
    )
    dec = F.col("x").cast("double").cast("decimal(28,12)")
    m = x.groupBy("dim").agg(
        (
            F.sum(F.when(F.col("period") == 0, dec)).cast("double")
            / F.count(F.when(F.col("period") == 0, 1))
        ).alias("m0"),
        (
            F.sum(F.when(F.col("period") == 1, dec)).cast("double")
            / F.count(F.when(F.col("period") == 1, 1))
        ).alias("m1"),
    )
    return m.select(
        F.col("dim").cast("long").alias("dim"),
        F.round("m0", 9).alias("mean_a"),
        F.round("m1", 9).alias("mean_b"),
        F.round(F.abs(F.col("m1") - F.col("m0")), 9).alias("abs_shift"),
    ).orderBy("dim")


# --------------------------------------------------------------------------
# kNN label-agreement audit: do the labels respect the geometry? For
# each query vector, what fraction of its 5 exact nearest neighbors
# share its label — per-label. Low agreement = mislabeled data or an
# embedding space that doesn't separate that class; either way it's
# the label-quality gate to run before training a classifier on the
# corpus. Reuses the exact brute-force top-k operator (rounded-cosine
# ranking with neighbor-id tiebreak — the cross-engine-stable order
# cosine_topk_bruteforce banks).
# --------------------------------------------------------------------------


@register(
    "knn_label_agreement",
    sql="""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    n AS (SELECT vec_id, label, v,
                 sqrt(list_dot_product(v, v)) AS nrm FROM e),
    p AS (
        SELECT q.vec_id AS qid, q.label AS qlab, c.label AS clab,
               c.vec_id AS neighbor,
               ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6)
                   AS cosine
        FROM n q JOIN n c ON c.vec_id <> q.vec_id
        WHERE q.vec_id % 100 = 0
    ),
    r AS (
        SELECT *, row_number() OVER (
                   PARTITION BY qid ORDER BY cosine DESC, neighbor ASC)
                   AS rk
        FROM p
    ),
    k AS (
        SELECT qid, qlab,
               COUNT(CASE WHEN clab = qlab THEN 1 END) AS agree
        FROM r WHERE rk <= 5 GROUP BY qid, qlab
    )
    SELECT CAST(qlab AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(agree) AS BIGINT) AS n_agree,
           CAST(SUM(agree) * 10000 // (COUNT(*) * 5) AS BIGINT)
               AS agree_bp
    FROM k GROUP BY qlab ORDER BY label
    """,
    tags=("embedding", "knn", "label_quality", "mlops"),
)
def knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label 5-NN agreement over the deterministic query subset
    (vec_id % 100 == 0): reuse the exact brute-force top-k, join
    labels onto both sides, and report exact-integer agreement basis
    points per label. Scale shape: the BOUNDED side of each label
    join is the top-k frame itself (|queries| x 5 rows, queries being
    1% of the corpus by construction) — so THAT is what broadcasts,
    while the corpus-sized label projection streams as the probe side
    of both joins (VERDICT r03 item 1: broadcasting the full label
    map would ship the whole corpus to every executor at 1e9+
    vectors; a plan test pins the build side to the top-k subtree)."""
    from ..operators.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    topk = cosine_topk_bruteforce(emb, F.col("vec_id") % 100 == 0, k=5)
    labels = emb.select("vec_id", "label")
    ql = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "qlab"
    )
    cl = labels.withColumnRenamed("vec_id", "neighbor").withColumnRenamed(
        "label", "clab"
    )
    with_qlab = ql.join(F.broadcast(topk), "query_id")
    j = cl.join(F.broadcast(with_qlab), "neighbor")
    per_q = j.groupBy("query_id", "qlab").agg(
        F.count(F.when(F.col("clab") == F.col("qlab"), 1)).alias("agree")
    )
    return (
        per_q.groupBy(F.col("qlab").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("agree").cast("long").alias("n_agree"),
            F.expr(
                "CAST(sum(agree) * 10000 div (count(*) * 5) AS BIGINT)"
            ).alias("agree_bp"),
        )
        .orderBy("label")
    )
