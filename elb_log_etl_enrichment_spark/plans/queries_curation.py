"""Corpus-curation tier: benchmark decontamination, chunk-level exact
dedup, unigram-LM quality scoring, and token-budget selection.

The four operations a training-data pipeline runs between raw dedup
and tokenization:

* **Decontamination** — n-gram overlap between the train split and a
  held-out (test/benchmark) split; any train document sharing a
  3-gram with the test set is flagged. The test n-gram set is tiny
  relative to the corpus (benchmarks are small), so it broadcasts;
  the corpus side never shuffles document text, only 32-char digests.
* **Chunk-level exact dedup** (C4/RefinedWeb line-dedup adapted to
  unstructured text) — non-overlapping 8-token chunks hashed
  corpus-wide; chunks appearing more than once are "duplicated
  content". The chunk-frequency table is vocabulary-sized, the join
  back is on digests.
* **Unigram-LM scoring** (CCNet-style) — mean -log2 p(token) per
  document under the corpus unigram model; the model is a broadcast
  join-back (vocabulary ≪ corpus).
* **Token-budget selection** (top-p by length) — per language, keep
  the largest documents until 60 % of the language's characters are
  covered. All comparisons are integer (5·prev_cum < 3·total), so
  the cut is exactly reproducible on any engine.

Determinism: digests are md5 hex (identical in both engines); floats
appear only as final ROUND(..., 6) ratios; the budget rule is pure
integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import TOKEN_RE, prefix_digest
from ..operators.text_dedup import shingles
from .queries import _t, register

#: DuckDB-side shingle CTE over a pre-split base table carrying the
#: is_test flag (same 3-gram definition as operators.text_dedup).
_SPLIT_SH_CTE = r"""
    base AS (
        SELECT doc_id, text,
               substr(md5(text), 1, 1) > 'c' AS is_test
        FROM documents
    ),
    sh AS (
        SELECT doc_id, is_test,
               list_distinct([concat(t[i], ' ', t[i+1], ' ', t[i+2])
                              for i in range(1, len(t) - 1)]) AS s
        FROM (SELECT doc_id, is_test, regexp_extract_all(text, '\S+') AS t
              FROM base)
        WHERE len(t) >= 3
    )
"""


@register(
    "decontamination_overlap",
    sql=f"""
    WITH {_SPLIT_SH_CTE},
    test_sg AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5(sg), 1, 15))::UBIGINT AS BIGINT) AS digest
        FROM (SELECT unnest(s) AS sg FROM sh WHERE is_test)
    ),
    train_ex AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(sg), 1, 15))::UBIGINT AS BIGINT) AS digest
        FROM (SELECT doc_id, unnest(s) AS sg FROM sh WHERE NOT is_test)
    ),
    hits AS (
        SELECT doc_id, COUNT(*) AS c
        FROM train_ex JOIN test_sg USING (digest)
        GROUP BY doc_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sh WHERE NOT is_test)
               AS n_train_docs,
           CAST(COUNT(*) AS BIGINT)              AS n_contaminated_docs,
           CAST(COALESCE(SUM(c), 0) AS BIGINT)   AS total_hits,
           CAST(COALESCE(MAX(c), 0) AS BIGINT)   AS max_hits_per_doc
    FROM hits
    """,
    tags=("curation", "decontamination", "ngram", "join"),
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-test 3-gram contamination. ONE tokenize/shingle pass
    over the corpus (the is_test flag rides along and splits the
    output — a second shingles() call would re-scan every document);
    digests are 60-bit ints from the md5 prefix, so the broadcast set
    and the probe side carry 8-byte keys, not 32-char strings. The
    test digest set is broadcast (benchmark splits are small by
    construction); train documents shuffle only (doc_id, digest)."""
    d = _t(spark, sf_dir, "documents")
    is_test = F.substring(F.md5("text"), 1, 1) > "c"
    sh_all = shingles(d.withColumn("is_test", is_test), keep_cols=("is_test",)).persist()

    def _digest(col):
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")

    test_sg = (
        sh_all.filter("is_test")
        .select(F.explode("sh").alias("sg"))
        .select(_digest(F.col("sg")).alias("digest"))
        .distinct()
    )
    train = sh_all.filter(~F.col("is_test"))
    train_ex = train.select(
        "doc_id", F.explode(F.transform("sh", _digest)).alias("digest")
    )
    hits = (
        train_ex.join(F.broadcast(test_sg), "digest")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    summary = hits.agg(
        F.count(F.lit(1)).alias("n_contaminated_docs"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("total_hits"),
        F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("max_hits_per_doc"),
    )
    n_train = train.agg(F.count(F.lit(1)).alias("n_train_docs"))
    return n_train.crossJoin(summary).select(
        "n_train_docs", "n_contaminated_docs", "total_hits", "max_hits_per_doc"
    )


#: Bloom geometry: 2^20 bits = 16,384 longs (128 KiB — broadcasts as
#: a dim table at any corpus size); k=4 probes via Kirsch-Mitzenmacher
#: double hashing (h1 + i·(2·h2+1), the odd multiplier keeps the probe
#: sequence full-period over the power-of-two bit space).
_BLOOM_BITS = 1 << 20
_BLOOM_K = 4


@register(
    "bloom_decontamination_audit",
    sql=f"""
    WITH {_SPLIT_SH_CTE},
    test_h AS (
        SELECT DISTINCT md5(sg) AS hx
        FROM (SELECT unnest(s) AS sg FROM sh WHERE is_test)
    ),
    test_pos AS (
        SELECT unnest([
            (CAST(('0x' || substr(hx, 1, 15))::UBIGINT AS BIGINT)
             + i * (2 * CAST(('0x' || substr(hx, 17, 15))::UBIGINT AS BIGINT) + 1))
            % {_BLOOM_BITS}
            for i in range(0, {_BLOOM_K})]) AS pos
        FROM test_h
    ),
    bloom AS (
        SELECT pos // 64 AS word_idx,
               bit_or(1::UBIGINT << CAST(pos % 64 AS INT)) AS word
        FROM test_pos GROUP BY pos // 64
    ),
    probe AS (
        SELECT doc_id, md5(sg) AS hx
        FROM (SELECT doc_id, unnest(s) AS sg FROM sh WHERE NOT is_test)
    ),
    probe_pos AS (
        SELECT doc_id, hx, i,
               (CAST(('0x' || substr(hx, 1, 15))::UBIGINT AS BIGINT)
                + i * (2 * CAST(('0x' || substr(hx, 17, 15))::UBIGINT AS BIGINT) + 1))
               % {_BLOOM_BITS} AS pos
        FROM probe, (SELECT unnest(range(0, {_BLOOM_K})) AS i)
    ),
    cand AS (
        SELECT doc_id, hx,
               SUM(CASE WHEN (b.word & (1::UBIGINT << CAST(pos % 64 AS INT))) <> 0
                        THEN 1 ELSE 0 END) AS nb
        FROM probe_pos p JOIN bloom b ON b.word_idx = pos // 64
        GROUP BY doc_id, hx
    ),
    verdicts AS (
        SELECT p.doc_id, p.hx,
               COALESCE(c.nb, 0) = {_BLOOM_K} AS bloom_pos,
               p.hx IN (SELECT hx FROM test_h) AS exact_pos
        FROM probe p LEFT JOIN cand c ON c.doc_id = p.doc_id AND c.hx = p.hx
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sh WHERE NOT is_test)
               AS n_train_docs,
           CAST(COUNT(*) AS BIGINT) AS probes,
           CAST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
               AS bloom_pos_probes,
           CAST(SUM(CASE WHEN exact_pos THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_pos_probes,
           CAST(SUM(CASE WHEN bloom_pos AND NOT exact_pos THEN 1 ELSE 0 END)
               AS BIGINT) AS false_pos_probes,
           ROUND(SUM(CASE WHEN bloom_pos AND NOT exact_pos THEN 1 ELSE 0 END)
                 * 1.0
                 / GREATEST(SUM(CASE WHEN NOT exact_pos THEN 1 ELSE 0 END), 1),
                 6) AS fp_rate,
           CAST(COUNT(DISTINCT CASE WHEN bloom_pos THEN doc_id END) AS BIGINT)
               AS flagged_docs_bloom,
           CAST(COUNT(DISTINCT CASE WHEN exact_pos THEN doc_id END) AS BIGINT)
               AS flagged_docs_exact
    FROM verdicts
    """,
    tags=("curation", "decontamination", "bloom", "bitops"),
)
def bloom_decontamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination by bloom filter instead of exact digest set —
    the variant that stays broadcast-able when the benchmark suite is
    itself large. The exact-set broadcast in decontamination_overlap
    grows with the benchmark (8 B per distinct n-gram); the bloom is a
    FIXED 128 KiB bitmap regardless of benchmark size, built with one
    ``bit_or`` aggregation over k=4 double-hashed bit positions and
    probed JVM-side with shift/mask expressions — no UDF, no shuffle
    of document text. A probe is a candidate only if ALL k bits are
    set; the query also joins candidates back to the exact digest set
    to report the realized false-positive rate (the tunable the 100 TB
    operator trades memory against). Bloom semantics guarantee zero
    false negatives — asserted by the oracle match (flagged_docs_bloom
    ⊇ flagged_docs_exact) and pinned in tests."""
    d = _t(spark, sf_dir, "documents")
    is_test = F.substring(F.md5("text"), 1, 1) > "c"
    sh_all = shingles(
        d.withColumn("is_test", is_test), keep_cols=("is_test",)
    ).persist()

    h1 = F.conv(F.substring("hx", 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring("hx", 17, 15), 16, 10).cast("long")

    def _pos(i):
        return (h1 + i * (2 * h2 + 1)) % _BLOOM_BITS

    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
    word_idx = F.shiftright("pos", 6)

    test_h = (
        sh_all.filter("is_test")
        .select(F.explode("sh").alias("sg"))
        .select(F.md5("sg").alias("hx"))
        .distinct()
        .persist()  # feeds the bloom build AND the exact-verdict probe
    )
    bloom = (
        test_h.select(
            F.explode(F.array(*[_pos(i) for i in range(_BLOOM_K)])).alias("pos")
        )
        .groupBy(word_idx.alias("word_idx"))
        .agg(F.bit_or(mask).alias("word"))
    )

    probe = (
        sh_all.filter(~F.col("is_test"))
        .select("doc_id", F.explode("sh").alias("sg"))
        .select("doc_id", F.md5("sg").alias("hx"))
        .persist()  # probed once against the bloom, once against exact
    )
    probe_pos = probe.select(
        "doc_id",
        "hx",
        F.explode(F.array(*[_pos(i) for i in range(_BLOOM_K)])).alias("pos"),
    )
    cand = (
        probe_pos.join(F.broadcast(bloom), word_idx == F.col("word_idx"))
        .withColumn(
            "hit", (F.col("word").bitwiseAND(mask) != 0).cast("int")
        )
        .groupBy("doc_id", "hx")
        .agg(F.sum("hit").alias("nb"))
    )
    verdicts = (
        probe.join(cand, ["doc_id", "hx"], "left")
        .join(
            F.broadcast(test_h.withColumn("exact_pos", F.lit(True))),
            "hx",
            "left",
        )
        .select(
            "doc_id",
            (F.coalesce(F.col("nb"), F.lit(0)) == _BLOOM_K).alias("bloom_pos"),
            F.coalesce("exact_pos", F.lit(False)).alias("exact_pos"),
        )
    )
    n_train = sh_all.filter(~F.col("is_test")).agg(
        F.count(F.lit(1)).alias("n_train_docs")
    )
    fp = F.sum((F.col("bloom_pos") & ~F.col("exact_pos")).cast("int"))
    summary = verdicts.agg(
        F.count(F.lit(1)).alias("probes"),
        F.sum(F.col("bloom_pos").cast("int")).cast("long").alias("bloom_pos_probes"),
        F.sum(F.col("exact_pos").cast("int")).cast("long").alias("exact_pos_probes"),
        fp.cast("long").alias("false_pos_probes"),
        F.round(
            fp * 1.0
            / F.greatest(F.sum((~F.col("exact_pos")).cast("int")), F.lit(1)),
            6,
        ).alias("fp_rate"),
        F.count_distinct(
            F.when(F.col("bloom_pos"), F.col("doc_id"))
        ).alias("flagged_docs_bloom"),
        F.count_distinct(
            F.when(F.col("exact_pos"), F.col("doc_id"))
        ).alias("flagged_docs_exact"),
    )
    return n_train.crossJoin(summary).select(
        "n_train_docs",
        "probes",
        "bloom_pos_probes",
        "exact_pos_probes",
        "false_pos_probes",
        "fp_rate",
        "flagged_docs_bloom",
        "flagged_docs_exact",
    )


_CHUNK_T = 8  # tokens per dedup chunk


@register(
    "chunk_dedup_stats",
    sql=f"""
    WITH tk AS (
        SELECT doc_id, source, regexp_extract_all(text, '\\S+') AS t
        FROM documents
    ),
    ch AS (
        SELECT doc_id, source,
               [CAST(('0x' || substr(md5(array_to_string(
                    t[k*{_CHUNK_T}+1 : k*{_CHUNK_T}+{_CHUNK_T}], ' ')), 1, 15))::UBIGINT
                     AS BIGINT)
                for k in range(0, CAST(floor(len(t) / {_CHUNK_T}) AS INT))] AS cs
        FROM tk
        WHERE len(t) >= {_CHUNK_T}
    ),
    e AS (SELECT doc_id, source, unnest(cs) AS digest FROM ch),
    freq AS (SELECT digest, COUNT(*) AS c FROM e GROUP BY digest),
    perdoc AS (
        SELECT doc_id, source,
               COUNT(*) AS n_chunks,
               SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS n_dup
        FROM e JOIN freq USING (digest)
        GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)        AS n_docs,
           CAST(SUM(n_chunks) AS BIGINT)   AS total_chunks,
           CAST(SUM(n_dup) AS BIGINT)      AS dup_chunks,
           ROUND(AVG(1.0 - n_dup * 1.0 / n_chunks), 6) AS avg_retained_frac,
           CAST(SUM(CASE WHEN n_dup = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS fully_clean_docs
    FROM perdoc
    GROUP BY source
    """,
    tags=("curation", "dedup", "chunk", "agg"),
)
def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-chunk accounting. Chunks hash to 60-bit
    integer digests (md5-prefix, identical in both engines) before any
    shuffle, so both the explode shuffle and the frequency join carry
    8-byte keys instead of 32-char strings; the frequency table joins
    back on the digest (chunk-vocabulary sized, not corpus sized)."""
    d = _t(spark, sf_dir, "documents")
    t = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0)
    chunks = F.transform(
        F.sequence(F.lit(0), F.floor(F.size("t") / _CHUNK_T).cast("int") - 1),
        lambda k: F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.slice("t", k * _CHUNK_T + 1, _CHUNK_T))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
    )
    e = (
        d.select("doc_id", "source", t.alias("t"))
        .filter(F.size("t") >= _CHUNK_T)
        .select("doc_id", "source", F.explode(chunks).alias("digest"))
        .persist()  # feeds the frequency agg AND the join-back probe
    )
    freq = e.groupBy("digest").agg(F.count(F.lit(1)).alias("c"))
    perdoc = (
        e.join(freq, "digest")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chunks").cast("long").alias("total_chunks"),
        F.sum("n_dup").cast("long").alias("dup_chunks"),
        F.round(F.avg(1.0 - F.col("n_dup") * 1.0 / F.col("n_chunks")), 6).alias(
            "avg_retained_frac"
        ),
        F.sum(F.when(F.col("n_dup") == 0, 1).otherwise(0))
        .cast("long")
        .alias("fully_clean_docs"),
    )


@register(
    "unigram_logprob_quality",
    sql="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(regexp_extract_all(text, '\\S+')) AS tok
        FROM documents
    ),
    model AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    total AS (SELECT SUM(c) AS n FROM model),
    scored AS (
        SELECT t.doc_id, t.lang,
               AVG(-log2(m.c * 1.0 / total.n)) AS bits_per_tok
        FROM tok t JOIN model m ON t.tok = m.tok CROSS JOIN total
        GROUP BY t.doc_id, t.lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)       AS n_docs,
           ROUND(AVG(bits_per_tok), 6)    AS avg_bits,
           ROUND(MIN(bits_per_tok), 6)    AS min_bits,
           ROUND(MAX(bits_per_tok), 6)    AS max_bits
    FROM scored
    GROUP BY lang
    """,
    tags=("curation", "quality", "lm", "agg"),
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity proxy: mean -log2 p(token) under the
    corpus unigram model. The model (vocabulary-sized) and the 1-row
    total broadcast back onto the token stream — one shuffle builds
    the model, one shuffle scores documents."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0)).alias("tok"),
    )
    model = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = model.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(F.broadcast(model), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(F.avg(-F.log2(F.col("c") * 1.0 / F.col("n"))).alias("bits_per_tok"))
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("bits_per_tok"), 6).alias("avg_bits"),
        F.round(F.min("bits_per_tok"), 6).alias("min_bits"),
        F.round(F.max("bits_per_tok"), 6).alias("max_bits"),
    )


@register(
    "token_budget_topp",
    sql="""
    WITH ranked AS (
        SELECT lang, doc_id, n_chars,
               COALESCE(SUM(n_chars) OVER
                   (PARTITION BY lang ORDER BY n_chars DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prev_cum,
               SUM(n_chars) OVER (PARTITION BY lang) AS total_chars
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS total_docs,
           CAST(MIN(total_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN 5 * prev_cum < 3 * total_chars
                         THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
           CAST(SUM(CASE WHEN 5 * prev_cum < 3 * total_chars
                         THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
           ROUND(SUM(CASE WHEN 5 * prev_cum < 3 * total_chars
                          THEN n_chars ELSE 0 END) * 1.0
                 / MIN(total_chars), 6) AS kept_frac
    FROM ranked
    GROUP BY lang
    """,
    tags=("curation", "sampling", "window", "agg"),
)
def token_budget_topp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-first selection until 60 % of each language's character
    budget is covered. The keep rule (5·prev_cum < 3·total) is pure
    integer arithmetic — bit-identical on any engine. Both windows
    share one Exchange on lang."""
    d = _t(spark, sf_dir, "documents")
    order_w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    total_w = Window.partitionBy("lang")
    ranked = d.select(
        "lang",
        "doc_id",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(order_w), F.lit(0)).alias("prev_cum"),
        F.sum("n_chars").over(total_w).alias("total_chars"),
    )
    keep = 5 * F.col("prev_cum") < 3 * F.col("total_chars")
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.min("total_chars").cast("long").alias("total_chars"),
        F.sum(keep.cast("int")).cast("long").alias("kept_docs"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).cast("long").alias("kept_chars"),
        F.round(
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
            * 1.0
            / F.min("total_chars"),
            6,
        ).alias("kept_frac"),
    )


_SPAN_W = 8  # tokens per sliding duplicate-detection window


@register(
    "duplicated_span_coverage",
    sql=f"""
    WITH tk AS (
        SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
    ),
    sp AS (
        SELECT doc_id,
               unnest(range(0, len(t) - {_SPAN_W - 1})) AS start,
               unnest([CAST(('0x' || substr(md5(array_to_string(
                           t[i : i + {_SPAN_W - 1}], ' ')), 1, 15))::UBIGINT AS BIGINT)
                       for i in range(1, len(t) - {_SPAN_W - 2})]) AS digest
        FROM tk
        WHERE len(t) >= {_SPAN_W}
    ),
    freq AS (SELECT digest FROM sp GROUP BY digest HAVING COUNT(*) >= 2),
    dup AS (SELECT doc_id, start FROM sp JOIN freq USING (digest)),
    lagd AS (
        SELECT doc_id, start,
               CASE WHEN start > COALESCE(lag(start) OVER w + {_SPAN_W - 1}, -1)
                    THEN 1 ELSE 0 END AS brk
        FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY start)
    ),
    grp AS (
        SELECT doc_id, start, SUM(brk) OVER (PARTITION BY doc_id ORDER BY start
                                             ROWS UNBOUNDED PRECEDING) AS g
        FROM lagd
    ),
    merged AS (
        SELECT doc_id, g, COUNT(*) AS n_w,
               MAX(start) + {_SPAN_W} - MIN(start) AS cov
        FROM grp GROUP BY doc_id, g
    ),
    perdoc AS (
        SELECT doc_id, SUM(n_w) AS n_dup_windows, SUM(cov) AS covered
        FROM merged GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CAST(len(tk.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(p.covered, 0) AS BIGINT) AS covered_tokens,
           CASE WHEN len(tk.t) > 0
                THEN ROUND(COALESCE(p.covered, 0) * 1.0 / len(tk.t), 6)
                ELSE 0.0 END AS dup_fraction
    FROM tk LEFT JOIN perdoc p USING (doc_id)
    ORDER BY doc_id
    """,
    tags=("curation", "dedup", "substring", "span", "window"),
)
def duplicated_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring accounting (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): every sliding
    8-token window is digested corpus-wide; windows whose digest occurs
    ≥2 times anywhere (other docs OR a repeat within the same doc) are
    "duplicated", and per document the duplicated windows are merged
    into maximal spans (interval union) to report exactly how many
    TOKENS sit inside repeated substrings — the quantity substring-level
    dedup would remove. Distinct from `chunk_dedup_stats` (non-overlap
    8-token chunks miss duplicates that straddle a chunk boundary;
    sliding windows cannot) and from winnowing (sampled fingerprints vs
    exhaustive windows).

    Scale shape: the explode is ~1 row per corpus token carrying only
    (doc_id, start, 8-byte md5-prefix digest) — document text never
    shuffles. Three narrow exchanges: digest-frequency aggregate,
    digest join-back (duplicate-digest set only; AQE broadcasts it when
    small), and the doc_id re-shuffle for the interval-merge window —
    whose HashPartitioning(doc_id) then satisfies every downstream
    grouping (doc_id, g) → (doc_id) with no further exchange. Interval
    union via the classic lag-break/cumsum-group trick: window ends are
    monotone in start (fixed width), so lag(start)+W-1 IS the running
    max end and the union size is exact.
    """
    d = _t(spark, sf_dir, "documents")
    t = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0)
    tok = d.select("doc_id", t.alias("t")).select(
        "doc_id", "t", F.size("t").alias("n_tokens")
    )
    digest = lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    spans = (
        tok.filter(F.col("n_tokens") >= _SPAN_W)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n_tokens") - _SPAN_W),
                    lambda i: F.struct(
                        i.cast("long").alias("start"),
                        digest(F.concat_ws(" ", F.slice("t", i + 1, _SPAN_W))).alias(
                            "digest"
                        ),
                    ),
                )
            ).alias("s"),
        )
        .select("doc_id", "s.start", "s.digest")
        .persist()  # feeds the frequency agg AND the join-back probe
    )
    freq = (
        spans.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("digest")
    )
    dup = spans.join(freq, "digest").select("doc_id", "start")
    w = Window.partitionBy("doc_id").orderBy("start")
    brk = F.when(
        F.col("start")
        > F.coalesce(F.lag("start").over(w) + (_SPAN_W - 1), F.lit(-1)),
        1,
    ).otherwise(0)
    grp = dup.withColumn("brk", brk).withColumn(
        "g",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    merged = grp.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).alias("n_w"),
        (F.max("start") + _SPAN_W - F.min("start")).alias("cov"),
    )
    perdoc = merged.groupBy("doc_id").agg(
        F.sum("n_w").alias("n_dup_windows"), F.sum("cov").alias("covered")
    )
    return (
        tok.select("doc_id", "n_tokens")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("covered", F.lit(0)).cast("long").alias("covered_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.coalesce("covered", F.lit(0)) * 1.0 / F.col("n_tokens"), 6
                ),
            )
            .otherwise(0.0)
            .alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


@register(
    "incremental_ingest_dedup",
    sql="""
    WITH tagged AS (
        SELECT doc_id, source,
               md5(array_to_string(regexp_extract_all(text, '\\S+')[1:8], ' '))
                   AS digest,
               doc_id % 5 = 0 AS is_batch
        FROM documents
    ),
    hist AS (SELECT DISTINCT digest FROM tagged WHERE NOT is_batch),
    batch AS (SELECT * FROM tagged WHERE is_batch),
    cls AS (
        SELECT b.doc_id, b.source, b.digest,
               h.digest IS NOT NULL AS in_hist,
               MIN(b.doc_id) OVER (PARTITION BY b.digest) AS survivor
        FROM batch b LEFT JOIN hist h USING (digest)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(COUNT(CASE WHEN in_hist THEN 1 END) AS BIGINT)
               AS n_dup_of_history,
           CAST(COUNT(CASE WHEN NOT in_hist AND doc_id <> survivor THEN 1 END)
                AS BIGINT) AS n_dup_within_batch,
           CAST(COUNT(CASE WHEN NOT in_hist AND doc_id = survivor THEN 1 END)
                AS BIGINT) AS n_ingested
    FROM cls
    GROUP BY source
    ORDER BY source
    """,
    tags=("curation", "dedup", "incremental", "ingest"),
)
def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup against a persisted index: an
    incoming batch (simulated as ``doc_id % 5 == 0``) checked against
    the historical corpus (the rest) on an 8-token PREFIX digest (the
    C4-style leading-boilerplate rule — this synthetic corpus has no
    full-text duplicates, but shared openings are plentiful and the
    prefix rule is what catches templated/boilerplate reposts in real
    web data). Every batch doc is either a duplicate of history, a
    within-batch duplicate (non-survivor copy), or newly ingested. The join direction is the scale-critical choice: the
    HISTORY side (the 100 TB index) is probed with a semi-join against
    the batch digest set and never re-shuffles — only the digests that
    actually matched (≤ batch-sized) come back to classify the batch.
    A production run persists the ingested survivors' digests back to
    the index, exactly the geo-cache upsert pattern
    (sources/geo_cache.py) applied to content digests."""
    d = _t(spark, sf_dir, "documents")
    tagged = d.select(
        "doc_id", "source", prefix_digest(F.col("text")).alias("digest"),
        (F.col("doc_id") % 5 == 0).alias("is_batch"),
    )
    batch = tagged.filter(F.col("is_batch")).drop("is_batch").persist()
    hist = tagged.filter(~F.col("is_batch")).select("digest")
    # semi-join the (huge) history against the broadcast batch digest
    # set; result is at most batch-sized
    matched = (
        hist.join(
            F.broadcast(batch.select("digest").distinct()), "digest", "left_semi"
        )
        .distinct()
        .withColumn("in_hist", F.lit(True))
    )
    w = Window.partitionBy("digest")
    cls = (
        batch.join(F.broadcast(matched), "digest", "left")
        .withColumn("in_hist", F.coalesce("in_hist", F.lit(False)))
        .withColumn("survivor", F.min("doc_id").over(w))
    )
    return (
        cls.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batch"),
            F.count_if(F.col("in_hist")).cast("long").alias("n_dup_of_history"),
            F.count_if(
                ~F.col("in_hist") & (F.col("doc_id") != F.col("survivor"))
            ).cast("long").alias("n_dup_within_batch"),
            F.count_if(
                ~F.col("in_hist") & (F.col("doc_id") == F.col("survivor"))
            ).cast("long").alias("n_ingested"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Data-mixing weights: temperature-scaled source sampling (the
# UnifiedQA / multilingual-LM recipe — weight_i ∝ tokens_i^alpha with
# alpha < 1 upweighting small sources). Per-source token counts are
# one partial-aggregated pass over the corpus; the normalization is a
# 20-row broadcast. `epochs_at_budget` says how many passes over each
# source a fixed token budget implies — the number data-mixing
# decisions are actually made with (epochs >> 1 on a small source
# signals memorization risk).
# --------------------------------------------------------------------------
_MIX_ALPHA = 0.7
_MIX_BUDGET = 1_000_000


@register(
    "source_mixing_weights",
    sql=f"""
    WITH s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT *, POW(n_tokens, {_MIX_ALPHA}) AS raw_w,
               SUM(POW(n_tokens, {_MIX_ALPHA})) OVER () AS z
        FROM s
    )
    SELECT source, n_docs, n_tokens,
           ROUND(raw_w / z, 6) AS mix_weight,
           ROUND({_MIX_BUDGET} * (raw_w / z) / n_tokens, 4) AS epochs_at_budget
    FROM w ORDER BY source
    """,
    tags=("curation", "mixing", "sampling", "agg"),
)
def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature-sampled mixing weights (alpha=0.7) and
    implied epochs at a 1M-token budget. The only corpus-wide work is
    the token-count aggregate (map-side combined); the pow/normalize
    runs on the source-count-sized result. The OVER () normalizer is a
    source-count-row frame (documented bounded-frame exception)."""
    d = _t(spark, sf_dir, "documents")
    from ..functions.text import TOKEN_RE

    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), F.lit(0))))
        .cast("long")
        .alias("n_tokens"),
    )
    raw_w = F.pow(F.col("n_tokens"), F.lit(_MIX_ALPHA))
    w = s.withColumn("raw_w", raw_w).withColumn(
        "z", F.sum("raw_w").over(Window.partitionBy())
    )
    return w.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("raw_w") / F.col("z"), 6).alias("mix_weight"),
        F.round(
            F.lit(_MIX_BUDGET) * (F.col("raw_w") / F.col("z")) / F.col("n_tokens"),
            4,
        ).alias("epochs_at_budget"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Curation funnel: the per-source survivor ledger of a 3-stage
# pipeline — exact dedup → quality rules → language gate. The corpus
# has no natural exact duplicates at test SF, so (snapshot_diff
# pattern) a hash-selected 12 % of documents is re-inserted under
# negated doc_ids: both engines construct the identical duplicated
# corpus, dedup provably removes exactly the synthetic copies, and the
# survivor rule (min |doc_id| per content digest) keeps the original.
# Scale shape: dedup is one digest-keyed aggregate; quality flags are
# per-row HOFs; the funnel is ONE grouped aggregate with conditional
# counts — no per-stage recomputation of upstream stages.
# --------------------------------------------------------------------------
_FUNNEL_DUP_BP = 1200


@register(
    "curation_funnel_by_source",
    sql=f"""
    WITH corpus AS (
        SELECT doc_id, text, lang, source FROM documents
        UNION ALL
        SELECT -doc_id, text, lang, source FROM documents
        WHERE (('0x' || substr(md5('funnel|' || CAST(doc_id AS VARCHAR)), 1, 15))
               ::UBIGINT % 10000) < {_FUNNEL_DUP_BP}
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY md5(text) ORDER BY ABS(doc_id), doc_id DESC
               ) AS rn
        FROM corpus
    ),
    flags AS (
        SELECT source, lang,
               (rn = 1) AS survives_dedup,
               len(regexp_extract_all(text, '\\S+')) AS n_words,
               len(list_distinct(regexp_extract_all(text, '\\S+'))) * 1.0
                   / len(regexp_extract_all(text, '\\S+')) AS ttr
        FROM ranked
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(COUNT(*) FILTER (survives_dedup) AS BIGINT) AS n_after_dedup,
           CAST(COUNT(*) FILTER (survives_dedup AND n_words >= 20 AND ttr >= 0.2)
                AS BIGINT) AS n_after_quality,
           CAST(COUNT(*) FILTER (survives_dedup AND n_words >= 20 AND ttr >= 0.2
                AND lang = 'en') AS BIGINT) AS n_after_lang,
           CAST(SUM(CASE WHEN survives_dedup AND n_words >= 20 AND ttr >= 0.2
                AND lang = 'en' THEN n_words ELSE 0 END) AS BIGINT)
               AS surviving_tokens
    FROM flags GROUP BY source ORDER BY source
    """,
    tags=("curation", "funnel", "dedup", "quality", "agg"),
)
def curation_funnel_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage survivor counts per source for dedup → quality →
    language gating, over a deterministically duplicated corpus."""
    from ..functions.text import TOKEN_RE
    from .queries_sampling import hash_bucket

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    dups = d.filter(hash_bucket(F.col("doc_id"), "funnel|") < _FUNNEL_DUP_BP).select(
        (-F.col("doc_id")).alias("doc_id"), "text", "lang", "source"
    )
    corpus = d.unionByName(dups)
    w = Window.partitionBy(F.md5("text")).orderBy(
        F.abs(F.col("doc_id")), F.col("doc_id").desc()
    )
    t = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0)
    flags = corpus.withColumn("rn", F.row_number().over(w)).select(
        "source",
        "lang",
        (F.col("rn") == 1).alias("sd"),
        F.size(t).alias("n_words"),
        (F.size(F.array_distinct(t)) * F.lit(1.0) / F.size(t)).alias("ttr"),
    )
    q = F.col("sd") & (F.col("n_words") >= 20) & (F.col("ttr") >= 0.2)
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.count_if("sd").alias("n_after_dedup"),
            F.count_if(q).alias("n_after_quality"),
            F.count_if(q & (F.col("lang") == "en")).alias("n_after_lang"),
            F.sum(
                F.when(q & (F.col("lang") == "en"), F.col("n_words")).otherwise(0)
            )
            .cast("long")
            .alias("surviving_tokens"),
        )
        .orderBy("source")
    )
