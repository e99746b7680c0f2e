"""Parser unit tests mirroring the reference's own test suite
(reference/tests/test_elb_logs.py) against the Spark parser."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row

from elb_log_etl_enrichment_spark.sources.elb_logs import (
    PARSED_SCHEMA,
    categorize_status,
    category_columns,
    keep_predicate,
    parse_elb_lines,
)

# Real captured ALB line (reference tests/test_elb_logs.py:8-18).
GOLDEN_LINE = (
    "https 2025-05-26T23:55:12.664047Z app/erank-app/88dfa9dc536560af "
    "34.217.80.200:44256 172.31.37.43:80 0.003 0.035 0.000 200 200 157 4408 "
    '"GET https://members.erank.com:443/ HTTP/1.1" "Datadog Agent/7.54.0" '
    "TLS_AES_128_GCM_SHA256 TLSv1.3 "
    "arn:aws:elasticloadbalancing:us-west-2:848357551741:targetgroup/"
    "erank-app-v3-production/902b52047b6f4e28 "
    '"Root=1-6834ff60-6082aea9622eb93162ebf591" "members.erank.com" '
    '"arn:aws:acm:us-west-2:848357551741:certificate/'
    'c5395ea3-7277-455d-bd7f-9369ac9eed6c" '
    '1 2025-05-26T23:55:12.625000Z "waf,forward" "-" "-" "172.31.37.43:80" '
    '"200" "-" "-" TID_62b60b871f1a3146acf08aec25fc1aed'
)


def _parse(spark, lines):
    df = spark.createDataFrame([Row(value=ln) for ln in lines])
    return parse_elb_lines(df)


def test_parse_real_elb_log_line(spark):
    parsed = _parse(spark, [GOLDEN_LINE])
    assert [(f.name, f.dataType) for f in parsed.schema] == [
        (f.name, f.dataType) for f in PARSED_SCHEMA
    ]
    rows = parsed.collect()
    assert len(rows) == 1
    r = rows[0]
    # golden expectations (reference tests/test_elb_logs.py:22-27)
    assert r.elb_status_code == 200
    assert r.http_method == "GET"
    assert r.hostname == "members.erank.com"
    assert r.ua_browser_family == "Other"
    assert r.is_bot is True
    # additional typed-field checks
    assert r.client_ip == "34.217.80.200"
    assert r.request_processing_time == pytest.approx(0.003)
    assert r.target_processing_time == pytest.approx(0.035)
    assert r.received_bytes == 157
    assert r.sent_bytes == 4408
    assert r.port == 443
    assert r.path == "/"
    assert r.protocol == "https"
    assert r.http_version == "HTTP/1.1"
    assert r.time is not None and r.time.year == 2025
    assert r.request_creation_time is not None


def test_second_parse_reuses_the_session_columns(spark, monkeypatch):
    """parse_elb_lines builds its Columns once per application: a
    repeat call over a frame of the same schema makes only the Dataset
    constructions' py4j calls (763 when the projection was rebuilt on
    every call)."""
    from py4j.java_gateway import JavaMember

    lines = spark.createDataFrame([Row(value=GOLDEN_LINE)])
    first = parse_elb_lines(lines)
    calls = [0]
    call = JavaMember.__call__

    def counting(self, *args):
        calls[0] += 1
        return call(self, *args)

    monkeypatch.setattr(JavaMember, "__call__", counting)
    second = parse_elb_lines(lines)
    monkeypatch.undo()
    assert calls[0] < 60, calls[0]
    assert second.schema == first.schema
    assert second.collect() == first.collect()


def test_categorize_status(spark):
    df = spark.createDataFrame(
        [Row(code=100), Row(code=200), Row(code=300), Row(code=404),
         Row(code=500), Row(code=999), Row(code=None)]
    )
    out = {
        r.code: r.bucket
        for r in df.select(
            "code", categorize_status(df.code).alias("bucket")
        ).collect()
    }
    # reference tests/test_elb_logs.py:29-35 + Unknown branch
    assert out[100] == "1xx_Informational"
    assert out[200] == "2xx_Success"
    assert out[300] == "3xx_Redirection"
    assert out[404] == "4xx_ClientError"
    assert out[500] == "5xx_ServerError"
    assert out[999] == "Other"
    assert out[None] == "Unknown"


def test_parse_invalid_log_line(spark):
    assert _parse(spark, ["invalid log line without expected fields"]).count() == 0


def test_parse_empty_log_line(spark):
    assert _parse(spark, [""]).count() == 0


def test_parse_log_line_with_missing_fields(spark):
    truncated = "https 2025-05-26T23:55:12.664047Z app/erank-app/88dfa9dc536560af "
    assert _parse(spark, [truncated]).count() == 0


def test_corrupt_records_accounting(spark):
    from elb_log_etl_enrichment_spark.sources.alb_fixtures import fixture_lines
    from elb_log_etl_enrichment_spark.sources.elb_logs import corrupt_records

    lines = fixture_lines()
    df = spark.createDataFrame([Row(value=ln) for ln in lines])
    good = parse_elb_lines(df).count()
    bad = corrupt_records(df).count()
    # EVERY line lands somewhere — blank lines are corrupt too
    # (code-review r05: a flood of empties must trip the quarantine
    # alert, not vanish into a silent third bucket)
    assert good + bad == len(lines)
    assert bad == 3  # blank + 'not a log line' + truncated header line


def test_keep_predicate_drops_health_checks_and_flags_waf(spark):
    def keep_and_categorize(parsed):
        return parsed.filter(keep_predicate()).withColumns(category_columns())

    parsed = _parse(spark, [GOLDEN_LINE])
    # Datadog UA is a health-check agent (elb_logs.py:245-248) → dropped
    assert keep_and_categorize(parsed).count() == 0
    # non-healthcheck browser line passes and gets categorized
    browser_line = GOLDEN_LINE.replace(
        '"Datadog Agent/7.54.0"',
        '"Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 '
        '(KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36"',
    )
    out = keep_and_categorize(_parse(spark, [browser_line])).collect()
    assert len(out) == 1
    assert out[0].status_code_type == "2xx_Success"
    assert out[0].waf_blocked is False
    assert out[0].ua_browser_family == "Chrome"
    assert out[0].ua_os_family == "Windows"
    assert out[0].is_bot is False


def test_committed_fixture_parquet_matches_fixture_lines():
    """The committed parquet (shared input of elb_pipeline_hourly and
    its DuckDB oracle) must stay in sync with fixture_lines()."""
    import pyarrow.parquet as pq

    from elb_log_etl_enrichment_spark.sources.alb_fixtures import (
        FIXTURE_PARQUET,
        fixture_lines,
    )

    assert pq.read_table(FIXTURE_PARQUET)["value"].to_pylist() == fixture_lines()


def test_committed_extended_fixture_parquet_matches_generator():
    """Same pin for the extended 3-day corpus (shared input of
    elb_pipeline_hourly + elb_error_report and their oracles)."""
    import pyarrow.parquet as pq

    from elb_log_etl_enrichment_spark.sources.alb_fixtures import (
        FIXTURE_PARQUET_EXT,
        fixture_lines_extended,
    )

    lines = fixture_lines_extended()
    assert pq.read_table(FIXTURE_PARQUET_EXT)["value"].to_pylist() == lines
    # corpus shape contract (VERDICT r02 item 6): 3 days, all 5
    # fake-geo countries, plus the original 43-line corpus prefix
    assert len(lines) == 225
    assert sum("2025-05-27" in l for l in lines) > 20
    assert sum("2025-05-28" in l for l in lines) > 20


UA_BATTERY = [
    # (ua_string, expected_browser_family, expected_os_family) —
    # expected values are uap-core's published family names (what the
    # reference's `user_agents.parse` returns), so this battery checks
    # the offline heuristic here AND real-lib parity wherever the lib
    # is importable (see test_ua_battery_matches_real_lib).
    (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36",
        "Chrome", "Windows",
    ),
    (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36 Edg/124.0.2478.51",
        "Edge", "Windows",
    ),
    (
        "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 "
        "(KHTML, like Gecko) Version/17.4 Safari/605.1.15",
        "Safari", "Mac OS X",
    ),
    (
        "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) "
        "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4 "
        "Mobile/15E148 Safari/604.1",
        "Mobile Safari", "iOS",
    ),
    (
        "Mozilla/5.0 (Linux; Android 13; Pixel 7) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/124.0.0.0 Mobile Safari/537.36",
        "Chrome Mobile", "Android",
    ),
    (
        "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) "
        "AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/124.0.6367.71 "
        "Mobile/15E148 Safari/604.1",
        "Chrome Mobile iOS", "iOS",
    ),
    (
        "Mozilla/5.0 (X11; Linux x86_64; rv:125.0) Gecko/20100101 Firefox/125.0",
        "Firefox", "Linux",
    ),
    (
        "Mozilla/5.0 (Linux; Android 13; SM-S918B) AppleWebKit/537.36 "
        "(KHTML, like Gecko) SamsungBrowser/23.0 Chrome/115.0.0.0 "
        "Mobile Safari/537.36",
        "Samsung Internet", "Android",
    ),
    (
        "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
        "Googlebot", "Other",
    ),
    (
        "Mozilla/5.0 (Windows NT 6.1; Trident/7.0; rv:11.0) like Gecko",
        "IE", "Windows",
    ),
    ("curl/8.5.0", "curl", "Other"),
    ("python-requests/2.31.0", "Python Requests", "Other"),
    # --- long-tail rows (round 3, VERDICT r02 item 4): exercised
    # against the vendored uap-core-format table in ua_regexes.py ---
    (
        "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) "
        "AppleWebKit/605.1.15 (KHTML, like Gecko) FxiOS/125.0 "
        "Mobile/15E148 Safari/605.1.15",
        "Firefox iOS", "iOS",
    ),
    (
        "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) "
        "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 "
        "EdgiOS/124.2478.50 Mobile/15E148 Safari/605.1.15",
        "Edge Mobile", "iOS",
    ),
    (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36 OPR/109.0.0.0",
        "Opera", "Windows",
    ),
    (
        "Opera/9.80 (Android; Opera Mini/7.6.40234/28.3392; U; en) "
        "Presto/2.8.119 Version/11.10",
        "Opera Mini", "Android",
    ),
    (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/108.0.0.0 YaBrowser/23.1.0.0 Safari/537.36",
        "Yandex Browser", "Windows",
    ),
    (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36 Vivaldi/6.7.3329.31",
        "Vivaldi", "Windows",
    ),
    (
        "Mozilla/5.0 (Linux; U; Android 12; en-US; SM-A515F) "
        "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
        "Chrome/100.0.4896.58 UCBrowser/13.4.0.1306 Mobile Safari/537.36",
        "UC Browser", "Android",
    ),
    (
        "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) HeadlessChrome/124.0.0.0 Safari/537.36",
        "HeadlessChrome", "Linux",
    ),
    (
        "Mozilla/5.0 (X11; Ubuntu; Linux x86_64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Ubuntu Chromium/124.0.0.0 Chrome/124.0.0.0 "
        "Safari/537.36",
        "Chromium", "Ubuntu",
    ),
    (
        "Mozilla/5.0 (Linux; Android 13; Pixel 7; wv) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Version/4.0 Chrome/124.0.0.0 Mobile "
        "Safari/537.36",
        "Chrome Mobile WebView", "Android",
    ),
    (
        "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
        "bingbot", "Other",
    ),
    ("Apache-HttpClient/4.5.13 (Java/11.0.19)", "Apache-HttpClient", "Other"),
    ("Go-http-client/2.0", "Go-http-client", "Other"),
    ("Java/1.8.0_362", "Java", "Other"),
    ("Wget/1.21.3", "Wget", "Other"),
    ("okhttp/4.12.0", "okhttp", "Other"),
    # --- round 4 (VERDICT r03 item 6): crawler long tail via the
    # generic token-is-the-family rule, the reference-relevant
    # monitoring agents, and the distro/BSD OS families ---
    (
        "Mozilla/5.0 (compatible; YandexBot/3.0; +http://yandex.com/bots)",
        "YandexBot", "Other",
    ),
    (
        "Mozilla/5.0 (compatible; Baiduspider/2.0; "
        "+http://www.baidu.com/search/spider.html)",
        "Baiduspider", "Other",
    ),
    (
        "Mozilla/5.0 (compatible; AhrefsBot/7.0; +http://ahrefs.com/robot/)",
        "AhrefsBot", "Other",
    ),
    (
        "Mozilla/5.0 (compatible; SemrushBot/7~bl; "
        "+http://www.semrush.com/bot.html)",
        "SemrushBot", "Other",
    ),
    ("Twitterbot/1.0", "Twitterbot", "Other"),
    (
        "Mozilla/5.0 (compatible; DotBot/1.2; "
        "+https://opensiteexplorer.org/dotbot)",
        "DotBot", "Other",
    ),
    (
        "Mozilla/5.0 (compatible; MJ12bot/v1.4.8; http://mj12bot.com/)",
        "MJ12bot", "Other",
    ),
    (
        "Mozilla/5.0 (compatible; PetalBot;"
        "+https://webmaster.petalsearch.com/site/petalbot)",
        "PetalBot", "Other",
    ),
    (
        "Mozilla/5.0 (compatible; Applebot/0.1; "
        "+http://www.apple.com/go/applebot)",
        "Applebot", "Other",
    ),
    (
        "Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko); compatible; "
        "GPTBot/1.0; +https://openai.com/gptbot",
        "GPTBot", "Other",
    ),
    (
        "Mozilla/5.0 (compatible; CCBot/2.0; +https://commoncrawl.org/faq/)",
        "CCBot", "Other",
    ),
    (
        "Pingdom.com_bot_version_1.4_(http://www.pingdom.com/)",
        "PingdomBot", "Other",
    ),
    ("NewRelicPinger/1.0 (733677)", "NewRelicPinger", "Other"),
    (
        "Mozilla/5.0 (compatible; UptimeRobot/2.0; http://www.uptimerobot.com/)",
        "UptimeRobot", "Other",
    ),
    # the extended ELB fixture corpus's health-check agent: NOT a
    # uap-core family — the reference's golden test pins monitoring
    # agents without rules to Other/Other (tests/test_elb_logs.py:26)
    ("ELB-HealthChecker/2.0 aws-elb", "Other", "Other"),
    ("Datadog Agent/7.54.0", "Other", "Other"),
    (
        "Mozilla/5.0 (X11; Fedora; Linux x86_64; rv:125.0) "
        "Gecko/20100101 Firefox/125.0",
        "Firefox", "Fedora",
    ),
    (
        "Mozilla/5.0 (X11; Debian; Linux x86_64; rv:125.0) "
        "Gecko/20100101 Firefox/125.0",
        "Firefox", "Debian",
    ),
    (
        "Mozilla/5.0 (X11; FreeBSD amd64; rv:125.0) "
        "Gecko/20100101 Firefox/125.0",
        "Firefox", "FreeBSD",
    ),
    (
        "Mozilla/5.0 (X11; OpenBSD amd64; rv:125.0) "
        "Gecko/20100101 Firefox/125.0",
        "Firefox", "OpenBSD",
    ),
    (
        "Mozilla/5.0 (X11; CrOS x86_64 14541.0.0) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36",
        "Chrome", "Chrome OS",
    ),
]

DEVICE_BATTERY = [
    # (ua_string, expected_device_family) — uap-core device_parsers
    # conventions: crawlers → "Spider", unrecognized desktop → "Other",
    # generic Androids → the Generic buckets, models pass through.
    (
        "Mozilla/5.0 (compatible; Googlebot/2.1; "
        "+http://www.google.com/bot.html)",
        "Spider",
    ),
    (
        "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) "
        "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4 "
        "Mobile/15E148 Safari/604.1",
        "iPhone",
    ),
    (
        "Mozilla/5.0 (iPad; CPU OS 17_4 like Mac OS X) "
        "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4 "
        "Mobile/15E148 Safari/604.1",
        "iPad",
    ),
    (
        "Mozilla/5.0 (Linux; Android 13; SM-S918B) AppleWebKit/537.36 "
        "(KHTML, like Gecko) SamsungBrowser/23.0 Chrome/115.0.0.0 "
        "Mobile Safari/537.36",
        "Samsung SM-S918B",
    ),
    (
        "Mozilla/5.0 (Linux; Android 13; Pixel 7) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/124.0.0.0 Mobile Safari/537.36",
        "Pixel 7",
    ),
    (
        "Mozilla/5.0 (Linux; Android 14; K) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/124.0.0.0 Mobile Safari/537.36",
        "Generic Smartphone",
    ),
    (
        "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) "
        "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4 "
        "Safari/605.1.15",
        "Mac",
    ),
    (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36",
        "Other",
    ),
    ("curl/8.5.0", "Other"),
]


def test_ua_battery_offline_heuristic():
    from elb_log_etl_enrichment_spark.functions.ua import classify_ua

    for ua, browser, os_family in UA_BATTERY:
        assert classify_ua(ua) == (browser, os_family), ua


def test_ua_battery_matches_real_lib():
    """Real `user_agents` parity (reference elb_logs.py:119-121):
    skipped (never silently absent) in containers without the lib."""
    import pytest

    user_agents = pytest.importorskip("user_agents")
    for ua, browser, os_family in UA_BATTERY:
        parsed = user_agents.parse(ua)
        assert (parsed.browser.family or "Other") == browser, ua
        assert (parsed.os.family or "Other") == os_family, ua


def test_device_battery_offline_heuristic():
    from elb_log_etl_enrichment_spark.functions.ua import classify_device

    for ua, device in DEVICE_BATTERY:
        assert classify_device(ua) == device, ua
    assert classify_device(None) == "Other"


def test_crawler_token_at_end_consistent_across_classifiers():
    """ADVICE r04: a UA ending EXACTLY in bot/spider/crawler (no
    trailing delimiter) must classify consistently — the browser
    crawler fallback and the Spider device rule share the
    ``(?:[/ ;)]|$)`` delimiter group, so neither fires without the
    other. Kept out of DEVICE_BATTERY: these synthetic stubs aren't
    uap-core-published rows, so the real-lib parity test skips them."""
    from elb_log_etl_enrichment_spark.functions.ua import (
        classify_device,
        classify_ua,
    )

    for ua, fam in [
        ("examplebot", "examplebot"),
        ("mysearch-spider", "mysearch-spider"),
        ("AcmeCrawler", "AcmeCrawler"),
    ]:
        assert classify_ua(ua)[0] == fam, ua
        assert classify_device(ua) == "Spider", ua


def test_uap_core_loader_parses_published_yaml_shape(tmp_path):
    """VERDICT r04 item 5: the full public uap-core regexes.yaml is a
    drop-in widening. This pins the loader on a file in upstream's
    exact YAML shape (single-quoted scalars with '' escapes, comments,
    multi-key rules, regex_flag, $1/$2 substitution) WITHOUT PyYAML —
    the subset parser must handle everything the published file uses."""
    from elb_log_etl_enrichment_spark.functions.ua import (
        _compile,
        _first_match,
    )
    from elb_log_etl_enrichment_spark.functions.ua_regexes import load_uap_core

    yml = tmp_path / "regexes.yaml"
    yml.write_text(
        "\n".join(
            [
                "user_agent_parsers:",
                "  # a comment line",
                "  - regex: '(CrMo)/(\\d+)\\.(\\d+)'",
                "    family_replacement: 'Chrome Mobile'",
                "  - regex: '(Maxthon|MyIE2)'",
                "    family_replacement: 'Maxthon'",
                "  - regex: '(Namoroka|Shiretoko|Minefield)/(\\d+)\\.(\\d+)'",
                "    family_replacement: 'Firefox ($1)'",
                "  - regex: '''quoted''-(agent)'",
                "os_parsers:",
                "  - regex: '(Windows NT 6\\.1)'",
                "    os_replacement: 'Windows'",
                "    os_v1_replacement: '7'",
                "device_parsers:",
                "  - regex: '\\bSmartWatch *\\( *([^;]+) *; *([^;]+) *;'",
                "    device_replacement: '$1 $2'",
                "    brand_replacement: '$1'",
                "  - regex: '(hbbtv)'",
                "    regex_flag: 'i'",
                "    device_replacement: 'HbbTV'",
            ]
        )
        + "\n"
    )
    tables = load_uap_core(str(yml))
    assert tables is not None
    assert len(tables["user_agent_parsers"]) == 4
    browsers = _compile(tables["user_agent_parsers"], "family_replacement")
    os_rules = _compile(tables["os_parsers"], "os_replacement")
    devices = _compile(tables["device_parsers"], "device_replacement")
    assert _first_match(browsers, "Mozilla CrMo/16.0 Mobile") == "Chrome Mobile"
    assert _first_match(browsers, "Maxthon 3.0") == "Maxthon"
    # $1 substitution inside a replacement (upstream's Firefox forks rule)
    assert _first_match(browsers, "Namoroka/3.6 Gecko") == "Firefox (Namoroka)"
    # single-quote escaping ('' -> ')
    assert _first_match(browsers, "x 'quoted'-agent y") == "agent"
    assert _first_match(os_rules, "Mozilla (Windows NT 6.1; x64)") == "Windows"
    # multi-group $1 $2 substitution
    assert (
        _first_match(devices, "SmartWatch ( Sony; SWR50 ; x)", trim=True)
        == "Sony SWR50"
    )
    # regex_flag: 'i' -> case-insensitive match
    assert _first_match(devices, "TV HBBTV/1.1.1") == "HbbTV"
    # no rule fires -> upstream's Other fallback
    assert _first_match(devices, "curl/8.5.0") == "Other"


def test_uap_core_loader_rejects_unusable_files(tmp_path):
    """Code-review r05: an empty or garbage regexes.yaml (truncated
    download, HTML error page) must fall back to the curated tables
    (return None), never half-succeed with empty rule lists that
    would classify every UA as 'Other'."""
    from elb_log_etl_enrichment_spark.functions.ua_regexes import load_uap_core

    empty = tmp_path / "regexes.yaml"
    empty.write_text("")
    assert load_uap_core(str(empty)) is None
    garbage = tmp_path / "garbage.yaml"
    garbage.write_text("<html><body>404 Not Found</body></html>\n")
    assert load_uap_core(str(garbage)) is None
    # sections present but no usable rules -> still fallback
    headers_only = tmp_path / "headers.yaml"
    headers_only.write_text("user_agent_parsers:\nos_parsers:\ndevice_parsers:\n")
    assert load_uap_core(str(headers_only)) is None


def test_first_match_empty_family_falls_back_to_other():
    """Code-review r05: a rule whose substitution resolves to empty
    (all referenced groups empty/non-participating) must yield
    'Other', matching the real-lib branch's `family or \"Other\"`."""
    from elb_log_etl_enrichment_spark.functions.ua import (
        _compile,
        _first_match,
    )

    rules = _compile(
        [{"regex": r"agent(?:-(\w+))?", "family_replacement": "$1"}],
        "family_replacement",
    )
    assert _first_match(rules, "agent-foo x") == "foo"
    assert _first_match(rules, "agent x") == "Other"
    bare = _compile([{"regex": r"(x*)agent"}], "family_replacement")
    assert _first_match(bare, "agent") == "Other"


def test_full_uap_core_battery_when_available():
    """If a real full regexes.yaml is present (env/path-gated), the
    vendored battery must STILL pass through it — the curated tables'
    expected outputs are uap-core's published values, so the full
    table may only widen the long tail, never change a pinned answer.
    Skipped (never silently absent) without the file."""
    import pytest

    from elb_log_etl_enrichment_spark.functions.ua import (
        _compile,
        _first_match,
    )
    from elb_log_etl_enrichment_spark.functions.ua_regexes import load_uap_core

    tables = load_uap_core()
    if tables is None:
        pytest.skip("full uap-core regexes.yaml not present in container")
    browsers = _compile(tables["user_agent_parsers"], "family_replacement")
    os_rules = _compile(tables["os_parsers"], "os_replacement")
    for ua, browser, os_family in UA_BATTERY:
        assert _first_match(browsers, ua) == browser, ua
        assert _first_match(os_rules, ua) == os_family, ua
    # rows only the FULL table resolves (curated fallback says Other)
    assert _first_match(browsers, "Mozilla/5.0 Maxthon/4.4.3.4000") == "Maxthon"


def test_device_battery_matches_real_lib():
    import pytest

    user_agents = pytest.importorskip("user_agents")
    for ua, device in DEVICE_BATTERY:
        assert (user_agents.parse(ua).device.family or "Other") == device, ua


def test_device_classify_spark_udf(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.functions.ua import device_classify

    df = spark.createDataFrame(
        [Row(ua=u) for u, _ in DEVICE_BATTERY], schema="ua string"
    )
    got = [
        r.d for r in df.select(device_classify(F.col("ua")).alias("d")).collect()
    ]
    assert got == [d for _, d in DEVICE_BATTERY]


def test_ua_battery_through_spark_udf(spark):
    """The same battery through the Arrow pandas-UDF path AND the
    broadcast-distinct variant — both must agree with classify_ua."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.functions.ua import ua_classify

    df = spark.createDataFrame([(ua,) for ua, _, _ in UA_BATTERY], "ua string")
    out = df.select("ua", ua_classify(F.col("ua")).alias("fam")).collect()
    expected = {ua: (b, o) for ua, b, o in UA_BATTERY}
    for r in out:
        assert (r["fam"]["browser"], r["fam"]["os"]) == expected[r["ua"]], r["ua"]


def test_template_mining_collapses_ids_and_uuids(spark):
    """The fixture's five /errors/e0..e4 paths must collapse into ONE
    /errors/e<NUM> template (n_distinct_paths = 5), and the masking
    chain must rewrite UUID segments before digit runs."""
    from pyspark.sql import functions as F

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
    from elb_log_etl_enrichment_spark.plans.queries_ext import (
        _TPL_UUID_RE,
    )

    all_queries()
    out = {
        r.template: r
        for r in REGISTRY["elb_template_mining"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    err = out["/errors/e<NUM>"]
    assert err.n_distinct_paths == 5 and err.n_requests == 5

    # UUID rule fires before the digit rule: a uuid path segment maps
    # to ONE <ID>, not a soup of <NUM>s
    masked = (
        spark.range(1)
        .select(
            F.regexp_replace(
                F.regexp_replace(
                    F.lit("/doc/123e4567-e89b-12d3-a456-426614174000/v2"),
                    _TPL_UUID_RE,
                    "<ID>",
                ),
                "[0-9]+",
                "<NUM>",
            ).alias("t")
        )
        .collect()[0]
        .t
    )
    assert masked == "/doc/<ID>/v<NUM>"


def test_uap_core_published_fixtures_when_available():
    """VERDICT r06 item 2 readiness: when a uap-core checkout's
    published test fixtures are available (point
    $SPARK_UAP_CORE_TESTS at its `tests/` or `test_resources/`
    directory — the container has no network, so the checkout must be
    dropped in alongside the full regexes.yaml), every fixture case's
    FAMILY field must reproduce through this repo's classifier. The
    fixture files are uap-core's own contract for regexes.yaml
    (test_ua.yaml / test_os.yaml / test_device.yaml:
    `user_agent_string` -> `family`), so a green run here is the
    full-table parity proof the vendored-snippet battery approximates.
    Skipped (never silently absent) without the directory."""
    import os

    import pytest

    fixtures_dir = os.environ.get("SPARK_UAP_CORE_TESTS")
    if not fixtures_dir or not os.path.isdir(fixtures_dir):
        pytest.skip(
            "uap-core test fixtures not present (no network in this "
            "container; set $SPARK_UAP_CORE_TESTS to a checkout's "
            "tests/ directory)"
        )
    yaml = pytest.importorskip("yaml")

    from elb_log_etl_enrichment_spark.functions import ua
    from elb_log_etl_enrichment_spark.functions.ua_regexes import load_uap_core

    tables = load_uap_core()
    assert tables is not None, (
        "fixtures present but no full regexes.yaml loaded — drop it "
        "next to ua_regexes.py or set $SPARK_UAP_CORE_REGEXES"
    )
    browsers = ua._compile(tables["user_agent_parsers"], "family_replacement")
    os_rules = ua._compile(tables["os_parsers"], "os_replacement")
    devices = ua._compile(tables["device_parsers"], "device_replacement")
    suites = {
        "test_ua.yaml": (browsers, False),
        "test_os.yaml": (os_rules, False),
        "test_device.yaml": (devices, True),
    }
    checked = 0
    for fname, (rules, trim) in suites.items():
        path = os.path.join(fixtures_dir, fname)
        if not os.path.exists(path):
            continue
        with open(path, encoding="utf-8") as fh:
            cases = yaml.safe_load(fh)["test_cases"]
        for case in cases:
            got = ua._first_match(rules, case["user_agent_string"], trim=trim)
            want = case["family"] or "Other"
            assert got == want, (fname, case["user_agent_string"], got, want)
            checked += 1
    assert checked > 0, f"no fixture files under {fixtures_dir}"


def test_parse_ipv6_client_ip_guard(spark):
    """VERDICT r05 item 7 (SURVEY P8): the reference's split(':')[0]
    truncates an IPv6 client to its first hex group; stripping the
    last ':port' must yield the full address while keeping IPv4
    behavior byte-identical."""
    v6_line = GOLDEN_LINE.replace(
        "34.217.80.200:44256", "2001:db8:cafe::17:44256"
    )
    rows = _parse(spark, [GOLDEN_LINE, v6_line]).orderBy("client_ip").collect()
    assert [r.client_ip for r in rows] == [
        "2001:db8:cafe::17",
        "34.217.80.200",
    ]


def test_vendored_uap_core_snippet_battery():
    """VERDICT r05 item 5: the repo now ships a vendored snippet of
    the REAL public uap-core regexes.yaml (Apache-2.0), so the
    full-table loader path runs in CI. Every row here is an agent the
    curated fallback table does NOT resolve (it returns 'Other' /
    generic) while the loaded snippet yields uap-core's published
    family — proving the loader path adds real coverage."""
    import os

    from elb_log_etl_enrichment_spark.functions import ua as U
    from elb_log_etl_enrichment_spark.functions.ua import _first_match
    from elb_log_etl_enrichment_spark.functions.ua_regexes import load_uap_core

    path = os.path.join(
        os.path.dirname(U.__file__), "uap_core_snippet.yaml"
    )
    tables = load_uap_core(path)
    assert tables is not None
    browsers = U._compile(tables["user_agent_parsers"], "family_replacement")
    os_rules = U._compile(tables["os_parsers"], "os_replacement")
    devices = U._compile(tables["device_parsers"], "device_replacement")

    ua_rows = [
        ("Mozilla/5.0 (Windows NT 10.0) PaleMoon/33.0", "Pale Moon"),
        ("Mozilla/5.0 (X11; Linux) Gecko SeaMonkey/2.53.18", "SeaMonkey"),
        ("Mozilla/5.0 (Windows NT 10.0; Win64) Waterfox/6.0.5", "Waterfox"),
        (
            "Opera/9.80 (Android; Opera Mobi/1234) Version/12.02",
            "Opera Mobile",
        ),
    ]
    for agent, family in ua_rows:
        assert _first_match(U._BROWSER_RULES, agent) in ("Other", "Opera")
        assert _first_match(browsers, agent) == family

    os_rows = [
        ("Mozilla/5.0 (Linux; Tizen 2.3; SAMSUNG SM-Z130H)", "Tizen"),
    ]
    for agent, family in os_rows:
        assert _first_match(os_rules, agent) == family

    dev_rows = [
        ("Mozilla/5.0 (Linux; Android 9; Nexus 5X Build/P)", "Nexus 5X"),
        ("Mozilla/5.0 (PlayStation 4 3.11) AppleWebKit/537.73", "PlayStation 4"),
        ("Mozilla/5.0 (Nintendo Switch; WifiWebAuthApplet)", "Nintendo Switch"),
        ("Mozilla/5.0 (Linux; U; Android 4.4.2; LG-D855 Build)", "LG D855"),
        ("Mozilla/5.0 (Linux; Android 8.0; HUAWEI VTR-L09)", "Huawei VTR-L09"),
        ("SmartWatch ( Sony; SWR50 ; x)", "Sony SWR50"),
        (
            "Mozilla/5.0 (Linux; U; Android 4.2.2; ALCATEL ONE TOUCH 7047D)",
            "Alcatel ONE TOUCH 7047D",
        ),
    ]
    for agent, family in dev_rows:
        assert _first_match(U._DEVICE_RULES, agent, trim=True) != family
        assert _first_match(devices, agent, trim=True) == family
    # spider pseudo-device rides first exactly as upstream
    assert _first_match(devices, "Googlebot/2.1", trim=True) == "Spider"


def test_device_case_sql_rejects_unsupported_substitutions():
    """The device-report oracle generator replays only '<prefix>$1'
    replacements; anything else must fail loudly at generation time,
    never silently drop a substitution tail."""
    import pytest

    from elb_log_etl_enrichment_spark.plans import queries_ext as qe
    from elb_log_etl_enrichment_spark.functions import ua

    # the generator reads ua.DEVICE_PARSERS — the table the classifier
    # actually uses (code-review r06) — so the monkeypatch goes there
    rules = ua.DEVICE_PARSERS
    try:
        ua.DEVICE_PARSERS = rules + [
            {"regex": "(A) (B)", "device_replacement": "$1 $2"}
        ]
        with pytest.raises(ValueError, match="device_replacement"):
            qe._device_case_sql("ua")
    finally:
        ua.DEVICE_PARSERS = rules


def test_ua_device_trim_only_and_multidigit_groups():
    """ADVICE low: uap-core trims only DEVICE replacements; UA/OS
    substitute verbatim. $NN binds to the longest valid group."""
    import re

    from elb_log_etl_enrichment_spark.functions.ua import _first_match

    # partial substitution leaves a trailing space: UA/OS keep it,
    # device strips it
    rules = [(re.compile(r"(Foo)(?: (\d+))?"), "$1 $2")]
    assert _first_match(rules, "Foo") == "Foo "
    assert _first_match(rules, "Foo", trim=True) == "Foo"
    assert _first_match(rules, "Foo 9") == "Foo 9"
    # $10 against a 1-group pattern = $1 then literal '0'
    rules10 = [(re.compile(r"(Bar)"), "$10")]
    assert _first_match(rules10, "Bar") == "Bar0"


def test_device_report_oracle_follows_live_table(monkeypatch):
    """_elb_device_report_sql() must return None (rows-only) when the
    classifier would take a path the curated table cannot replay —
    the user_agents wheel or a dropped-in full uap-core table."""
    from elb_log_etl_enrichment_spark.functions import ua
    from elb_log_etl_enrichment_spark.plans import queries_ext as qe

    assert qe._elb_device_report_sql() is not None  # container default

    monkeypatch.setattr(ua, "_FULL_UAP", {"device_parsers": []})
    assert qe._elb_device_report_sql() is None
    monkeypatch.setattr(ua, "_FULL_UAP", None)
    monkeypatch.setattr(ua, "_ua_parse", lambda s: None)
    assert qe._elb_device_report_sql() is None


def test_device_case_sql_reads_ua_module_table(monkeypatch):
    """The CASE generator must read ua.DEVICE_PARSERS (post-rebind),
    not ua_regexes' frozen copy."""
    from elb_log_etl_enrichment_spark.functions import ua
    from elb_log_etl_enrichment_spark.plans import queries_ext as qe

    monkeypatch.setattr(
        ua,
        "DEVICE_PARSERS",
        [{"regex": "SentinelBot", "device_replacement": "Sentinel"}],
    )
    case = qe._device_case_sql("ua")
    assert "SentinelBot" in case and "'Sentinel'" in case


def test_null_user_agent_classified_other(spark):
    """A parsed line with NULL user_agent classifies as
    ('Other','Other'): the NULL class of the per-batch distinct table."""
    from elb_log_etl_enrichment_spark.sources.alb_fixtures import make_line
    from elb_log_etl_enrichment_spark.sources.elb_logs import parse_elb_lines

    # empty quoted UA field parses to NULL (CSV nullValue)
    line = make_line(datetime.datetime(2025, 5, 26, 12, 0, 0), "10.1.1.1", ua="")
    df = spark.createDataFrame([Row(value=line)])
    rows = parse_elb_lines(df).collect()
    assert len(rows) == 1
    assert rows[0].user_agent is None
    assert rows[0].ua_browser_family == "Other"
    assert rows[0].ua_os_family == "Other"


def test_ua_udfs_classify_each_distinct_value_once(monkeypatch):
    """The UA and device UDFs classify every distinct value of a batch
    once (NULL included) and spread the answers back by row."""
    import pandas as pd

    from elb_log_etl_enrichment_spark.functions import ua

    seen = []
    monkeypatch.setattr(
        ua, "classify_ua", lambda v: (seen.append(v), (f"b{v}", f"o{v}"))[1]
    )
    monkeypatch.setattr(ua, "classify_device", lambda v: f"d{v}")
    batch = pd.Series(["x", None, "y", "x", None, "x"], dtype=object)
    out = ua._ua_classify_udf.func(batch)
    assert sorted(seen, key=str) == [None, "x", "y"]
    assert out.to_dict("list") == {
        "browser": ["bx", "bNone", "by", "bx", "bNone", "bx"],
        "os": ["ox", "oNone", "oy", "ox", "oNone", "ox"],
    }
    assert ua._device_classify_udf.func(batch).tolist() == [
        "dx", "dNone", "dy", "dx", "dNone", "dx"
    ]
