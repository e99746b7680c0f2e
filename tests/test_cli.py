"""CLI surface test: ``python -m elb_log_etl_enrichment_spark`` as a
cron job would invoke it (fresh process, env-configured)."""

from __future__ import annotations

import gzip
import json
import os
import subprocess
import sys

import pytest

from elb_log_etl_enrichment_spark.sources.alb_fixtures import fixture_lines

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["path", "file_uri"])
def test_cli_stream_mode_end_to_end(tmp_path, scheme):
    """The row count reads the sink through the Hadoop FS API, so a
    ``file://`` output URI counts its rows like a plain path."""
    logs = tmp_path / "logs"
    logs.mkdir()
    with gzip.open(logs / "a.log.gz", "wt") as f:
        f.write("\n".join(fixture_lines()))
    env = dict(
        os.environ,
        ELB_LOGS_PATH=str(logs / "*.gz"),
        ELB_OUTPUT_DIR=scheme + str(tmp_path / "out"),
        SPARK_GRAFT_CPUS="4",
    )
    proc = subprocess.run(
        [sys.executable, "-m", "elb_log_etl_enrichment_spark"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["mode"] == "stream" and summary["rows_total"] == 22


def test_cli_usage_error():
    proc = subprocess.run(
        [sys.executable, "-m", "elb_log_etl_enrichment_spark"],
        cwd=REPO, env={k: v for k, v in os.environ.items() if not k.startswith("ELB_")},
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 2
    assert "usage:" in proc.stderr


def test_python_workers_find_the_package_from_any_cwd(tmp_path):
    """A caller with the package only on its own sys.path, run from a
    cwd outside the checkout, must still run a pandas-function query:
    get_spark puts the package's parent on the Python workers' path.
    With no shuffle width given and SPARK_GRAFT_CPUS unset, the width
    is the session's parallelism (2 on ``local[2]``). The query's
    scratch dirs (the shared geo cache) are gone once the child exits."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from elb_log_etl_enrichment_spark.session import get_spark\n"
        "from elb_log_etl_enrichment_spark.plans.queries_ext import elb_error_report\n"
        "spark = get_spark(master='local[2]')\n"
        "print(spark.conf.get('spark.sql.shuffle.partitions'))\n"
        "print(elb_error_report(spark, '').count())\n"
        "spark.stop()\n"
    )
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")
    }
    env["TMPDIR"] = str(tmp)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    width, count = proc.stdout.strip().splitlines()[-2:]
    assert width == "2"
    assert int(count) > 0
    assert [p.name for p in tmp.iterdir() if p.is_dir()] == []
