"""``scripts/query_runner.py`` without a JVM: the profile mode's
event-log stage parser, the steady entry ``bench.py`` reads, and the
host-derived core default. No test here starts a Spark session."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "query_runner.py",
)
_spec = importlib.util.spec_from_file_location("query_runner", _PATH)
qr = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(qr)


def _stage_done(sid, submitted, completed, tasks, name="count at x.py:1"):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": sid, "Stage Name": name + "\nlong call site",
            "Number of Tasks": tasks,
            "Submission Time": submitted, "Completion Time": completed,
        },
    }


def _task_end(sid, cpu_ns, gc, read, local, remote, fetch, written, spilled):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc,
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Read Metrics": {
                "Local Bytes Read": local, "Remote Bytes Read": remote,
                "Fetch Wait Time": fetch,
            },
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Memory Bytes Spilled": spilled,
        },
    }


def test_parse_stages_sums_task_metrics_of_stages_in_the_window():
    # Spark logs a stage's task ends BEFORE its completion event
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _task_end(0, 9e6, 1, 1, 1, 1, 1, 1, 1),  # stage 0: before the window
        _stage_done(0, 500, 900, 1),
        _task_end(1, 4e6, 3, 2_000_000, 0, 0, 0, 1_000_000, 0),
        _task_end(1, 6e6, 2, 3_000_000, 0, 0, 0, 500_000, 4_000_000),
        _stage_done(1, 1000, 1250, 2),
        _task_end(2, 1e6, 0, 0, 700_000, 300_000, 7, 0, 0),
        _stage_done(2, 1300, 1400, 1, name="save at y.py:2"),
    ]
    lines = [json.dumps(e) for e in events] + ["{not json"]
    stages = qr.parse_stages(lines, 1000, 2000)
    assert sorted(stages) == [1, 2]
    s1, s2 = stages[1], stages[2]
    assert (s1["ms"], s1["tasks"], s1["name"]) == (250, 2, "count at x.py:1")
    assert s1["cpu_ms"] == pytest.approx(10.0)
    assert s1["gc_ms"] == 5
    assert s1["in_mb"] == pytest.approx(5.0)
    assert s1["sw_mb"] == pytest.approx(1.5)
    assert s1["spill_mb"] == pytest.approx(4.0)
    assert (s2["ms"], s2["tasks"]) == (100, 1)
    assert s2["sr_mb"] == pytest.approx(1.0)
    assert s2["fetch_ms"] == 7


def _fake_child(times):
    def run_child(root, name, sf_dir, cpus, warm, noop=False, event_dir=""):
        return [{"s": s} for s in times.pop(0)]

    return run_child


def test_steady_entry_has_the_keys_bench_reads(monkeypatch):
    monkeypatch.setattr(qr, "run_child", _fake_child([[9.0, 2.5, 2.0, 2.25]]))
    monkeypatch.setattr(qr, "_load1", lambda: 0.4)
    rec = qr.retime("q", "/sf", "4", 3, calm=1.0, attempts=2,
                    calm_wait=0, commit="abc1234")
    # bench.py: "steady" for the map, "sf_dir" to match the run's scale,
    # "commit" for the staleness rule
    assert rec == {
        "cold": 9.0, "warm": [2.5, 2.0, 2.25], "steady": 2.0,
        "load1": 0.4, "attempts": 1,
        "sf_dir": "/sf", "cpus": "4", "commit": "abc1234",
    }


def test_loaded_attempts_keep_the_minimum_and_flag_best_effort(monkeypatch):
    monkeypatch.setattr(
        qr, "run_child", _fake_child([[9.0, 3.0, 3.5], [8.0, 2.5, 2.75]])
    )
    monkeypatch.setattr(qr, "_load1", lambda: 3.0)
    rec = qr.retime("q", "/sf", "4", 2, calm=1.0, attempts=2,
                    calm_wait=0, commit="abc1234")
    assert (rec["steady"], rec["attempts"], rec["best_effort"]) == (2.5, 2, True)


def test_default_cpus_follows_the_host_unless_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert qr.default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert qr.default_cpus() == "3"


@pytest.mark.parametrize("argv", [["scaling"], ["scaling", "--cpus", "4"]])
def test_scaling_without_two_core_counts_stops_before_writing(
    argv, tmp_path, monkeypatch
):
    out = tmp_path / "scaling.json"
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    monkeypatch.setattr(qr.sys, "argv", ["query_runner.py", *argv, "--out", str(out)])
    monkeypatch.setattr(qr, "run_child", lambda *a, **k: pytest.fail("child ran"))
    with pytest.raises(SystemExit) as exc:
        qr.main()
    assert exc.value.code == 2
    assert not out.exists()


@pytest.mark.parametrize("mode", [["steady", "q"], ["ab", "--old", "/x", "q"],
                                  ["profile", "q"]])
def test_only_scaling_takes_a_core_count_flag(mode):
    with pytest.raises(SystemExit):
        qr._parser().parse_args([*mode, "--cpus", "2"])


def test_a_hung_child_counts_as_a_failed_one(monkeypatch):
    def hang(cmd, **kw):
        raise qr.subprocess.TimeoutExpired(cmd, kw["timeout"])

    monkeypatch.setattr(qr.subprocess, "run", hang)
    assert qr.run_child("/repo", "q", "/sf", "2", 1) is None
