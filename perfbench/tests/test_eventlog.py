"""The event-log reader on a small canned log in Spark's rolled layout."""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog


def _task(launch, finish, run_ms, cpu_ns, *, gc=0, deser=0, shuffle_w=0, fetch_wait=0,
          spill=0, read=(0, 0), written=0, py=(0, 0)):
    accumulables = [
        {"ID": 1, "Name": eventlog.PY_SENT, "Update": str(py[0]), "Value": "0"},
        {"ID": 2, "Name": eventlog.PY_RETURNED, "Update": str(py[1]), "Value": "0"},
        {"ID": 3, "Name": "number of output rows", "Update": "7", "Value": "7"},
    ]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": accumulables},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc,
            "Executor Deserialize Time": deser,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Fetch Wait Time": fetch_wait},
            "Input Metrics": {"Bytes Read": read[0], "Records Read": read[1]},
            "Output Metrics": {"Bytes Written": written},
        },
    }


def _job(job_id, submit, end):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": submit},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": end},
    ]


CANNED_PART1 = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 900},
    # before any window: the set-up job
    *_job(0, 950, 990),
    _task(955, 985, 30, 20_000_000),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Submission Time": 951}},
    # window 0 = [1000, 2000]: two jobs, driver work before and between them
    *_job(1, 1200, 1400),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Submission Time": 1200}},
]
CANNED_PART2 = [
    _task(1210, 1390, 180, 150_000_000, gc=10, deser=5, shuffle_w=4096, read=(1000, 50),
          py=(300, 200)),
    _task(1220, 1300, 80, 60_000_000, spill=64, read=(500, 25)),
    *_job(2, 1700, 1900),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Submission Time": 1700}},
    _task(1700, 1900, 200, 100_000_000, fetch_wait=12, written=2048),
    # window 1 = [3000, 3500]: a helper-thread job with no job group
    *_job(3, 3100, 3300),
    _task(3100, 3300, 200, 200_000_000),
]


@pytest.fixture
def log_dir(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    # rolled files are read in index order, not name order
    for index, part in ((1, CANNED_PART1), (2, CANNED_PART2)):
        (app / f"events_{index}_local-1").write_text(
            "\n".join(json.dumps(e) for e in part) + "\n"
        )
    return str(tmp_path)


def test_read_events_follows_rolled_files(log_dir):
    events = eventlog.read_events(log_dir)
    assert len(events) == len(CANNED_PART1) + len(CANNED_PART2)
    assert events[0]["Event"] == "SparkListenerApplicationStart"


def test_read_events_refuses_compressed_logs(tmp_path):
    (tmp_path / "events_1_local-1.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress"):
        eventlog.read_events(str(tmp_path))


def test_attribute_by_window(log_dir):
    per, outside = eventlog.attribute(eventlog.read_events(log_dir), [(1000, 2000), (3000, 3500)])
    w0, w1 = per
    assert (w0["jobs"], w0["stages"], w0["tasks"]) == (2, 2, 3)
    assert w0["run_s"] == pytest.approx(0.46)
    assert w0["cpu_s"] == pytest.approx(0.31)
    assert w0["gc_s"] == pytest.approx(0.01)
    assert w0["deser_s"] == pytest.approx(0.005)
    assert w0["shuffle_write_bytes"] == 4096
    assert w0["shuffle_fetch_wait_s"] == pytest.approx(0.012)
    assert w0["spill_bytes"] == 64
    assert (w0["input_bytes"], w0["input_rows"]) == (1500, 75)
    assert w0["output_bytes"] == 2048
    assert (w0["py_sent_bytes"], w0["py_returned_bytes"]) == (300, 200)
    # jobs cover 1200-1400 and 1700-1900 of the 1000 ms window
    assert w0["driver_s"] == pytest.approx(0.6)
    # tasks cover 1210-1390 and 1700-1900
    assert w0["idle_s"] == pytest.approx(0.62)
    assert w0["wall_s"] == pytest.approx(1.0)
    assert (w1["jobs"], w1["tasks"]) == (1, 1)
    assert w1["driver_s"] == pytest.approx(0.3)
    # the set-up job's task lies outside every window
    assert outside == {"tasks": 1, "run_s": pytest.approx(0.03)}


def test_covered_merges_overlaps():
    assert eventlog._covered([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert eventlog._covered([(0, 10), (5, 20)], 8, 15) == 7
    assert eventlog._covered([], 0, 100) == 0
