"""Read Spark's event log and turn it into per-layer metrics.

The runner enables the log only in the traced run (uncompressed, in a
directory of its own) and records the wall-clock window of every
operation. Operations run one at a time, so an event belongs to the
operation whose window holds its timestamp. That also assigns the jobs
that helper threads submit, which carry no job group. Events outside
every window are the unattributed remainder.
"""

from __future__ import annotations

import glob
import json
import os

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def read_events(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``: a single-file log, or a rolled
    ``eventlog_v2_*`` directory of ``events_<n>_*`` files read in order."""
    files = []
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        name = os.path.basename(path)
        if os.path.isdir(path) or name.startswith("appstatus"):
            continue
        if name.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(f"compressed event log {path}: set spark.eventLog.compress=false")
        files.append(path)

    def order(path: str):
        parts = os.path.basename(path).split("_")
        index = int(parts[1]) if parts[0] == "events" and parts[1].isdigit() else 0
        return (os.path.dirname(path), index)

    events = []
    for path in sorted(files, key=order):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _window_of(t_ms: float, windows: list[tuple[float, float]]) -> int | None:
    for i, (lo, hi) in enumerate(windows):
        if lo <= t_ms <= hi:
            return i
    return None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _empty() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0,
        "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "deser_s": 0.0,
        "shuffle_write_bytes": 0, "shuffle_fetch_wait_s": 0.0, "spill_bytes": 0,
        "input_bytes": 0, "input_rows": 0, "output_bytes": 0,
        "py_sent_bytes": 0, "py_returned_bytes": 0,
        "driver_s": 0.0, "idle_s": 0.0, "wall_s": 0.0,
    }


def attribute(events: list[dict], windows: list[tuple[float, float]]) -> tuple[list[dict], dict]:
    """Per-window sums, plus the task work that fell outside every
    window. ``windows`` are (start_ms, end_ms) wall-clock pairs.

    ``driver_s`` is window time covered by no running job (driver work
    before the first job submit and between jobs); ``idle_s`` is window
    time during which no task runs."""
    per = [_empty() for _ in windows]
    outside = {"tasks": 0, "run_s": 0.0}
    job_start: dict[int, tuple[float, int | None]] = {}
    job_spans: list[list[tuple[float, float]]] = [[] for _ in windows]
    task_spans: list[list[tuple[float, float]]] = [[] for _ in windows]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"]
            w = _window_of(t, windows)
            job_start[ev["Job ID"]] = (t, w)
            if w is not None:
                per[w]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            t0, w = job_start.get(ev["Job ID"], (None, None))
            if t0 is not None and w is not None:
                job_spans[w].append((t0, ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            w = _window_of(info.get("Submission Time", -1), windows)
            if w is not None:
                per[w]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            w = _window_of(info["Launch Time"], windows)
            run_s = m.get("Executor Run Time", 0) / 1e3
            if w is None:
                outside["tasks"] += 1
                outside["run_s"] += run_s
                continue
            p = per[w]
            task_spans[w].append((info["Launch Time"], info["Finish Time"]))
            p["tasks"] += 1
            p["run_s"] += run_s
            p["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            p["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            p["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            p["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            p["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            p["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            inp = m.get("Input Metrics") or {}
            p["input_bytes"] += inp.get("Bytes Read", 0)
            p["input_rows"] += inp.get("Records Read", 0)
            p["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in info.get("Accumulables") or []:
                if acc.get("Name") == PY_SENT:
                    p["py_sent_bytes"] += int(acc.get("Update") or 0)
                elif acc.get("Name") == PY_RETURNED:
                    p["py_returned_bytes"] += int(acc.get("Update") or 0)
    for w, (lo, hi) in enumerate(windows):
        wall = hi - lo
        per[w]["wall_s"] = wall / 1e3
        per[w]["driver_s"] = (wall - _covered(job_spans[w], lo, hi)) / 1e3
        per[w]["idle_s"] = (wall - _covered(task_spans[w], lo, hi)) / 1e3
    return per, outside
