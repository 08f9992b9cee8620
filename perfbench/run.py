"""Benchmark runner: one workload, one closed-loop client, local[nproc].

    python3 perfbench/run.py --workload freeze_online --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, from a session with Spark's event log on
and the benchmark's spans on every other operation (see
perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.stats import tail_percentile  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "first_op_s": "s",
    "op_p50_s": "s",
    "units_per_s": "1/s",
    "out_bytes_per_row": "B/row",
}

WORKLOAD_NAMES = ("freeze_online", "collect_replay", "corpus_prepare")

PER_LAYER = {
    "api.construct_s": "s",
    "api.py4j_calls": "count",
    "sources.rpc_requests": "count",
    "sources.rpc_posts": "count",
    "sources.rpc_retries": "count",
    "sources.node_wait_s": "s",
    "sources.inflight": "ratio",
    "sources.scan_bytes": "B",
    "sources.scan_rows": "count",
    "sources.rows_per_result": "ratio",
    "io.write_s": "s",
    "io.post_job_s": "s",
    "io.files": "count",
    "io.output_bytes": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.idle_s": "s",
    "spark.unattributed_tasks": "count",
    "spark.unattributed_run_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.deser_s": "s",
    "shuffle.write_bytes": "B",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "B",
    "pyworker.bytes_out": "B",
    "pyworker.bytes_in": "B",
    "leaks.threads": "count",
    "leaks.persisted_bytes": "B",
    "mem.peak_rss_mb": "MB",
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- session ------------------------------------------------------------


def process_age_s() -> float:
    """Seconds since this process started (exec), from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_s = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_s


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every scratch file of Spark, the JVM and Python workers
    inside ``work``, and let workers import the benchmark's node."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


def start_session(work: str, event_log_dir: str | None = None):
    from cryo_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{n_cores()}]", extra_conf=conf)


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                    out.append(int(entry))
        except (OSError, ValueError, IndexError):
            continue
    return out


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver process, the JVM and the JVM's Python worker
    daemon (its forked workers are not counted)."""
    total = _vm_hwm_mb(os.getpid())
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        total += _vm_hwm_mb(proc.pid)
        for child in _children(proc.pid):
            try:
                with open(f"/proc/{child}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            if b"python" in cmd and b"daemon" in cmd:
                total += _vm_hwm_mb(child)
    return total


def timed_setup(work: str):
    """The session and its first trivial job, timed from process start."""
    spark = start_session(work)
    spark.range(1).count()
    setup_s = process_age_s()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


# -- operations ---------------------------------------------------------


def run_op(spark, wl, index: int, tracer=None, spans: bool = False, trace_dir: str | None = None) -> dict:
    """One operation: inputs made untimed, the call timed, its output
    checked untimed. An exception or a failed check marks it failed and
    the run goes on. With ``spans`` the tracer's spans are installed for
    the duration of the call only."""
    spec = wl.prepare(index)
    rec: dict = {"index": index, "spans": spans}
    problems: list[str] = []
    if spans:
        tracer.install()
        calls0 = tracer.py4j_calls()
    wall0 = time.time()
    t0 = time.perf_counter()
    try:
        try:
            result = wl.run(spark, spec, trace_dir if spans else None)
        finally:
            rec["latency_s"] = time.perf_counter() - t0
            rec["window"] = (wall0 * 1e3, time.time() * 1e3)
            if spans:
                rec["py4j"] = tracer.py4j_calls() - calls0
                tracer.uninstall()
        problems = wl.check(spec, result)
        if not problems:
            rec.update(wl.measure(spec, result))
    except Exception:
        problems = [traceback.format_exc()]
    finally:
        wl.cleanup(spec)
    rec["ok"] = not problems
    label = f"{wl.name} op {index} {spec.get('label', '')}".rstrip()
    log(f"{label}: {rec['latency_s']:.3f} s" + ("" if rec["ok"] else " FAILED: " + "; ".join(problems)))
    if tracer:
        rec["threads"] = threading.active_count()
        rec["persisted"] = tracer.persisted_bytes()
    return rec


def closed_loop(spark, wl, first_index: int, seconds: float, tracer=None, trace_dir=None) -> list[dict]:
    """Operations back to back until ``seconds`` have passed and the
    workload's current round of calls is complete. With a tracer, every
    other operation runs with spans."""
    recs: list[dict] = []
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or len(recs) % wl.round_size:
        spans = tracer is not None and len(recs) % 2 == 0
        recs.append(run_op(spark, wl, first_index + len(recs), tracer, spans, trace_dir))
    return recs


def cold_and_warm_up(spark, wl, tracer=None, trace_dir=None) -> list[dict]:
    """The cold operation, then the workload's untimed warm-up rounds."""
    recs = [run_op(spark, wl, 0, tracer, tracer is not None, trace_dir)]
    for _ in range(wl.warmup_rounds * wl.round_size):
        recs.append(run_op(spark, wl, len(recs), tracer, False, trace_dir))
    return recs


def warm_p50(recs: list[dict]) -> float:
    ok = [r["latency_s"] for r in recs if r["ok"]]
    return statistics.median(ok or [r["latency_s"] for r in recs])


def end_to_end(setup_s: float, first: dict, warm: list[dict]) -> dict:
    ok = [r for r in warm if r["ok"]]
    busy = sum(r["latency_s"] for r in ok)
    rows = sum(r["rows"] for r in ok)
    return {
        "setup_s": setup_s,
        "first_op_s": first["latency_s"],
        "op_p50_s": warm_p50(warm),
        "units_per_s": sum(r["units"] for r in ok) / busy if busy else 0.0,
        "out_bytes_per_row": sum(r["bytes"] for r in ok) / rows if rows else 0.0,
    }


def per_layer(cold: list[dict], warm: list[dict], tracer, events: list[dict], rss_mb: float) -> dict:
    """Event-log metrics averaged over the timed warm operations; span
    metrics averaged over those that ran with spans. The cold and warm-up
    operations' windows only keep their events out of the remainder."""
    per, outside = eventlog.attribute(events, [r["window"] for r in cold + warm])
    per = per[len(cold):]
    spanned = [r for r in warm if r["spans"]]
    plain = [r for r in warm if not r["spans"]]

    def mean(values, n) -> float:
        return sum(values) / n if n else 0.0

    def ev(key: str) -> float:
        return mean([p[key] for p in per], len(per))

    def span(values) -> float:
        return mean(list(values), len(spanned))

    node = [r.get("node") or {} for r in spanned]
    node_span = sum(c.get("span_s", 0.0) for c in node)
    rows_out = sum(r.get("rows", 0) for r in warm)
    writes = [tracer.writes_between(r["window"][0] / 1e3, r["window"][1] / 1e3) for r in spanned]
    return {
        "api.construct_s": ev("driver_s"),
        "api.py4j_calls": span(r.get("py4j", 0) for r in spanned),
        "sources.rpc_requests": span(c.get("requests", 0) for c in node),
        "sources.rpc_posts": span(c.get("posts", 0) for c in node),
        "sources.rpc_retries": span(c.get("retries", 0) for c in node),
        "sources.node_wait_s": span(c.get("wait_s", 0.0) for c in node),
        "sources.inflight": sum(c.get("wait_s", 0.0) for c in node) / node_span if node_span else 0.0,
        "sources.scan_bytes": ev("input_bytes"),
        "sources.scan_rows": ev("input_rows"),
        "sources.rows_per_result": sum(p["input_rows"] for p in per) / rows_out if rows_out else 0.0,
        "io.write_s": span(sum(w["t1"] - w["t0"] for w in ws) for ws in writes),
        "io.post_job_s": span(sum(w["post_job_s"] for w in ws) for ws in writes),
        "io.files": mean([r.get("files", 0) for r in warm], len(warm)),
        "io.output_bytes": ev("output_bytes"),
        "spark.jobs": ev("jobs"),
        "spark.stages": ev("stages"),
        "spark.tasks": ev("tasks"),
        "spark.idle_s": ev("idle_s"),
        "spark.unattributed_tasks": outside["tasks"],
        "spark.unattributed_run_s": outside["run_s"],
        "executor.run_s": ev("run_s"),
        "executor.cpu_s": ev("cpu_s"),
        "executor.gc_s": ev("gc_s"),
        "executor.deser_s": ev("deser_s"),
        "shuffle.write_bytes": ev("shuffle_write_bytes"),
        "shuffle.fetch_wait_s": ev("shuffle_fetch_wait_s"),
        "shuffle.spill_bytes": ev("spill_bytes"),
        "pyworker.bytes_out": ev("py_sent_bytes"),
        "pyworker.bytes_in": ev("py_returned_bytes"),
        "leaks.threads": warm[-1]["threads"] - cold[0]["threads"],
        "leaks.persisted_bytes": warm[-1]["persisted"],
        "mem.peak_rss_mb": rss_mb,
        "trace.op_p50_s": warm_p50(warm),
        "trace.overhead_s": warm_p50(spanned) - warm_p50(plain) if spanned and plain else 0.0,
    }


# -- runs ---------------------------------------------------------------


def make_workload(name: str, work: str, seed: int):
    from perfbench.workloads import WORKLOADS

    return WORKLOADS[name](ROOT, work, seed)


def run_untraced(name: str, seed: int, work: str, seconds: float):
    """setup_s covers the interpreter, the package import, the session
    and its first trivial job; the benchmark's own modules load after."""
    spark, setup_s = timed_setup(work)
    wl = make_workload(name, work, seed)
    cold = cold_and_warm_up(spark, wl)
    warm = closed_loop(spark, wl, len(cold), seconds)
    shutdown(spark)
    wl.close()
    metrics = end_to_end(setup_s, cold[0], warm)
    return wl, cold + warm, {"metrics": metrics, "warm": warm}


def run_traced(name: str, seed: int, work: str, seconds: float):
    """The event log is on for the whole session; the benchmark's spans
    are on for the cold operation and every other warm one."""
    from perfbench.tracing import Tracer

    log_dir = os.path.join(work, "eventlog")
    trace_dir = os.path.join(work, "trace")
    spark = start_session(work, event_log_dir=log_dir)
    spark.sparkContext.setLogLevel("ERROR")
    wl = make_workload(name, work, seed)
    tracer = Tracer(spark)
    cold = cold_and_warm_up(spark, wl, tracer, trace_dir)
    warm = closed_loop(spark, wl, len(cold), seconds, tracer, trace_dir)
    rss = peak_rss_mb(spark)
    shutdown(spark)
    wl.close()
    metrics = per_layer(cold, warm, tracer, eventlog.read_events(log_dir), rss)
    return wl, cold + warm, {"metrics": metrics, "warm": warm}


def report_line(wl, seed: int, trace: bool, recs: list[dict], extra: dict) -> str:
    failed = sum(not r["ok"] for r in recs)
    lat = [r["latency_s"] for r in extra["warm"] if r["ok"]]
    parts = [
        f"workload={wl.name}", f"seed={seed}", f"trace={int(trace)}",
        f"ops={len(recs)}", f"warm_samples={len(lat)}",
        f"error_rate={failed / len(recs):.4f}",
    ]
    tail = tail_percentile(lat)
    parts.append(f"op_p{tail[0]:g}_s={tail[1]:.4f}" if tail else "op_tail=n/a(<20 samples)")
    if not trace:
        parts.append(f"{wl.unit}_per_s={extra['metrics']['units_per_s']:.2f}")
    return "# " + " ".join(parts)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [d for d in ("cryo_spark", "fixtures") if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        log(f"not a cryo_spark checkout: {', '.join(missing)} missing under {ROOT}")
        return 2
    if args.workload not in WORKLOAD_NAMES:
        log(f"unknown workload {args.workload!r}; choose from {', '.join(WORKLOAD_NAMES)}")
        return 2
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        prepare_env(work)
        runner = run_traced if args.trace else run_untraced
        wl, recs, extra = runner(args.workload, args.seed, work, args.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    metrics = extra["metrics"]
    bad = [k for k, v in metrics.items() if not math.isfinite(v)]
    if bad or set(metrics) != set(units):
        log(f"metrics incomplete or not finite: {bad or sorted(set(units) ^ set(metrics))}")
        return 1
    failed = sum(not r["ok"] for r in recs)
    print(report_line(wl, args.seed, bool(args.trace), recs, extra))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
