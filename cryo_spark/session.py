"""SparkSession construction tuned for this engine.

Local testing runs ``local[N]``; the configs below are chosen so the
same logical plans survive a 1000-executor / 100 TB deployment:

- AQE on (runtime coalescing + skew-join splitting),
- auto broadcast threshold left at default but joins against small
  dimension tables are explicitly ``broadcast()``-ed in operator code,
- shuffle partitions sized for the local test harness; at cluster
  scale AQE coalesces or the deployer overrides
  ``spark.sql.shuffle.partitions``.

Every engine conf is a constant here; a caller that needs another
value passes it through ``get_spark(extra_conf=...)``, which is
applied last.

Driver JVM cold start (class-data archive). When ``get_spark``
launches a new gateway JVM it starts that JVM from a dynamic AppCDS
archive kept in ``$XDG_CACHE_HOME/cryo_spark/cds`` (default
``~/.cache/cryo_spark/cds``), one archive per JDK and Spark jar set
(:func:`cds_key`). The first such JVM on a host runs with
``-XX:ArchiveClassesAtExit`` and writes ``<key>.<pid>.tmp`` as it
exits; an ``atexit`` hook waits for that exit and renames the file to
``<key>.jsa`` only when the JVM exited with status 0, because a
truncated archive aborts any JVM handed it. Every later JVM maps the
archive with ``-XX:SharedArchiveFile=<key>.jsa -Xshare:auto``. An
archive maps only under the classpath it was dumped with, and a dump
refuses a non-empty directory on it; Spark puts ``$SPARK_CONF_DIR``
first, so the archive is used only when that dir is unset and the
default one holds nothing but ``*.template`` files, in which case
``SPARK_CONF_DIR`` is pointed at an empty dir in the cache. A custom
conf dir, an unwritable cache or a gateway this process did not
launch gets no flags. :func:`cds_launch` decides;
:func:`promote_archive` renames and prunes. Deleting the cache dir
resets it.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import subprocess
import tempfile
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def full_gc_every(master: str) -> int:
    """Worker GC pacing period for ``master`` (see workerdaemon).

    The gen-1-between-tasks policy (full collect every 10th task) won
    its A/Bs on single-JVM ``local``/``local[N]``, but on a
    multi-executor master it LOST 3/3 interleaved min-of-3 pairs on
    local-cluster[2,4,2048] (gen1 vs stock totals: 8.81 vs 7.93,
    7.31 vs 6.59, 7.22 vs 7.00 — OPTIMIZATION_r18.md): with several
    python workers per executor the deferred full collects cost more
    in allocation pressure than the skipped pauses save. Every other
    master keeps the stock cadence (a full collect per task). On a
    4-vCPU VM at local[4], collect_replay's median operation took
    0.396 s with pacing and 0.451 s without (10 alternating pairs,
    all won); freeze_online's traced executor run time was 4.04 vs
    4.83 s (8 of 10 won)."""
    single_jvm = master.startswith("local") and not master.startswith("local-cluster")
    return 10 if single_jvm else 1


# Unified-logging flags for a JVM started with archive flags: a dump
# prints one "[warning][cds] Preload Warning" line per class it cannot
# archive (1,294 on a collect run) on the JVM's stdout, which the
# Python process shares. CDS logging goes nowhere; other JVM warnings
# go to stderr.
CDS_LOG_FLAGS = "-Xlog:disable -Xlog:all=warning:stderr -Xlog:cds*=off:stderr"
# How long the exit hook waits for a dumping JVM to write its archive.
CDS_DUMP_WAIT_S = 120


class CdsLaunch(NamedTuple):
    """Archive flags for one gateway JVM launch. ``dump_path`` is the
    pid-tagged file a dumping JVM writes at exit (None when it maps
    ``archive``)."""

    java_options: str
    archive: str
    dump_path: str | None


def cds_cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "cryo_spark", "cds")


def cds_key(spark_home: str) -> str | None:
    """Hash of the ``java`` spark-submit runs (realpath plus the JDK's
    ``release`` file) and the name and size of each Spark jar; None
    when either cannot be read."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    java = os.path.realpath(java)
    jars = os.path.join(spark_home, "jars")
    h = hashlib.sha256(java.encode())
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as f:
            h.update(f.read())
        for name in sorted(os.listdir(jars)):
            h.update(f"\0{name}\0{os.path.getsize(os.path.join(jars, name))}".encode())
    except OSError:
        return None
    return h.hexdigest()[:20]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def cds_launch(cache_dir: str, spark_home: str) -> CdsLaunch | None:
    """Archive flags for a new gateway JVM, or None to launch it as
    before. Sets ``SPARK_CONF_DIR`` to the cache's empty conf dir when
    it returns flags and the variable was unset; touches nothing in
    ``os.environ`` when it returns None."""
    # Spark's launcher splits Java options on whitespace and quotes, and
    # the conf dir goes on a ':'-separated classpath.
    if "PYSPARK_GATEWAY_PORT" in os.environ or re.search(r"[\s\"'\\:]", cache_dir):
        return None
    empty_conf = os.path.join(cache_dir, "conf")
    preset = os.environ.get("SPARK_CONF_DIR")
    default_conf = os.path.join(spark_home, "conf")
    try:
        if preset is not None:
            if os.path.realpath(preset) != os.path.realpath(empty_conf):
                return None
        elif os.path.isdir(default_conf) and any(
            not n.endswith(".template") for n in os.listdir(default_conf)
        ):
            return None
        os.makedirs(empty_conf, exist_ok=True)
        # a real write, not os.access: permission bits say nothing to root
        tempfile.TemporaryFile(dir=cache_dir).close()
        if os.listdir(empty_conf):
            return None
    except OSError:
        return None
    key = cds_key(spark_home)
    if key is None:
        return None
    archive = os.path.join(cache_dir, f"{key}.jsa")
    if os.path.isfile(archive):
        launch = CdsLaunch(
            f"-XX:SharedArchiveFile={archive} -Xshare:auto {CDS_LOG_FLAGS}", archive, None
        )
    else:
        dump = os.path.join(cache_dir, f"{key}.{os.getpid()}.tmp")
        if os.path.exists(dump):  # an earlier JVM of this process wrote it
            return None
        launch = CdsLaunch(f"-XX:ArchiveClassesAtExit={dump} {CDS_LOG_FLAGS}", archive, dump)
    if preset is None:
        os.environ["SPARK_CONF_DIR"] = empty_conf
    return launch


def promote_archive(returncode: int | None, dump_path: str, archive: str) -> bool:
    """Rename ``dump_path`` to ``archive`` when its JVM exited with 0,
    else delete it. Promotion also deletes other keys' archives and
    dumps, and this key's dumps whose writer is gone."""
    if returncode != 0 or not os.path.isfile(dump_path):
        with contextlib.suppress(OSError):
            os.remove(dump_path)
        return False
    try:
        os.replace(dump_path, archive)
    except OSError:
        return False
    cache_dir, keep = os.path.split(archive)
    key = keep[: -len(".jsa")]
    for name in os.listdir(cache_dir):
        parts = name.split(".")
        if name == keep or parts[-1] not in ("jsa", "tmp"):
            continue
        if parts[0] == key and len(parts) == 3 and parts[1].isdigit() and _pid_alive(int(parts[1])):
            continue
        with contextlib.suppress(OSError):
            os.remove(os.path.join(cache_dir, name))
    return True


def _promote_at_exit(proc: subprocess.Popen, dump_path: str, archive: str) -> None:
    """Exit hook of a dumping launch: the gateway JVM exits on EOF of
    its stdin and writes the archive as it exits, so close that pipe
    (a no-op after a caller's own shutdown) and wait for the exit. A
    context still open on that JVM is stopped first; otherwise its
    accumulator server prints a traceback when the JVM goes away."""
    try:
        sc = SparkContext._active_spark_context
        if proc.poll() is None and sc is not None and getattr(sc._gateway, "proc", None) is proc:
            sc.stop()
    finally:
        if proc.poll() is None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=CDS_DUMP_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        promote_archive(proc.returncode, dump_path, archive)


def get_spark(
    app_name: str = "cryo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Any already-active session is reused (tests and the driver harness
    own the session lifecycle).
    """
    # py4j reflection memo (py4jopt): installed here — the engine's
    # own session entry point — instead of at package import (r18,
    # ADVICE r17: importing a library must not patch py4j for the
    # whole process). Idempotent.
    from cryo_spark import py4jopt

    py4jopt.install()

    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_cpus = str(os.cpu_count() or 8) if cpus == "*" else cpus
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescer merges shuffle partitions below this size.
        # The 1 MB default assumes cost ~ bytes; several operators
        # here (posting-list pair explode, count_distinct partials,
        # set-intersection verifies) are CPU-dense on byte-light rows,
        # and at the default the whole stage folds to ONE task
        # (measured: ngram_jaccard 5.1s -> 2.9s at sf0.1 with 64 KB).
        # At cluster scale real partitions dwarf either threshold, so
        # this only affects the small-intermediate regime it targets.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "65536")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE inside cached plans (round 18, guide §2.2/§1.2 step 3):
        # Spark keeps AQE partition coalescing OFF under an
        # InMemoryRelation unless this flag is set, to preserve the
        # cache's output partitioning for reuse. This engine persists
        # many byte-light intermediates (funnel stage boundaries,
        # candidate-pair lists), and with the flag off every cached
        # subtree materializes at the full spark.sql.shuffle.partitions
        # width regardless of size — profiled at sf0.1 as 32-task
        # near-empty waves, run >> cpu (e.g. 1.7 s summed run / 85 ms
        # cpu). With the flag on those stages coalesce like any other
        # AQE stage. No operator here relies on a cache's output
        # partitioning (boundaries re-shuffle on their own keys
        # downstream), and results are partitioning-independent.
        # Interleaved fresh-process A/B (min-of-3 per arm, 5 queries):
        # totals 11.82 -> 10.60 and 10.59 -> 10.02; minhash (persisted
        # verify pairs) 1.85 -> 1.41 and 1.64 -> 1.22.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Shuffle writer selection (round 17, guide §2.1): the
        # bypass-merge writer fires only when a shuffle has <=
        # bypassMergeThreshold partitions (stock 200) and no map-side
        # combine, and it writes R per-reducer files per map task then
        # CONCATENATES them — O(M x R) file creates + a copy pass.
        # Thread dumps of the run>>cpu stages showed exactly that
        # (DiskBlockObjectWriter.initialize / copyFileStreamNIO);
        # forcing the sort writer (ONE file per map task) cut the
        # shuffle-heavy bench queries 20-25% in interleaved A/B
        # (minhash 2.17->1.76s, ngram_stats 1.54->0.89s, full 5-query
        # sum 7.03->5.26s; wins every adjacent pair). Scale-safe by
        # construction: large shuffles exceed 200 partitions and never
        # used the bypass path — this only changes the small-shuffle
        # regime, where O(M) file ops strictly beat O(M x R) on any
        # storage.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        # split small test files across cores (scans of row-grouped
        # files parallelize; no-op for many-file production layouts)
        .config("spark.sql.files.minPartitionNum", n_cpus)
        .config("spark.sql.files.openCostInBytes", "65536")
        # Arrow for pandas UDF / toPandas boundaries (the only Python
        # hot paths we allow: keccak, u256 decimal strings, ABI decode).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4's DataFrame-debugging origin capture wraps EVERY
        # DataFrame/Column API call with a Python stack walk plus 3
        # extra py4j round trips (conf read + PySparkCurrentOrigin
        # set/clear). Construction-heavy plans pay seconds of pure
        # driver latency for call-site strings in error messages:
        # measured on the round-17 funnel build, 10,765 -> 6,153 py4j
        # round trips (-43%) with the capture off. Driver-side cost at
        # ANY cluster scale (plans are built on one machine), so off;
        # re-enable for interactive debugging through extra_conf.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-class cache (round 18, guide §7.3's "janino
        # codegen compiles for fresh plan segments" census item): the
        # stock 100-entry CodeGenerator cache is smaller than ONE
        # corpus_funnel pass (60+ stages, several generated classes
        # each), so every repetition re-compiled every class — visible
        # as ~40-80 ms of first-task-wave non-CPU time per stage.
        # Interleaved fresh-process A/B at 5000 entries: corpus_funnel
        # 4.91 -> 3.08 and 4.87 -> 3.38 min-of-3; 5-query totals
        # 9.93 -> 7.74 and 9.91 -> 8.36. Scale-neutral: a per-JVM
        # bounded cache of compiled classes — production drivers and
        # executors run many more distinct plan shapes than 100, not
        # fewer. On collect_replay at local[4] (10 alternating pairs):
        # first op 8.16 vs 8.87 s at 100 entries, 9 won.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Python workers: stamp-checked zipimporter.invalidate_caches (see
    # cryo_spark/workerdaemon.py). pyspark calls
    # importlib.invalidate_caches() at the START OF EVERY TASK, and on
    # CPython 3.11 each of the worker's ~16 zip-prefix importers eagerly
    # re-parses its archive's central directory: measured 0.3-0.8 s of
    # run time per Python task with near-zero CPU, on every
    # pandas-UDF/mapInArrow stage. The shim re-reads only when the
    # archive's (mtime_ns, size) moved — same freshness contract,
    # stat() cost. Worker-side and per-task, so it matters MORE on a
    # large cluster (millions of Python tasks), not less; the package
    # just needs to be importable where workers fork (true here and in
    # any --py-files/image deployment).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pp = os.pathsep.join(
        p for p in (pkg_parent, os.environ.get("PYTHONPATH", "")) if p
    )
    builder = (
        builder.config("spark.python.daemon.module", "cryo_spark.workerdaemon")
        .config("spark.executorEnv.PYTHONPATH", worker_pp)
        .config(
            "spark.executorEnv.SPARK_GRAFT_FULL_GC_EVERY",
            str(full_gc_every(master)),
        )
    )
    # Archive flags go in the driver's default Java options, so a
    # caller's spark.driver.extraJavaOptions is kept as given.
    launch = None
    if SparkContext._gateway is None:
        launch = cds_launch(cds_cache_dir(), _find_spark_home())
    if launch is not None:
        builder = builder.config("spark.driver.defaultJavaOptions", launch.java_options)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    proc = getattr(SparkContext._gateway, "proc", None)
    if launch is not None and launch.dump_path and proc is not None:
        atexit.register(_promote_at_exit, proc, launch.dump_path, launch.archive)
    return spark
