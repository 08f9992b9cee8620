"""The driver JVM's class-data archive (``session.cds_launch``,
``session.promote_archive`` and the exit hook ``get_spark`` registers).

The pure-Python cases point ``cds_launch`` at a temp cache dir and a
fake Spark home; the child-process case runs two fresh driver
processes against one temp cache: the first dumps the archive as its
JVM exits, the second maps it."""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import sys
import tempfile
import textwrap
import time

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from cryo_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def env(monkeypatch):
    """No conf dir or gateway inherited from this process's own session;
    monkeypatch restores both afterwards."""
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    return monkeypatch


def _spark_home(root, conf_files=("spark-defaults.conf.template", "log4j2.properties.template")):
    home = root / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "jars").mkdir()
    for name in conf_files:
        (home / "conf" / name).write_text("# x\n")
    (home / "jars" / "spark-core.jar").write_bytes(b"\0" * 64)
    return str(home)


def test_template_only_conf_dir_dumps_with_pid_tagged_file(tmp_path, env):
    home, cache = _spark_home(tmp_path), str(tmp_path / "cds")
    launch = session.cds_launch(cache, home)
    key = session.cds_key(home)
    assert key is not None
    assert launch.dump_path == os.path.join(cache, f"{key}.{os.getpid()}.tmp")
    assert launch.archive == os.path.join(cache, f"{key}.jsa")
    assert f"-XX:ArchiveClassesAtExit={launch.dump_path}" in launch.java_options.split()
    assert "SharedArchiveFile" not in launch.java_options
    assert "-Xlog:cds*=off:stderr" in launch.java_options.split()
    assert os.environ["SPARK_CONF_DIR"] == os.path.join(cache, "conf")
    assert os.listdir(os.environ["SPARK_CONF_DIR"]) == []


def test_existing_archive_is_mapped(tmp_path, env):
    home = _spark_home(tmp_path)
    cache = tmp_path / "cds"
    cache.mkdir()
    archive = cache / f"{session.cds_key(home)}.jsa"
    archive.write_bytes(b"archive")
    launch = session.cds_launch(str(cache), home)
    assert launch.dump_path is None
    assert launch.java_options.split()[:2] == [
        f"-XX:SharedArchiveFile={archive}", "-Xshare:auto",
    ]
    assert "ArchiveClassesAtExit" not in launch.java_options


@pytest.mark.parametrize("case", ["spark-defaults.conf", "preset"])
def test_user_conf_dir_gets_no_flags(tmp_path, env, case):
    if case == "preset":
        home = _spark_home(tmp_path)
        env.setenv("SPARK_CONF_DIR", str(tmp_path))
    else:
        home = _spark_home(tmp_path, conf_files=("spark-defaults.conf",))
    before = dict(os.environ)
    assert session.cds_launch(str(tmp_path / "cds"), home) is None
    assert dict(os.environ) == before


def test_own_empty_conf_dir_preset_still_maps(tmp_path, env):
    """A child of a process that already pointed SPARK_CONF_DIR at the
    cache's empty conf dir inherits it and keeps the archive."""
    cache = tmp_path / "cds"
    (cache / "conf").mkdir(parents=True)
    env.setenv("SPARK_CONF_DIR", str(cache / "conf"))
    assert session.cds_launch(str(cache), _spark_home(tmp_path)) is not None


def test_unwritable_cache_dir_gets_no_flags(tmp_path, env):
    # below a regular file: not creatable even by root
    blocker = tmp_path / "file"
    blocker.write_text("")
    before = dict(os.environ)
    assert session.cds_launch(str(blocker / "cds"), _spark_home(tmp_path)) is None
    assert dict(os.environ) == before


def test_truncated_dump_is_never_named(tmp_path, env):
    """A truncated archive aborts the JVM even under -Xshare:auto, so a
    leftover .tmp (another writer's, or this process's own) must never
    reach a flag."""
    home = _spark_home(tmp_path)
    cache = tmp_path / "cds"
    cache.mkdir()
    key = session.cds_key(home)
    other = cache / f"{key}.999999999.tmp"
    other.write_bytes(b"\xf0\x0b\xab\xa8" * 25_000)
    launch = session.cds_launch(str(cache), home)
    assert other.name not in launch.java_options
    assert launch.dump_path.endswith(f".{os.getpid()}.tmp")
    # this process's own pending dump: launch without flags
    os.replace(other, launch.dump_path)
    env.delenv("SPARK_CONF_DIR")
    assert session.cds_launch(str(cache), home) is None


def test_caller_java_options_survive_verbatim(tmp_path, env):
    captured = {}

    def fake_get_or_create(builder):
        captured.update(builder._options)
        return None

    env.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    env.setattr(SparkContext, "_gateway", None)
    env.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    env.setattr(session, "cds_cache_dir", lambda: str(tmp_path / "cds"))
    caller = "-Djava.io.tmpdir=/x/y -XX:-UsePerfData"
    session.get_spark(extra_conf={"spark.driver.extraJavaOptions": caller})
    assert captured["spark.driver.extraJavaOptions"] == caller
    assert "-XX:ArchiveClassesAtExit=" in captured["spark.driver.defaultJavaOptions"]


def _writer(dump_path: str, then: str) -> subprocess.Popen:
    """A stand-in gateway JVM: writes ``dump_path`` once its stdin
    closes, then ``then`` ("exit" with 0, or "hang")."""
    code = textwrap.dedent(f"""
        import sys, time
        sys.stdin.read()
        with open({dump_path!r}, "wb") as f:
            f.write(b"archive")
        if {then!r} == "hang":
            time.sleep(600)
    """)
    return subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE)


def test_promotion_only_after_exit_status_zero(tmp_path):
    dump, archive = str(tmp_path / "k.1.tmp"), str(tmp_path / "k.jsa")
    with open(dump, "wb") as f:
        f.write(b"half")
    assert not session.promote_archive(1, dump, archive)
    assert not os.path.exists(dump) and not os.path.exists(archive)

    proc = _writer(dump, "exit")
    assert proc.poll() is None
    session._promote_at_exit(proc, dump, archive)  # closes stdin, waits
    assert proc.returncode == 0
    assert not os.path.exists(dump)
    with open(archive, "rb") as f:
        assert f.read() == b"archive"


def test_killed_writer_dump_is_deleted(tmp_path):
    dump, archive = str(tmp_path / "k.1.tmp"), str(tmp_path / "k.jsa")
    proc = _writer(dump, "hang")
    proc.stdin.close()
    for _ in range(200):
        if os.path.exists(dump):
            break
        time.sleep(0.05)
    assert os.path.exists(dump)
    proc.send_signal(signal.SIGKILL)
    proc.wait()
    assert proc.returncode == -9
    session._promote_at_exit(proc, dump, archive)
    assert not os.path.exists(dump) and not os.path.exists(archive)


def test_promotion_prunes_other_keys(tmp_path):
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    files = {
        "old.jsa": False,
        "old.123.tmp": False,
        f"k.{dead.pid}.tmp": False,  # this key, writer gone
        f"k.{os.getpid()}.tmp": True,  # this key, writer alive
        "notes.txt": True,
    }
    for name in files:
        (tmp_path / name).write_bytes(b"x")
    (tmp_path / "conf").mkdir()
    (tmp_path / "k.7.tmp").write_bytes(b"new")
    assert session.promote_archive(0, str(tmp_path / "k.7.tmp"), str(tmp_path / "k.jsa"))
    left = set(os.listdir(tmp_path))
    assert left == {"k.jsa", "conf"} | {n for n, keep in files.items() if keep}


_CHILD = textwrap.dedent("""
    import sys
    from cryo_spark import get_spark
    extra = {"spark.ui.showConsoleProgress": "false"}
    if len(sys.argv) > 1:
        extra["spark.driver.extraJavaOptions"] = sys.argv[1]
    spark = get_spark(master="local[1]", extra_conf=extra)
    # a Python task: the JVM then holds a connection to the driver's
    # accumulator server, which the exit hook must close cleanly
    print("count", spark.range(10).rdd.map(lambda r: r).count())
    print("extra", spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", ""))
""")


def _run_child(argv: list[str], env: dict[str, str], cwd: str, timeout: float = 240) -> str:
    """Run a driver in its own process group; return its stdout. The
    group is killed before returning, whatever happened. A traceback on
    its stderr fails the test."""
    out_path, err_path = os.path.join(cwd, "stdout"), os.path.join(cwd, "stderr")
    with open(out_path, "wb") as out, open(err_path, "wb") as err:
        proc = subprocess.Popen(
            argv, cwd=REPO, env=env, stdin=subprocess.DEVNULL,
            stdout=out, stderr=err, start_new_session=True,
        )
    try:
        proc.wait(timeout=timeout)
    finally:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    with open(out_path) as f, open(err_path) as g:
        stdout, stderr = f.read(), g.read()
    assert proc.returncode == 0 and "Traceback" not in stderr, (
        f"child exited {proc.returncode}:\n{stderr[-3000:]}"
    )
    return stdout


def test_first_driver_dumps_second_maps():
    conf = os.path.join(_find_spark_home(), "conf")
    if any(not n.endswith(".template") for n in os.listdir(conf)):
        pytest.skip("Spark's default conf dir holds a real conf file")
    with tempfile.TemporaryDirectory(prefix="cds_test_") as tmp:
        env = {
            k: v for k, v in os.environ.items()
            if not k.startswith("PYSPARK_GATEWAY_") and k != "SPARK_CONF_DIR"
        }
        env.update(
            XDG_CACHE_HOME=os.path.join(tmp, "xdg"), TMPDIR=tmp,
            SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=REPO,
        )
        cache = os.path.join(tmp, "xdg", "cryo_spark", "cds")

        first = _run_child([sys.executable, "-c", _CHILD], env, tmp)
        assert "count 10" in first
        assert "[cds" not in first and "Preload Warning" not in first
        archives = [n for n in os.listdir(cache) if n.endswith(".jsa")]
        assert len(archives) == 1
        assert not [n for n in os.listdir(cache) if n.endswith(".tmp")]

        log = os.path.join(tmp, "class-load.log")
        opts = f"-Xlog:class+load=info:file={log} -Dcds.test=1"
        second = _run_child([sys.executable, "-c", _CHILD, opts], env, tmp)
        # Spark prepends its own module flags; the caller's string ends it
        assert "count 10" in second and second.rstrip().endswith(opts)
        with open(log) as f:
            loads = [ln for ln in f if "org.apache.spark.SparkContext " in ln]
        assert loads and "shared objects file (top)" in loads[0]
