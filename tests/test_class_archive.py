"""The driver JVM's class-data-sharing archive (session.build_session).

Every test here starts fresh processes: the archive only matters when a call
launches the JVM, and the shared test session's JVM is already up. Each test
gets its own ``XDG_CACHE_HOME``, so none of them reads or writes the user's
archive.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shlex
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FALLBACK = "did not start with -XX:SharedArchiveFile"
PLAIN = "without a class-data archive because"

_PROBE = """
import os, sys
sys.path.insert(0, sys.argv[1])
from bee_proof_spark.session import build_session
s = build_session(warehouse_dir=sys.argv[2])
print("rows", s.sql("SELECT 1").collect()[0][0])
print("marker", s.conf.get("spark.bee.marker", None))
print("java_opts", s.sparkContext.getConf().get("spark.driver.defaultJavaOptions", ""))
print("conf_dir", os.environ.get("SPARK_CONF_DIR"))
s.stop()
"""


def _env(root, **extra) -> dict[str, str]:
    """A launch environment with its own cache and an empty conf dir."""
    conf = root / "spark-conf"
    conf.mkdir(exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if k not in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                        "PYSPARK_SUBMIT_ARGS")}
    env.update(XDG_CACHE_HOME=str(root / "cache"), SPARK_CONF_DIR=str(conf),
               SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=REPO, PYTHONDONTWRITEBYTECODE="1")
    env.update(extra)
    return env


def _cds(root) -> str:
    return str(root / "cache" / "bee-proof-spark" / "cds")


def _runner(root, name: str, java_opts: str) -> subprocess.CompletedProcess:
    """One runner CLI run on a tiny dry-run manifest, with ``java_opts`` as
    the caller's spark.driver.extraJavaOptions."""
    script = root / "probe.hql"
    script.write_text("SELECT 1 AS one; SELECT 'a' AS s;\n")
    manifest = root / "manifest.json"
    manifest.write_text(json.dumps({"tasks": [{"script": str(script)}]}))
    cwd = root / name
    cwd.mkdir()
    submit = f"--conf {shlex.quote('spark.driver.extraJavaOptions=' + java_opts)} pyspark-shell"
    return subprocess.run(
        [sys.executable, "-m", "bee_proof_spark.runner", str(manifest)],
        cwd=cwd, env=_env(root, PYSPARK_SUBMIT_ARGS=submit),
        capture_output=True, text=True, timeout=300, check=True)


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A cache whose archive the first runner run dumped at its exit."""
    root = tmp_path_factory.mktemp("cds")
    tmpdir = root / "jtmp1"
    tmpdir.mkdir()
    first = _runner(root, "run1", f"-Djava.io.tmpdir={tmpdir}")
    return root, first


def test_first_run_dumps_and_the_next_maps_with_the_same_output(dumped):
    """The first launch publishes one archive at its exit; a second launch
    with another java.io.tmpdir maps classes from that same archive (the
    caller's class+load log sits beside the archive flags), and stdout, the
    runner's output protocol, is the same and free of cds log lines."""
    root, first = dumped
    archives = glob.glob(os.path.join(_cds(root), "*.jsa"))
    assert len(archives) == 1
    assert glob.glob(os.path.join(_cds(root), "*.tmp")) == []

    tmpdir = root / "jtmp2"
    tmpdir.mkdir()
    loads = root / "class-load.log"
    second = _runner(root, "run2",
                     f"-Xlog:class+load=info:file={loads} -Djava.io.tmpdir={tmpdir}")
    assert glob.glob(os.path.join(_cds(root), "*.jsa")) == archives
    assert "source: shared objects file (top)" in loads.read_text()

    def protocol(out: str) -> str:
        return re.sub(r"Total time:  \d+ms", "Total time:  <ms>", out)

    assert protocol(first.stdout) == protocol(second.stdout)
    assert "> Skipped!" in first.stdout
    for run in (first, second):
        assert "[cds" not in run.stdout + run.stderr


def test_damaged_archive_is_removed_and_the_session_still_starts(dumped):
    """A truncated archive at the published path crashes the JVM that maps
    it; build_session deletes it, warns once, launches without it, and the
    crash log lands in the cache, not the cwd."""
    root, _ = dumped
    (archive,) = glob.glob(os.path.join(_cds(root), "*.jsa"))
    good = root / "good.jsa"
    shutil.move(archive, good)
    try:
        with open(good, "rb") as src, open(archive, "wb") as dst:
            dst.write(src.read(os.path.getsize(good) // 3))
        cwd = root / "damaged"
        cwd.mkdir()
        out = subprocess.run(
            [sys.executable, "-c", _PROBE, REPO, str(root / "wh")],
            cwd=cwd, env=_env(root), capture_output=True, text=True, timeout=300, check=True)
        assert "rows 1" in out.stdout
        assert not os.path.exists(archive)
        assert out.stderr.count(FALLBACK) == 1
        assert glob.glob(str(cwd / "hs_err_pid*.log")) == []
        assert glob.glob(os.path.join(_cds(root), "hs_err_pid*.log"))
    finally:
        if os.path.exists(archive):
            os.unlink(archive)
        shutil.move(good, archive)


def test_real_conf_dir_launches_plainly_and_is_read(tmp_path):
    """A conf dir Spark reads from cannot be swapped for the archive's empty
    one: the session launches without the archive, reads the conf, warns once
    with the reason, and leaves SPARK_CONF_DIR as the caller set it."""
    env = _env(tmp_path)
    conf = env["SPARK_CONF_DIR"]
    with open(os.path.join(conf, "spark-defaults.conf"), "w", encoding="utf-8") as f:
        f.write("spark.bee.marker  from-conf-dir\n")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, REPO, str(tmp_path / "wh")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300, check=True)
    lines = dict(line.split(" ", 1) for line in out.stdout.splitlines() if " " in line)
    assert lines["rows"] == "1"
    assert lines["marker"] == "from-conf-dir"
    assert "Archive" not in lines.get("java_opts", "")
    assert lines["conf_dir"] == conf
    assert out.stderr.count(PLAIN) == 1
    assert "spark-defaults.conf" in out.stderr
    assert not os.path.exists(_cds(tmp_path))


def test_a_fresh_dump_lock_launches_plainly_and_a_stale_one_is_taken_over(tmp_path, monkeypatch):
    """While another process holds the key's dump lock, a launch neither
    dumps nor maps an archive. A lock two hours old is a killed run's
    leftover: the launch takes it over, dumps, publishes, and removes it."""
    import time

    from pyspark.find_spark_home import _find_spark_home

    from bee_proof_spark.session import _class_archive_path

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    archive = _class_archive_path(_find_spark_home(), "1g")
    lock = f"{archive}.lock"
    open(lock, "w").close()

    def launch(name: str) -> dict[str, str]:
        cwd = tmp_path / name
        cwd.mkdir()
        out = subprocess.run(
            [sys.executable, "-c", _PROBE, REPO, str(tmp_path / "wh")],
            cwd=cwd, env=_env(tmp_path), capture_output=True, text=True, timeout=300, check=True)
        return dict(line.split(" ", 1) for line in out.stdout.splitlines() if " " in line)

    plain = launch("fresh-lock")
    assert plain["rows"] == "1"
    assert "ArchiveClassesAtExit" not in plain.get("java_opts", "")
    assert "SharedArchiveFile" not in plain.get("java_opts", "")
    assert glob.glob(os.path.join(_cds(tmp_path), "*.tmp")) == []
    assert glob.glob(os.path.join(_cds(tmp_path), "*.jsa")) == []
    assert os.path.exists(lock)

    old = time.time() - 2 * 3600
    os.utime(lock, (old, old))
    dumped = launch("stale-lock")
    assert dumped["rows"] == "1"
    assert "ArchiveClassesAtExit" in dumped["java_opts"]
    assert glob.glob(os.path.join(_cds(tmp_path), "*.jsa")) == [archive]
    assert glob.glob(os.path.join(_cds(tmp_path), "*.tmp")) == []
    assert not os.path.exists(lock)
