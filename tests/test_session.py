"""The session config (``session.base_confs``) and the driver JVM's
class-data archive (``session.get_spark``).

JVM cases start a fresh Python process whose cache is a temporary
directory, so the user's real archive is never read or written; the
other cases check ``base_confs()`` in this process with the archive
state isolated."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

from dirty_js_etl_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one small query on a fresh session; the result goes to stdout on one
# RESULT line so the rest of stdout can be checked for CDS log lines
START = """
import json, sys
from dirty_js_etl_spark import session
spark = session.get_spark("cds-test", master="local[1]")
print("RESULT " + json.dumps({
    "state": session.class_archive,
    "sum": spark.range(10).selectExpr("sum(id) AS s").collect()[0].s,
}))
"""

# a dump whose JVM is killed, then a second JVM in the same process
KILLED = """
import json
from pyspark import SparkContext
from dirty_js_etl_spark import session
first = session.get_spark("cds-test", master="local[1]")
state = session.class_archive
gateway = SparkContext._gateway
first.stop()
gateway.shutdown()
gateway.proc.kill()
SparkContext._gateway = SparkContext._jvm = None
spark = session.get_spark("cds-test", master="local[1]")
print("RESULT " + json.dumps({
    "first": state,
    "state": session.class_archive,
    "sum": spark.range(10).selectExpr("sum(id) AS s").collect()[0].s,
}))
"""


def _run(cache: str, code: str = START, extra_conf: str = "") -> tuple[dict, str]:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env.update(XDG_CACHE_HOME=cache, SPARK_GRAFT_CPUS="1", PYTHONPATH=ROOT,
               SPARK_GRAFT_EXTRA_CONF=f"spark.driver.memory=1g;{extra_conf}")
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=ROOT, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, timeout=600, check=True,
    ).stdout
    line = next(x for x in out.splitlines() if x.startswith("RESULT "))
    return json.loads(line[len("RESULT "):]), out


def _files(cache: str) -> list[str]:
    return sorted(os.path.basename(f)
                  for f in glob.glob(os.path.join(cache, "spark-graft", "cds", "*.*")))


@pytest.fixture
def isolated(monkeypatch, tmp_path):
    """This process's archive state and environment, restored after."""
    monkeypatch.setattr(session, "_dump", {})
    monkeypatch.setattr(session, "class_archive", session.class_archive)
    monkeypatch.setattr(session.atexit, "register", lambda f: f)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    return tmp_path


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A first run on an empty cache, next to a stale archive of another
    key and the tmp file of a dump whose process died."""
    cache = str(tmp_path_factory.mktemp("cds"))
    cds = os.path.join(cache, "spark-graft", "cds")
    os.makedirs(cds)
    for stale in ("0123456789abcdef.jsa", "0123456789abcdef.jsa.999999999.tmp"):
        with open(os.path.join(cds, stale), "w") as fh:
            fh.write("stale")
    result, out = _run(cache)
    return cache, result, out


def test_first_run_dumps_one_archive_and_cleans_up(dumped):
    cache, result, _ = dumped
    assert result == {"state": "dumping", "sum": 45}
    files = _files(cache)
    assert len(files) == 1 and files[0].endswith(".jsa"), files
    assert files[0] != "0123456789abcdef.jsa"


def test_second_run_maps_the_archive(dumped, tmp_path):
    cache, _, _ = dumped
    log = tmp_path / "class-load.txt"
    # perfbench's spelling: its own driver options must not drop the archive
    result, _ = _run(cache, extra_conf=(
        f"spark.driver.extraJavaOptions=-Xlog:class+load:file={log}"))
    assert result == {"state": "mapped", "sum": 45}
    assert any("org.apache.spark" in line and "shared objects file (top)" in line
               for line in log.read_text().splitlines())


def test_dump_and_fallback_keep_stdout_clean(dumped, isolated):
    _, _, dump_out = dumped
    opts = session.base_confs()["spark.driver.defaultJavaOptions"]
    final = session._dump["final"]
    assert "-XX:ArchiveClassesAtExit=" in opts
    with open(final, "wb") as fh:
        fh.write(b"not a class-data archive" * 100)
    # a garbage archive: the JVM falls back to plain class loading, and
    # the file goes so that the next start dumps a new one
    result, fallback_out = _run(str(isolated))
    assert result == {"state": "off: archive rejected", "sum": 45}
    assert _files(str(isolated)) == []
    for out in (dump_out, fallback_out):
        assert "[cds" not in out, out


def test_killed_dump_leaves_no_file_and_is_not_retried(tmp_path):
    result, _ = _run(str(tmp_path), code=KILLED)
    assert result == {"first": "dumping",
                      "state": "off: this process's dump failed", "sum": 45}
    assert _files(str(tmp_path)) == []


def test_config_does_not_depend_on_the_core_count(isolated, monkeypatch):
    confs = []
    for cpus in ("1", "4", "32"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
        confs.append(session.base_confs())
    assert confs[0] == confs[1] == confs[2]
    assert confs[0]["spark.sql.shuffle.partitions"] == str(session.SHUFFLE_PARTITIONS)


def test_extra_java_options_keep_the_archive_flags(isolated, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF",
                       "spark.driver.extraJavaOptions=-Dx=1")
    confs = session.base_confs()
    assert confs["spark.driver.extraJavaOptions"] == "-Dx=1"
    assert "-XX:ArchiveClassesAtExit=" in confs["spark.driver.defaultJavaOptions"]
    assert session.class_archive == "dumping"
    assert os.environ["SPARK_CONF_DIR"].startswith(str(isolated))


def test_opt_out_through_the_extra_conf_hook(isolated, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "spark.driver.defaultJavaOptions=")
    assert session.base_confs()["spark.driver.defaultJavaOptions"] == ""
    assert session.class_archive.startswith("off:")


def test_user_conf_dir_with_files_is_left_alone(isolated, monkeypatch):
    conf = isolated / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    confs = session.base_confs()
    assert "spark.driver.defaultJavaOptions" not in confs
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert session.class_archive.startswith("off: SPARK_CONF_DIR")


def test_unwritable_cache_means_a_plain_start(isolated, monkeypatch):
    blocker = isolated / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    confs = session.base_confs()
    assert "spark.driver.defaultJavaOptions" not in confs
    assert session.class_archive.startswith("off:")
    assert "SPARK_CONF_DIR" not in os.environ
