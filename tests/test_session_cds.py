"""Warm start: when ``get_spark`` launches the driver JVM with a class-data-
sharing archive, when it launches it exactly as before, and how a dumped
archive is installed.  All but the last test start no JVM."""

import mmap
import os
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from data_quality_monitoring_spark import session
from data_quality_monitoring_spark.session import (
    archive_rejected, cds_key, get_spark, install_dump, warm_start)

ROOT = Path(__file__).resolve().parent.parent
JAVA_OPTS = "spark.driver.defaultJavaOptions"


@pytest.fixture
def no_jvm(monkeypatch, tmp_path):
    """A process that has not launched a JVM yet, with its cache under
    ``tmp_path``.  ``launch(**kw)`` runs ``get_spark`` up to the launch and
    returns the confs and environment the launch would get, and the exit
    hooks it registered."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    for var in ("PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    hooks: list = []
    monkeypatch.setattr(session.atexit, "register", lambda *a: hooks.append(a))

    def launch(**kw):
        seen = {}

        def get_or_create(builder):
            seen["conf"], seen["env"] = dict(builder._options), dict(os.environ)
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

        monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
        env_before = dict(os.environ)
        get_spark(app_name="cds", cores=2, **kw)
        assert dict(os.environ) == env_before
        return seen["conf"], seen["env"], list(hooks)

    return launch


def _fake_spark_home(root: Path, conf_files=()) -> Path:
    (root / "jars").mkdir(parents=True)
    (root / "jars" / "a.jar").write_bytes(b"jar")
    (root / "conf").mkdir()
    (root / "conf" / "spark-defaults.conf.template").write_text("")
    for name in conf_files:
        (root / "conf" / name).write_text("")
    return root


def test_launch_with_cds_changes_only_java_options_and_conf_dir(no_jvm, tmp_path):
    conf, env, _ = no_jvm()
    cache = tmp_path / "xdg" / "data_quality_monitoring_spark"
    archive = warm_start({})
    assert archive.parent == cache and archive.name.startswith("cds-")
    dump = cache / f"{archive.name}.{os.getpid()}.tmp"
    assert conf.pop(JAVA_OPTS) == f'-Xlog:cds*=off "-XX:ArchiveClassesAtExit={dump}"'
    assert env.pop("SPARK_CONF_DIR") == str(cache / "conf")
    assert not any((cache / "conf").iterdir())

    # once the archive exists, the launch maps it instead of dumping one
    archive.write_bytes(b"archive")
    conf2, env2, _ = no_jvm()
    assert conf2.pop(JAVA_OPTS) == f'-Xlog:cds*=off "-XX:SharedArchiveFile={archive}"'
    assert conf2 == conf and env2 == env | {"SPARK_CONF_DIR": str(cache / "conf")}

    # the plain launch differs only by those two entries
    plain_conf, plain_env, hooks = no_jvm(extra_conf={JAVA_OPTS: "-Dx=1"})
    assert plain_conf == conf | {JAVA_OPTS: "-Dx=1"} and plain_env == env
    assert hooks == []  # the fake launch has no gateway process to wait for


@pytest.mark.parametrize(
    "case",
    ["conf_file_in_spark_home", "spark_conf_dir_nonempty", "gateway_port",
     "caller_java_options", "cache_unwritable", "gateway_running",
     "hadoop_conf_dir_nonempty", "yarn_conf_dir_nonempty", "extra_classpath_dir_nonempty"],
)
def test_skip_cases_launch_as_before(no_jvm, monkeypatch, tmp_path, case):
    extra = {"spark.ui.showConsoleProgress": "false"}
    if case == "conf_file_in_spark_home":
        monkeypatch.setenv("SPARK_HOME", str(_fake_spark_home(tmp_path / "home", ["spark.log"])))
    elif case == "spark_conf_dir_nonempty":
        (tmp_path / "conf").mkdir()
        (tmp_path / "conf" / "log4j2.properties").write_text("")
        monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "conf"))
    elif case == "gateway_port":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    elif case == "caller_java_options":
        extra[JAVA_OPTS] = "-Dcaller=1"
    elif case == "cache_unwritable":
        (tmp_path / "file").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    elif case == "gateway_running":
        monkeypatch.setattr(SparkContext, "_gateway", object())
    else:  # a directory on the driver classpath holding one file
        (tmp_path / "cp").mkdir()
        (tmp_path / "cp" / "core-site.xml").write_text("")
        if case == "extra_classpath_dir_nonempty":
            extra["spark.driver.extraClassPath"] = str(tmp_path / "cp")
        else:
            monkeypatch.setenv(case.split("_")[0].upper() + "_CONF_DIR", str(tmp_path / "cp"))

    env = dict(os.environ)
    conf, launch_env, hooks = no_jvm(extra_conf=extra)
    assert warm_start(extra) is None
    assert conf.get(JAVA_OPTS) == extra.get(JAVA_OPTS)
    assert launch_env == env
    assert hooks == []
    assert not (tmp_path / "xdg").exists()  # nothing written to the cache


def test_key_tracks_jars_and_java(tmp_path):
    home = _fake_spark_home(tmp_path / "home")
    jdk = tmp_path / "jdk"
    for rel in ("bin/java", "lib/server/libjvm.so", "lib/server/classes.jsa"):
        (jdk / rel).parent.mkdir(parents=True, exist_ok=True)
        (jdk / rel).write_bytes(b"jdk")
    other_java = tmp_path / "java"
    other_java.write_bytes(b"jdk")
    java, args = str(jdk / "bin" / "java"), (str(home), str(home / "conf"), "")
    key = cds_key(java, *args)
    assert cds_key(java, *args) == key
    assert cds_key(str(other_java), *args) != key
    assert cds_key(java, str(home), str(home / "conf"), "/x.jar") != key
    # a new jar, JVM build or base archive each move the key
    for path in (home / "jars" / "a.jar", jdk / "lib/server/libjvm.so",
                 jdk / "lib/server/classes.jsa"):
        st = path.stat()
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        assert cds_key(java, *args) != key
        key = cds_key(java, *args)


def test_archive_rejected_unless_the_jvm_maps_it(tmp_path):
    archive = tmp_path / "cds-k.jsa"
    archive.write_bytes(b"\0" * 4096)
    assert archive_rejected(os.getpid(), archive)
    with open(archive, "rb") as f, mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ):
        assert not archive_rejected(os.getpid(), archive)
    gone = subprocess.Popen(["true"])
    gone.wait()
    assert not archive_rejected(gone.pid, archive)  # no maps to read: cannot tell


def test_launch_removes_stale_dumps_and_other_keys(no_jvm, tmp_path):
    cache = tmp_path / "xdg" / "data_quality_monitoring_spark"
    cache.mkdir(parents=True)
    dead = subprocess.Popen(["true"])
    dead.wait()
    live = subprocess.Popen(["sleep", "30"])
    try:
        other = cache / "cds-0000000000000000.jsa"
        other.write_bytes(b"old")
        dead_tmp = cache / f"cds-1111111111111111.jsa.{dead.pid}.tmp"
        live_tmp = cache / f"cds-1111111111111111.jsa.{live.pid}.tmp"
        dead_tmp.write_bytes(b"partial")
        live_tmp.write_bytes(b"partial")
        no_jvm()
        assert not other.exists() and not dead_tmp.exists() and live_tmp.exists()
    finally:
        live.kill()
        live.wait()


def _jvm_stand_in(code: str) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE)


@pytest.mark.parametrize(
    "code, timeout, installed",
    [
        ("import sys; sys.stdin.read()", 30, True),  # exits 0 on EOF, like the gateway
        ("import sys; sys.stdin.read(); sys.exit(1)", 30, False),
        ("import time; time.sleep(30)", 1, False),  # outlives the wait: killed
    ],
)
def test_dump_installed_only_after_clean_exit(tmp_path, code, timeout, installed):
    dump, archive = tmp_path / "cds-k.jsa.1.tmp", tmp_path / "cds-k.jsa"
    dump.write_bytes(b"dumped")
    proc = _jvm_stand_in(code)
    install_dump(proc, dump, archive, timeout=timeout)
    assert proc.returncode is not None
    assert not dump.exists()
    assert archive.exists() == installed


def test_dump_of_killed_jvm_is_deleted(tmp_path):
    """As after perfbench's ``stop_jvm`` killed a JVM that would not exit."""
    dump, archive = tmp_path / "cds-k.jsa.1.tmp", tmp_path / "cds-k.jsa"
    dump.write_bytes(b"partial")
    proc = _jvm_stand_in("import sys; sys.stdin.read()")
    proc.kill()
    proc.wait()
    install_dump(proc, dump, archive)
    assert not dump.exists() and not archive.exists()


SESSION = """
from pyspark.sql.functions import sum as sum_, udf
from data_quality_monitoring_spark.session import get_spark
spark = get_spark(app_name="cds_probe", cores=1,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
"""
JVM_QUERY = SESSION + 'print(spark.range(1, 1001).select(sum_("id")).collect()[0][0])'
# a Python UDF, so the JVM also holds a connection to the accumulator server
UDF_QUERY = SESSION + (
    'plus_one = udf(lambda x: x + 1, "long")\n'
    'print(spark.range(1000).select(sum_(plus_one("id"))).collect()[0][0])'
)


@pytest.mark.slow
def test_archive_dumped_then_used_then_garbage_tolerated(tmp_path):
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET", "SPARK_CONF_DIR")}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])))

    def start(query: str, xdg: Path) -> subprocess.Popen:
        return subprocess.Popen([sys.executable, "-c", query],
                                env={**env, "XDG_CACHE_HOME": str(xdg)}, cwd=tmp_path,
                                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)

    def finish(proc: subprocess.Popen) -> str:
        out, err = proc.communicate(timeout=240)
        assert proc.returncode == 0, err[-3000:]
        assert "Traceback" not in err, err[-3000:]
        return out

    xdg = tmp_path / "xdg cache"  # the archive options quote the path
    cache = xdg / "data_quality_monitoring_spark"
    assert finish(start(UDF_QUERY, xdg)) == "500500\n"  # stdout: the one line
    archives = sorted(cache.glob("cds-*.jsa"))
    assert len(archives) == 1 and archives[0].stat().st_size > 0
    assert not list(cache.glob("*.tmp"))

    # side by side: a session that maps the archive, and one whose cache
    # holds garbage bytes under the same name, which it deletes
    garbage = tmp_path / "xdg2" / "data_quality_monitoring_spark" / archives[0].name
    garbage.parent.mkdir(parents=True)
    garbage.write_bytes(b"\0garbage" * 1000)
    procs = [start(JVM_QUERY, xdg), start(JVM_QUERY, tmp_path / "xdg2")]
    assert [finish(p) for p in procs] == ["500500\n"] * 2
    assert sorted(cache.glob("cds-*.jsa")) == archives
    assert not garbage.exists()
