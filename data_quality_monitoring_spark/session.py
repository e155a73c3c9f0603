"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]`` threads; the same configs are the ones
we would set on a 1000-executor cluster (AQE, Arrow, sane shuffle
parallelism).  Nothing here is test-only: at 100 TB the important knobs are
``spark.sql.adaptive.enabled`` (runtime skew/shuffle re-planning),
``spark.sql.files.maxPartitionBytes`` (scan split sizing) and Arrow batch
size for the pandas-UDF scorers.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import subprocess
from pathlib import Path

import pyarrow as pa
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = 32
# a dump takes ~16 s after the JVM is told to exit; past this it is abandoned
DUMP_WAIT_S = 120.0


def get_spark(
    app_name: str = "dqm_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` → ``local[*]``.  On a real cluster this function is not
    used — ``spark-submit`` provides the session — so everything here is
    safe to hard-code for the sandbox.

    Warm start: when this call launches the driver JVM, the JVM maps the
    ~15k Spark classes it loads from a dynamic class-data-sharing archive
    (JDK 17, JEP 350) instead of loading and verifying them again.  The
    archive is ``${XDG_CACHE_HOME:-~/.cache}/data_quality_monitoring_spark/
    cds-<key>.jsa``; ``<key>`` hashes the ``java`` binary (path, size,
    mtime), the JDK's ``libjvm.so`` and base ``classes.jsa``, ``SPARK_HOME``,
    its ``jars/`` listing, the conf dir and ``spark.driver.extraClassPath``,
    so a new JDK or Spark gets a new archive.  The first launch without one
    writes it (~180 MB) when its JVM exits: that process starts slower and
    its exit waits ~16 s for the dump.  An archive the JVM does not map
    (corrupt, or from another JVM build) is deleted after the launch, so the
    next one writes it again.  See ``warm_start`` for when the archive is
    not used; the launch is then the plain one.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor (Spark default 1m) is the post-shuffle
        # analogue of the scan fan-out: on a corpus whose whole shuffle
        # output is a few MB it coalesces every reduce stage down to a
        # handful of tasks and serializes the post-shuffle work (measured:
        # the 16M-row simhash pair expansion 5.9 s -> 3.6 s at sf1.0 with a
        # 64k floor).  At production scale post-shuffle partitions are
        # 100s of MB, so the floor is inert there — raise it via env if a
        # deployment ever carries millions of sub-64k partitions.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    archive = warm_start(extra_conf or {})
    spark = builder.getOrCreate() if archive is None else _launch_warm(builder, archive)
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ----------------------------------------------------------------- warm start


def _cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / "data_quality_monitoring_spark"


def _dump_path(archive: Path) -> Path:
    """Where this process's JVM writes ``archive`` before it is installed."""
    return archive.with_name(f"{archive.name}.{os.getpid()}.tmp")


def cds_key(java: str, spark_home: str, conf_dir: str, extra_classpath: str) -> str:
    """Hash of everything that decides which classes the archive holds and
    whether the JVM accepts it: the ``java`` launcher, the JVM library and
    the base archive that a dynamic archive extends, ``SPARK_HOME`` and its
    jars, and the rest of the classpath.  Reads file metadata only."""

    def stat(path: str) -> list | None:
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return None
        return [st.st_size, st.st_mtime_ns]

    java = os.path.realpath(java)
    server = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server")
    jvm = [stat(os.path.join(server, name)) for name in ("libjvm.so", "classes.jsa")]
    jars_dir = os.path.join(spark_home, "jars")
    jars = (sorted([e.name, stat(e.path)] for e in os.scandir(jars_dir))
            if os.path.isdir(jars_dir) else [])
    blob = json.dumps([java, stat(java), jvm, spark_home, jars, conf_dir, extra_classpath])
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _java_binary() -> str | None:
    """The ``java`` that ``bin/spark-class`` runs."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    return java if java and os.path.isfile(java) else None


def _holds_only_templates(path: str) -> bool:
    return not os.path.isdir(path) or all(n.endswith(".template") for n in os.listdir(path))


def _nonempty_dir(path: str) -> bool:
    return os.path.isdir(path) and bool(os.listdir(path))


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def warm_start(extra_conf: dict[str, str]) -> Path | None:
    """The class-data-sharing archive for a ``get_spark`` launch with the
    caller's ``extra_conf`` (if it does not exist yet, the launch dumps it),
    or ``None`` for the plain launch.  ``None`` unless all of these hold:

    - this call launches the JVM (no gateway yet, no ``PYSPARK_GATEWAY_PORT``);
    - the caller did not set ``spark.driver.defaultJavaOptions``;
    - the effective conf dir is missing or holds only ``*.template`` files:
      JDK 17 turns CDS off when a non-empty directory is on the classpath,
      so the launch swaps in an empty conf dir, which only behaves the same
      when the real one holds no conf file;
    - no other directory on the driver classpath is non-empty
      (``spark.driver.extraClassPath``, ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``);
    - the cache dir can be created and written;
    - the ``java`` binary is found and this process has no dump in flight.

    Also removes what earlier launches left: archives under another key and
    dumps whose process is gone.
    """
    env = os.environ
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in env:
        return None
    if "spark.driver.defaultJavaOptions" in extra_conf:
        return None
    spark_home = _find_spark_home()
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    extra_cp = extra_conf.get("spark.driver.extraClassPath", "")
    classpath_dirs = [*extra_cp.split(os.pathsep), env.get("HADOOP_CONF_DIR", ""),
                      env.get("YARN_CONF_DIR", "")]
    if not _holds_only_templates(conf_dir) or any(_nonempty_dir(p) for p in classpath_dirs if p):
        return None
    java = _java_binary()
    if java is None:
        return None
    cache = _cache_dir()
    try:
        (cache / "conf").mkdir(parents=True, exist_ok=True)
    except OSError:
        return None
    if not os.access(cache, os.W_OK | os.X_OK):
        return None

    archive = cache / f"cds-{cds_key(java, spark_home, conf_dir, extra_cp)}.jsa"
    for entry in os.scandir(cache):
        if entry.name.endswith(".jsa"):
            stale = entry.name != archive.name
        elif entry.name.endswith(".tmp"):
            pid = entry.name.rsplit(".", 2)[-2]
            stale = not (pid.isdigit() and _pid_alive(int(pid)))
        else:
            continue
        if stale:
            Path(entry.path).unlink(missing_ok=True)
    if not archive.exists() and _dump_path(archive).exists():
        return None  # an earlier JVM of this process dumped it, not installed yet
    return archive


def _launch_warm(builder: SparkSession.Builder, archive: Path) -> SparkSession:
    """``getOrCreate`` with ``archive``: the JVM maps it if it exists, else
    dumps it at exit, and this process installs the dump when it exits.  The
    launch sees the empty conf dir inside the cache as ``SPARK_CONF_DIR``."""
    dump = None if archive.exists() else _dump_path(archive)
    flag = f"-XX:ArchiveClassesAtExit={dump}" if dump else f"-XX:SharedArchiveFile={archive}"
    # Spark's launcher splits the options on whitespace outside quotes
    quoted = '"' + flag.replace("\\", "\\\\").replace('"', '\\"') + '"'
    builder = builder.config("spark.driver.defaultJavaOptions", f"-Xlog:cds*=off {quoted}")
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(archive.parent / "conf")
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return spark
    if dump is not None:
        atexit.register(install_dump, proc, dump, archive)
    elif archive_rejected(proc.pid, archive):
        # corrupt, or written by another JVM build: -Xlog:cds*=off hides the
        # fallback, so drop the archive and let the next launch dump a new one
        archive.unlink(missing_ok=True)
    return spark


def archive_rejected(pid: int, archive: Path) -> bool:
    """Whether the running JVM ``pid`` was launched with ``archive`` but does
    not map it; a JVM maps the archive it accepts for its whole life.  False
    where ``/proc/<pid>/maps`` cannot be read."""
    try:
        maps = Path(f"/proc/{pid}/maps").read_text()
    except OSError:
        return False
    return os.path.realpath(archive) not in maps


def install_dump(proc: subprocess.Popen, dump: Path, archive: Path,
                 timeout: float = DUMP_WAIT_S) -> None:
    """Let the gateway JVM exit (EOF on its stdin), wait up to ``timeout``
    for its archive dump, and install the dump only if the JVM exited 0: a
    killed or failed dump must never become the archive."""
    if proc.poll() is None:
        sc = SparkContext._active_spark_context
        if sc is not None and getattr(SparkContext._gateway, "proc", None) is proc:
            # shut its accumulator server down first, or the server reports
            # the exiting JVM's closed connection as an EOFError traceback
            sc.stop()
        try:
            proc.stdin.close()
        except OSError:  # the pipe is already broken
            pass
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if proc.returncode == 0 and dump.exists():
        os.replace(dump, archive)
    else:
        dump.unlink(missing_ok=True)


def local_table(spark: SparkSession, columns: dict, schema: str | StructType) -> DataFrame:
    """A small table built on the driver (rank offsets, tier cuts, duplicate
    clusters) as a DataFrame over an Arrow table, which Spark reads as a
    ``LocalRelation`` on the JVM side.  ``createDataFrame(list)`` would
    pickle the rows into a ``PythonRDD`` instead, and every action that
    reads the table would start Python workers to unpickle them again.
    ``columns`` maps each field of ``schema``, in order, to its values (a
    list or an Arrow array)."""
    return spark.createDataFrame(pa.table(columns), schema)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of the Hadoop ``FileSystem`` its
    scheme names — the filesystem ``spark.read`` and ``write`` use — so a
    ``file://``, ``hdfs://`` or ``s3a://`` URI is found where a local
    ``pathlib`` check would see nothing."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Write ``data`` to ``path`` (overwriting) through the Hadoop
    ``FileSystem`` its scheme names, like :func:`path_exists`: a report or
    model artifact lands beside the data Spark wrote under a URI output."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    out = p.getFileSystem(spark._jsc.hadoopConfiguration()).create(p, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def read_bytes(spark: SparkSession, path: str) -> bytes:
    """The bytes at ``path``, read back through the same ``FileSystem`` as
    :func:`write_bytes`."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    src = p.getFileSystem(spark._jsc.hadoopConfiguration()).open(p)
    try:
        return bytes(src.readAllBytes())
    finally:
        src.close()
