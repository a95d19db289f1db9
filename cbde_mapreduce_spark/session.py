"""SparkSession factory with scale-oriented defaults.

100 TB posture (SURVEY.md §4): AQE on (runtime re-planning, skew-join
mitigation, post-shuffle partition coalescing), Arrow transfers for any
pandas interchange, UTC session timezone so event-time arithmetic is
deterministic across environments. The master defaults to ``local[32]`` and
shuffle partitions to 32 on any box (``SPARK_GRAFT_CPUS`` defaults to 32, and
partitions to that count capped at 32); perfbench sets ``SPARK_GRAFT_CPUS`` to
the cores it may use. On a real cluster partitions are set via
``SPARK_SHUFFLE_PARTITIONS`` (rule of thumb: 2-3x total executor cores, and
AQE coalesces the excess).

Python workers fork from ``worker_daemon`` (``spark.python.daemon.module``),
so a task no longer re-reads ``pyspark.zip`` and the ``spark-core`` jar on
Python 3.10-3.12. On a cluster the package must be installed in the executor
Python environment: ``--py-files`` archives join ``sys.path`` per task, after
the daemon has started.

The driver JVM maps its classes from a dynamic class-data-sharing archive
(JDK 17 AppCDS, JEP 350) under the package root's ``.scratch/cds/``, keyed by
the JDK build, the Spark jar list and the checkout's path (a copied checkout
dumps its own); that about halves session start. The
first session to find no archive for its key dumps one when its JVM exits:
it starts 4-8 s slower, and its JVM spends about 13 s at exit writing the
140-175 MB file; a later session publishes the file once the dump finished.
A dump that fails is not retried: delete ``.scratch/cds/`` to rebuild. When
the Spark conf directory holds any file other than ``*.template`` (CDS will
not dump with a non-empty directory on the classpath) no archive is used.
The archive covers the driver JVM only, not the launcher JVM nor Python.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import sys
from collections.abc import Iterator

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: Confs the table loaders REQUIRE and therefore force onto any session,
#: including an externally-created one (e.g. the verification driver's).
REQUIRED_CONF: dict[str, str] = {
    # The events fixture stores TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects outright; read as epoch-nanos long and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics for epoch<->timestamp conversions.
    "spark.sql.session.timeZone": "UTC",
}

#: Scale-posture defaults, applied only when WE build the session (never
#: re-applied afterwards, so callers may override per run).
DEFAULT_CONF: dict[str, str] = {
    # Runtime re-planning: coalesce small post-shuffle partitions, split skewed
    # join partitions. Free wins at every real scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python workers fork from the engine daemon (worker_daemon.py), which
    # stops every task re-reading the zip archives on the workers' sys.path.
    "spark.python.daemon.module": "cbde_mapreduce_spark.worker_daemon",
}

#: The package's parent directory; Python workers import the daemon from it.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Everything we want on a fresh session.
RUNTIME_CONF: dict[str, str] = {**REQUIRED_CONF, **DEFAULT_CONF}

#: Class-data-sharing archives of the driver JVM, their dump claims, and the
#: empty Spark conf directory the JVM launches with.
_CDS_DIR = os.path.join(_PKG_ROOT, ".scratch", "cds")
#: A JDK 17 dynamic archive's first bytes; the dump writes its header last.
_CDS_MAGIC = 0xF00BABA8.to_bytes(4, sys.byteorder)
_JAVA_OPTS = "spark.driver.extraJavaOptions"
#: CDS warnings (hundreds of "Skipping ...: Signed JAR" lines per dump) go
#: to stderr: the JVM shares its stdout with the Python process.
_CDS_LOG = "-Xlog:cds*=off -Xlog:cds*=warning:stderr"


def _cds_key(spark_home: str, cds_dir: str) -> str | None:
    """Hash of the JDK build, the launcher's jar list and the archive
    directory's real path, or None when the JDK or a jar is missing. The JVM
    validates an archive against its classpath, which starts with
    ``<cds_dir>/conf/``, and falls back to no archive on a mismatch; the key
    keeps a stale one (another JDK or Spark, a copied or moved checkout)
    from being used and makes such a checkout dump its own."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        return None
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    digest = hashlib.sha256(f"{os.path.realpath(cds_dir)}\n".encode())
    try:
        for path in [java, os.path.join(jdk, "lib", "server", "libjvm.so"), *jars]:
            st = os.stat(path)
            digest.update(f"{path} {st.st_size} {st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    return digest.hexdigest()[:16]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _published(cds_dir: str, key: str) -> str | None:
    """The key's published archive, when whole. Its name records its size:
    JDK 17 maps a truncated archive and dies of SIGBUS instead of falling back."""
    for path in glob.glob(os.path.join(cds_dir, f"{key}.*.jsa")):
        size = path.rsplit(".", 2)[1]
        if size.isdigit() and os.path.getsize(path) == int(size):
            return path
    return None


def _publish(cds_dir: str, key: str) -> str | None:
    """Publish the key's dump once every pid in its claim has exited and the
    dump is whole, and delete every other file but the claim. A dump that
    ended without its header is deleted and its claim kept, so no later
    session retries it."""
    try:
        with open(os.path.join(cds_dir, f"{key}.claim")) as f:
            pids = [int(p) for p in f.read().split()]
    except (OSError, ValueError):
        return None
    if not pids or any(map(_alive, pids)):
        return None
    tmp = os.path.join(cds_dir, f"{key}.{pids[0]}.tmp")
    try:
        with open(tmp, "rb") as f:
            whole = f.read(4) == _CDS_MAGIC
        if not whole:
            os.remove(tmp)
            return None
        archive = os.path.join(cds_dir, f"{key}.{os.path.getsize(tmp)}.jsa")
        os.replace(tmp, archive)
    except FileNotFoundError:  # no dump, or a concurrent session published it
        return _published(cds_dir, key)
    keep = {os.path.basename(archive), f"{key}.claim"}
    for name in os.listdir(cds_dir):
        path = os.path.join(cds_dir, name)
        if name not in keep and os.path.isfile(path):
            os.remove(path)
    return archive


def _cds_flag(cds_dir: str) -> tuple[str | None, str | None]:
    """The class-data-sharing flag for a driver JVM about to launch, and the
    claim file when this session claimed the dump: map the published archive,
    or dump to a per-pid temp file. No flag when the Spark conf dir holds
    files Spark reads, while another session dumps, and after a failed dump."""
    spark_home = os.environ.get("SPARK_HOME") or _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and not all(
        name.endswith(".template") for name in os.listdir(conf_dir)
    ):
        return None, None
    key = _cds_key(spark_home, cds_dir)
    if key is None:
        return None, None
    archive = _published(cds_dir, key) or _publish(cds_dir, key)
    if archive:
        return f"{_CDS_LOG} -XX:SharedArchiveFile={archive}", None
    os.makedirs(cds_dir, exist_ok=True)
    claim = os.path.join(cds_dir, f"{key}.claim")
    try:
        fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return None, None
    with os.fdopen(fd, "w") as f:
        f.write(f"{os.getpid()}\n")
    tmp = os.path.join(cds_dir, f"{key}.{os.getpid()}.tmp")
    return f"{_CDS_LOG} -XX:ArchiveClassesAtExit={tmp}", claim


@contextlib.contextmanager
def _cds_launch(conf: dict[str, str], cds_dir: str) -> Iterator[dict[str, str]]:
    """Around the driver JVM's launch: yields ``conf`` with the class-data
    sharing flag appended to the caller's driver Java options, with
    ``SPARK_CONF_DIR`` on an empty directory (CDS dumps nothing with a
    non-empty directory on the classpath) until the block ends. A claimed
    dump's claim gets the JVM's pid when the launch returns (the JVM
    outlives this process while it writes the dump), and is released when
    the launch raises."""
    try:
        flag, claim = _cds_flag(cds_dir)
        if flag:
            os.makedirs(os.path.join(cds_dir, "conf"), exist_ok=True)
    except OSError:  # a checkout we cannot write to starts without an archive
        flag = None
    if flag is None:
        yield conf
        return
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(cds_dir, "conf")
    try:
        yield {**conf, _JAVA_OPTS: " ".join(filter(None, (conf.get(_JAVA_OPTS), flag)))}
        if claim:
            with open(claim, "a") as f:
                f.write(f"{SparkContext._gateway.proc.pid}\n")
    except BaseException:
        if claim:
            os.remove(claim)
        raise
    finally:
        if conf_dir is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = conf_dir


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Force the loader-required confs onto an existing session (idempotent).

    Only REQUIRED_CONF: the loaders call this on every read, so it must not
    clobber per-run tuning of the optional confs.
    """
    for key, value in REQUIRED_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Static conf on this build — session builder path sets it instead.
            pass
    return spark


def get_spark(
    app_name: str = "cbde-mapreduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_SHUFFLE_PARTITIONS", min(32, int(cpus)))
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # ContextCleaner only reclaims broadcast variables / shuffle files /
        # RDD blocks after a DRIVER GC proves them unreachable; the default
        # 30min periodic GC is longer than most local sessions live, so a
        # many-heavy-query session ages into heap thrash (GCLocker retries)
        # before any cleanup fires. 2min keeps the shared local JVM drained;
        # on a real cluster it is a no-op cost (one driver System.gc()).
        .config("spark.cleaner.periodicGC.interval", "2min")
        # workers start in the JVM's cwd: put the daemon's package on their
        # path wherever the session starts
        .config("spark.executorEnv.PYTHONPATH", _PKG_ROOT)
    )
    conf = {**RUNTIME_CONF, **(extra_conf or {})}
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    launch_cm = _cds_launch(conf, _CDS_DIR) if launches else contextlib.nullcontext(conf)
    with launch_cm as launch:
        for key, value in launch.items():
            builder = builder.config(key, value)
        spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session whose builder confs
    # were ignored — re-apply everything runtime-settable, extra_conf last.
    for key, value in conf.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    return spark
