"""The driver JVM's class-data-sharing archive (cbde_mapreduce_spark/session.py).

Spark-free checks of the option builder against a fake ``SPARK_HOME``: which
flag a launch gets with no archive, a published one, a stale, truncated or
copied one, a dump still running or one that failed, and a conf dir Spark
reads;
plus one subprocess session that starts and runs a query with garbage at the
published archive path, which the JVM must reject and fall back from.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
import threading

import pytest

from cbde_mapreduce_spark import session as S

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def spark_home(tmp_path, monkeypatch):
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return home


@pytest.fixture
def cds(tmp_path):
    path = tmp_path / "cds"
    path.mkdir()
    return path


def dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    return proc.pid


def finished_dump(cds, key: str, pid: int, head: bytes = S._CDS_MAGIC) -> str:
    """A claim by ``pid`` and its dump file, whole when ``head`` is the magic."""
    (cds / f"{key}.claim").write_text(f"{pid}\n")
    tmp = cds / f"{key}.{pid}.tmp"
    tmp.write_bytes(head + b"\xff" * 4092)
    return str(tmp)


def test_no_archive_claims_a_per_pid_dump(spark_home, tmp_path):
    cds = tmp_path / "fresh" / "cds"
    key = S._cds_key(str(spark_home), str(cds))
    flag, claim = S._cds_flag(str(cds))
    assert f"-XX:ArchiveClassesAtExit={cds}/{key}.{os.getpid()}.tmp" in flag.split()
    assert "SharedArchiveFile" not in flag
    assert claim == f"{cds}/{key}.claim"
    # the claim's writer is alive: a second session neither dumps nor maps
    assert S._cds_flag(str(cds)) == (None, None)


def concurrent_flags(cds, n: int = 8) -> list[str | None]:
    """The flags ``n`` launches get when they ask at the same moment."""
    barrier = threading.Barrier(n)
    flags = []

    def launch():
        barrier.wait(timeout=10)
        flags.append(S._cds_flag(str(cds))[0])

    threads = [threading.Thread(target=launch) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    assert len(flags) == n
    return flags


def test_one_of_many_concurrent_sessions_claims_the_dump(spark_home, cds):
    flags = concurrent_flags(cds)
    assert sum(f is not None and "ArchiveClassesAtExit" in f for f in flags) == 1
    assert flags.count(None) == 7


def test_published_archive_is_appended_to_callers_java_options(
    spark_home, cds, monkeypatch
):
    key = S._cds_key(str(spark_home), str(cds))
    finished_dump(cds, key, dead_pid())
    (cds / "0123456789abcdef.4096.jsa").write_bytes(b"another key's archive")
    (cds / f"{key}.1.tmp").write_bytes(b"an abandoned dump")
    monkeypatch.setenv("SPARK_CONF_DIR", str(spark_home / "conf"))
    conf = {S._JAVA_OPTS: "-Dcaller=1 -Xss4m", "spark.app.name": "x"}
    with S._cds_launch(conf, str(cds)) as launch:
        opts = launch[S._JAVA_OPTS].split()
        assert os.environ["SPARK_CONF_DIR"] == f"{cds}/conf"
    assert os.environ["SPARK_CONF_DIR"] == str(spark_home / "conf")
    assert opts[:2] == ["-Dcaller=1", "-Xss4m"]
    assert opts[-1] == f"-XX:SharedArchiveFile={cds}/{key}.4096.jsa"
    assert launch["spark.app.name"] == "x"
    assert conf[S._JAVA_OPTS] == "-Dcaller=1 -Xss4m"
    # published once: no temp file is left, and the other key's archive is gone
    assert set(os.listdir(cds)) == {f"{key}.4096.jsa", f"{key}.claim", "conf"}


def test_concurrent_publishers_map_one_archive(spark_home, cds):
    key = S._cds_key(str(spark_home), str(cds))
    finished_dump(cds, key, dead_pid())
    flags = concurrent_flags(cds)
    assert set(flags) == {f"{S._CDS_LOG} -XX:SharedArchiveFile={cds}/{key}.4096.jsa"}
    assert set(os.listdir(cds)) == {f"{key}.4096.jsa", f"{key}.claim"}


def test_dump_without_magic_is_dropped_and_not_retried(spark_home, cds):
    key = S._cds_key(str(spark_home), str(cds))
    tmp = finished_dump(cds, key, dead_pid(), head=b"\0\0\0\0")
    assert S._cds_flag(str(cds)) == (None, None)
    assert not os.path.exists(tmp)
    assert S._cds_flag(str(cds)) == (None, None)  # the failed claim stays
    assert os.path.exists(cds / f"{key}.claim")


def test_dump_of_a_live_writer_is_not_published(spark_home, cds):
    key = S._cds_key(str(spark_home), str(cds))
    tmp = finished_dump(cds, key, dead_pid())
    with open(cds / f"{key}.claim", "a") as f:  # the JVM still writes it
        f.write(f"{os.getpid()}\n")
    assert S._cds_flag(str(cds)) == (None, None)
    assert os.path.exists(tmp)
    assert not any(name.endswith(".jsa") for name in os.listdir(cds))


def test_truncated_archive_is_not_mapped(spark_home, cds):
    # JDK 17 maps a truncated archive and dies of SIGBUS
    key = S._cds_key(str(spark_home), str(cds))
    (cds / f"{key}.4096.jsa").write_bytes(S._CDS_MAGIC + b"\xff" * 1000)
    (cds / f"{key}.claim").write_text(f"{dead_pid()}\n")
    assert S._cds_flag(str(cds)) == (None, None)


def test_conf_dir_spark_reads_gets_no_archive(spark_home, cds):
    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
    conf = {S._JAVA_OPTS: "-Dcaller=1"}
    with S._cds_launch(conf, str(cds)) as launch:
        assert launch == conf
        assert "SPARK_CONF_DIR" not in os.environ
    assert "SPARK_CONF_DIR" not in os.environ
    assert os.listdir(cds) == []


def test_unwritable_archive_dir_gets_no_archive(spark_home, tmp_path):
    (tmp_path / "file").write_text("not a directory")
    conf = {S._JAVA_OPTS: "-Dcaller=1"}
    with S._cds_launch(conf, str(tmp_path / "file" / "cds")) as launch:
        assert launch == conf
        assert "SPARK_CONF_DIR" not in os.environ


def test_new_jar_changes_the_key(spark_home, cds):
    key = S._cds_key(str(spark_home), str(cds))
    (cds / f"{key}.4096.jsa").write_bytes(b"\xff" * 4096)
    (spark_home / "jars" / "extra.jar").write_bytes(b"jar")
    stale = S._cds_key(str(spark_home), str(cds))
    assert stale != key
    flag, _ = S._cds_flag(str(cds))
    assert "SharedArchiveFile" not in flag
    assert f"{stale}.{os.getpid()}.tmp" in flag


def test_copied_cds_dir_dumps_its_own_archive(spark_home, cds, tmp_path):
    """The driver classpath starts with ``<cds dir>/conf/``, so an archive
    dumped in one checkout is rejected by the JVM in a copy of it: the copy
    must get its own key, and dump rather than map the copied archive."""
    key = S._cds_key(str(spark_home), str(cds))
    finished_dump(cds, key, dead_pid())
    assert "SharedArchiveFile" in S._cds_flag(str(cds))[0]
    copy = tmp_path / "copy" / "cds"
    shutil.copytree(cds, copy)
    copy_key = S._cds_key(str(spark_home), str(copy))
    assert copy_key != key
    flag, claim = S._cds_flag(str(copy))
    assert "SharedArchiveFile" not in flag
    assert f"-XX:ArchiveClassesAtExit={copy}/{copy_key}.{os.getpid()}.tmp" in flag
    assert claim == f"{copy}/{copy_key}.claim"


def test_session_starts_with_garbage_at_the_archive_path(tmp_path):
    """The JVM rejects a garbage archive and starts without one."""
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.find_spark_home import _find_spark_home
        from cbde_mapreduce_spark import session as S

        S._CDS_DIR = {str(tmp_path / "cds")!r}
        os.makedirs(S._CDS_DIR)
        key = S._cds_key(os.environ.get("SPARK_HOME") or _find_spark_home(), S._CDS_DIR)
        with open(os.path.join(S._CDS_DIR, f"{{key}}.65536.jsa"), "wb") as f:
            f.write(S._CDS_MAGIC + b"\\xff" * 65532)
        spark = S.get_spark(app_name="cds-garbage-check")
        opts = spark.sparkContext.getConf().get(S._JAVA_OPTS)
        assert "-XX:SharedArchiveFile=" in opts, opts
        n = spark.range(0, 100, 1, 2).selectExpr("sum(id) AS s").collect()[0].s
        spark.stop()
        assert n == 4950, n
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
