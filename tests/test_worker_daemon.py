"""The engine's Python worker daemon (cbde_mapreduce_spark/worker_daemon.py).

PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
task; the daemon keeps that from re-reading an unchanged zip archive. These
tests pin the saving on the shared session, the import semantics it must
keep (a rewritten archive IS re-read), and that the daemon module imports
in the workers of a session started from anywhere — if it did not, every
Python UDF would fail.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from cbde_mapreduce_spark.worker_daemon import invalidate_if_changed

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_skip_unchanged_archives(spark):
    """Each task counts the archive reads of one more invalidation: none."""
    import pyarrow as pa

    def count_rereads(batches):
        import importlib
        import zipimport

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)]})

    rows = spark.range(0, 4, 1, 4).mapInArrow(count_rereads, "reads long").collect()
    assert [r.reads for r in rows] == [0, 0, 0, 0]


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    """Unchanged archive: no read. New mtime and size: read, new module seen."""
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "A = 1\n")
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    importer = zipimport.zipimporter(str(archive))
    invalidate_if_changed(importer)  # first call stamps the importer
    invalidate_if_changed(importer)
    assert len(reads) == 2  # construction + the stamping read
    assert importer.find_spec("b") is None

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("b.py", "B = 2\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    invalidate_if_changed(importer)
    assert len(reads) == 3
    assert importer.find_spec("b") is not None


def test_workers_import_daemon_from_any_cwd(tmp_path):
    """A session started outside the repo with no PYTHONPATH runs a pandas_udf."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from cbde_mapreduce_spark.session import get_spark

        spark = get_spark(app_name="daemon-import-check")

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        rows = spark.range(0, 4, 1, 2).select(plus_one("id").alias("x")).collect()
        spark.stop()
        assert sorted(r.x for r in rows) == [1, 2, 3, 4], rows
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
