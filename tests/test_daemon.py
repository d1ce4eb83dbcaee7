"""The engine's PySpark daemon (``dsm2dtm_spark._daemon``): a reused worker
re-reads a zip archive's directory only when the archive changed, archives
shipped or rewritten mid-session still import, and workers find the engine
wherever the driver was started."""

from __future__ import annotations

import os
import subprocess
import sys
import time
import uuid
import zipfile

from dsm2dtm_spark import _daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(spark, fn, n=4):
    return spark.sparkContext.parallelize(range(n), n).mapPartitions(fn).collect()


def _write_zip(path, module, source):
    # stored, fixed timestamp: two archives whose names and sources have the
    # same lengths have the same size
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        z.writestr(zipfile.ZipInfo(f"{module}.py", date_time=(2020, 1, 1, 0, 0, 0)), source)


def _importer(module):
    # built inside a function so the workers get it by value (this test
    # module is not importable on the Python workers)
    def task(_):
        import importlib
        import os

        yield os.getpid(), module and importlib.import_module(module).VALUE

    return task


def _settle(spark):
    """Wait until every archive shipped to the workers is older than the
    daemon's settle window, so their reads are keyed."""
    from pyspark import SparkFiles

    root = SparkFiles.getRootDirectory()
    newest = max((os.stat(os.path.join(root, n)).st_ctime_ns for n in os.listdir(root)), default=0)
    time.sleep(max(0.0, (_daemon._SETTLE_NS - (time.time_ns() - newest)) / 1e9) + 0.5)


def test_second_task_on_a_worker_reads_no_zip_directory(spark):
    _settle(spark)  # archives shipped by earlier tests included

    def task(_):
        import os
        import zipimport

        # armed by this worker's previous task: report the archive
        # directories read since, i.e. by this task's set-up
        reads = getattr(zipimport, "_probe_reads", None)
        if reads is None:
            stock = zipimport._read_directory

            def recording(path):
                zipimport._probe_reads.append(path)
                return stock(path)

            zipimport._probe_reads, zipimport._probe_stock = [], stock
            zipimport._read_directory = recording
            yield os.getpid(), None
        else:
            zipimport._read_directory = zipimport._probe_stock
            del zipimport._probe_reads, zipimport._probe_stock
            yield os.getpid(), reads

    reports = [r for _ in range(6) for r in _run(spark, task)]
    second = [reads for _, reads in reports if reads is not None]
    assert second, reports  # some worker ran a second task
    assert second == [[]] * len(second), reports


def test_module_shipped_after_warm_workers_imports(spark, tmp_path):
    warm = {pid for pid, _ in _run(spark, _importer(None))}
    module = f"shipped_{uuid.uuid4().hex[:8]}"
    path = tmp_path / f"{module}.zip"
    _write_zip(path, module, "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))
    got = _run(spark, _importer(module))
    assert [v for _, v in got] == [42] * 4
    assert warm & {pid for pid, _ in got}  # reused workers, not fresh ones


def test_archive_rewritten_with_same_size_and_mtime_is_reread(spark, tmp_path):
    from pyspark import SparkFiles

    tag = uuid.uuid4().hex[:8]
    first, second = f"pa_{tag}", f"pb_{tag}"
    name = f"rewritten_{tag}.zip"
    _write_zip(tmp_path / name, first, "VALUE = 1\n")
    spark.sparkContext.addPyFile(str(tmp_path / name))
    shipped = os.path.join(SparkFiles.getRootDirectory(), name)  # local mode: the workers' copy
    _settle(spark)

    warm = set()
    for _ in range(4):
        got = _run(spark, _importer(first))
        assert [v for _, v in got] == [1] * 4
        warm |= {pid for pid, _ in got}

    _write_zip(tmp_path / "next.zip", second, "VALUE = 2\n")
    data = (tmp_path / "next.zip").read_bytes()
    before = os.stat(shipped)
    assert len(data) == before.st_size
    with open(shipped, "r+b") as f:  # in place: same inode
        f.write(data)
    os.utime(shipped, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(shipped)
    assert (after.st_ino, after.st_size, after.st_mtime_ns) == (
        before.st_ino,
        before.st_size,
        before.st_mtime_ns,
    )

    got = _run(spark, _importer(second))
    assert [v for _, v in got] == [2] * 4
    assert warm & {pid for pid, _ in got}


def test_workers_import_the_engine_from_a_foreign_cwd(tmp_path):
    script = f"""
import sys
sys.path.insert(0, {ROOT!r})
from dsm2dtm_spark import util
from dsm2dtm_spark.session import get_spark

spark = get_spark("foreign-cwd", cores=2, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
print("lambda", spark.sparkContext.parallelize([1, 2], 2).map(lambda x: x + 1).collect())
df = util.map_rows(spark.range(3), lambda r: {{"y": r.id * 2}}, "y long")
print("map_rows", sorted(r.y for r in df.collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "lambda [2, 3]" in proc.stdout
    assert "map_rows [0, 2, 4]" in proc.stdout
