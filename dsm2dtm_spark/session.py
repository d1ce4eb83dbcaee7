"""SparkSession builder with the engine's scale-oriented defaults.

Single place that encodes the execution-model decisions (SURVEY.md §4.2):
AQE on (runtime re-planning + skew-join splitting + partition coalescing),
Arrow on with small batches, capped by rows and by bytes (rows carry
multi-MB encoded image payloads — the default 10k rows/batch would
materialize GBs per Arrow batch in the Python worker, and a row cap alone
lets a task's batch grow with its share of rows), a shuffle-partition count
sized to the local core budget, and
the engine's own Python daemon (``_daemon``): reused workers skip PySpark's
per-task re-read of unchanged zip archives on ``sys.path``. The workers find
the engine, and that daemon, at the import root of this package, wherever
the driver was started.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import dsm2dtm_spark

# the docs signer's Arrow UDFs batch by this; it also bounds the signer's
# per-batch gram-position arrays (signing a docs ingest's 1,585 fresh rows
# as one batch ran about 2x faster serially, but took the ingest's peak
# worker RSS from 116 to 156 MB, 4 cores)
ARROW_BATCH_ROWS = 64
ARROW_BATCH_BYTES = 2 << 20  # encoded image bytes per python-worker batch


# Python workers allocate/free MB-scale numpy buffers constantly; with
# glibc's default mmap threshold every free munmaps, and munmap fires TLB
# shootdown IPIs that serialize ALL cores (measured: 12 → 38 Mpix/s at 32
# workers on this box). Keep large buffers on the heap instead.
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "268435456",
}

# the directory (or zip) that holds the `dsm2dtm_spark` package
_IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(dsm2dtm_spark.__file__)))


def get_spark(
    app_name: str = "dsm2dtm-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)  # local mode: python workers inherit this
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_BATCH_BYTES))
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # floor scan parallelism at the core budget (guide §6): a 126 MB
        # 6-row-group parquet otherwise becomes TWO 64 MB splits — every
        # probe/agg over it then runs on 2 of 32 cores. The floor is
        # scale-adaptive by construction: big inputs already exceed it (the
        # bytes ceiling governs), small inputs split down to row-group
        # granularity so cores stay busy. Parameterised via cores, never a
        # local-only constant.
        .config("spark.sql.files.minPartitionNum", str(2 * cores))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in _MALLOC_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)  # real clusters: per-executor
    extra_conf = dict(extra_conf or {})
    # workers inherit neither the driver's sys.path nor, off the repo root,
    # its cwd: put the engine's import root on their path before naming a
    # daemon module that lives in it
    worker_path = extra_conf.pop("spark.executorEnv.PYTHONPATH", None)
    b = b.config(
        "spark.executorEnv.PYTHONPATH",
        os.pathsep.join(p for p in (worker_path, _IMPORT_ROOT) if p),
    )
    b = b.config("spark.python.daemon.module", "dsm2dtm_spark._daemon")
    for k, v in extra_conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
