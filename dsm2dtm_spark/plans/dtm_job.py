"""Whole-image DSM→DTM Spark job (SURVEY.md §7.1 step 4; reference lifecycle
core.py:207-251 re-expressed as one declarative plan).

One image = one UDF call: the image+caption regime (grids ≤ ~2k on a side)
processes each row's grid entirely inside the engine's one per-row Python
boundary, ``util.map_rows`` (a ``mapInPandas`` stage) — bit-exact vs the
golden single-node pipeline by construction, zero halo machinery, and
embarrassingly parallel across executors. The Arrow batch byte cap
(session.ARROW_BATCH_BYTES) bounds the encoded input a Python worker holds
at once, whatever the rows per task; Catalyst keeps scan pruning/pushdown
because everything upstream of the UDF is plain DataFrame.

``map_rows`` owns the lineage and quarantine contract: every output row
carries ``partition_id`` and ``wall_ms`` (per-row kernel time, north_rule;
aggregate with ``lineage_metrics``), and a permissive run turns a failing
row into image_id/w/h/fmt/caption + ``error`` with every computed column
NULL — never a fake ``phash``/``valid_*`` value a dedup or a coverage count
could mistake for data.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dsm2dtm_spark import codecs, golden
from dsm2dtm_spark.util import ensure_min_partitions, map_rows
from dsm2dtm_spark.params import (
    DEFAULT_RADIUS_M,
    NODATA_DEFAULT,
    PMF_INIT_THRESHOLD,
    PMF_MAX_THRESHOLD,
)

DTM_OUTPUT_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("caption", StringType()),
        StructField("phash", LongType()),
        StructField("valid_in", LongType()),
        StructField("valid_out", LongType()),
        StructField("wall_ms", DoubleType()),
        StructField("partition_id", IntegerType()),
        StructField("error", StringType()),
    ]
)


def dtm_transform(
    images: DataFrame,
    radius_m: float | None = DEFAULT_RADIUS_M,
    slope: float | None = None,
    nodata: float = NODATA_DEFAULT,
    min_parallelism: int | None = None,
    permissive: bool = False,
    init_threshold: float = PMF_INIT_THRESHOLD,
    max_threshold: float = PMF_MAX_THRESHOLD,
) -> DataFrame:
    """images(image_id, bytes, w, h, fmt, caption, xres_m, yres_m, ...) →
    DTM rows in the same codec, plus lineage/metrics columns.

    ``permissive=True``: a corrupt payload no longer kills the job — the row
    comes back with null bytes/phash/valid_in/valid_out and the exception
    recorded in ``error`` (filter ``error IS NULL`` for clean rows, route the rest to a quarantine
    sink). At 10^12 rows a poison row is a certainty, not an edge case.

    ``min_parallelism``: compute is ~10^3× heavier per byte than the scan, so
    a low-partition input (one fat parquet file) would serialize the whole job
    behind one task. When the scan yields fewer partitions, repartition up —
    the shuffle moves only encoded bytes, negligible next to the pixel math.
    Defaults to one task per core (the cluster's default parallelism): each
    task pays a fixed cost, measured at ~0.14 s on 4 cores (executor
    deserialize, Python-boundary set-up, one output file), so more tasks
    than cores buy nothing but that cost.
    """
    golden.validate_job_params(radius_m if radius_m is not None else DEFAULT_RADIUS_M, slope)
    images = ensure_min_partitions(images, min_parallelism, mult=1)

    def one(row) -> dict:
        grid = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
        dtm = golden.dsm_to_dtm(
            grid,
            (float(row.xres_m), float(row.yres_m)),
            radius_m=radius_m,
            slope=slope,
            nodata=nodata,
            init_threshold=init_threshold,
            max_threshold=max_threshold,
        )
        return {
            "image_id": row.image_id,
            "bytes": codecs.encode(dtm, row.fmt, nodata),
            "w": int(row.w),
            "h": int(row.h),
            "fmt": row.fmt,
            "caption": row.caption,
            "phash": codecs.ahash64(dtm, nodata),
            "valid_in": int(np.sum(grid != nodata)),
            "valid_out": int(np.sum(dtm != nodata)),
        }

    return map_rows(images, one, DTM_OUTPUT_SCHEMA, permissive=permissive)


def resume_remaining(images: DataFrame, done: DataFrame | None) -> DataFrame:
    """Checkpoint-resume: drop rows whose image_id is already committed —
    a left-anti join against the output snapshot (SURVEY.md E12)."""
    if done is None:
        return images
    return images.join(done.select("image_id"), on="image_id", how="left_anti")


def run_dtm_job(
    spark,
    input_table,
    output_table,
    radius_m: float | None = DEFAULT_RADIUS_M,
    slope=None,
    init_threshold: float = PMF_INIT_THRESHOLD,
    max_threshold: float = PMF_MAX_THRESHOLD,
    permissive: bool = False,
):
    """End-to-end: snapshot scan → resume anti-join → transform → snapshot
    commit, in one write and no other Spark action. Returns (n_processed,
    snapshot): n is read off the committed files' footers, and a run with
    nothing left to do commits no snapshot. Rerunning after a partial commit
    processes only the remainder (exactly-once via the atomic manifest)."""
    golden.validate_job_params(radius_m if radius_m is not None else DEFAULT_RADIUS_M, slope)
    transform = partial(
        dtm_transform,
        radius_m=radius_m,
        slope=slope,
        init_threshold=init_threshold,
        max_threshold=max_threshold,
        permissive=permissive,
    )
    return commit_remaining(input_table.read(spark), output_table, "dtm", transform)


def commit_remaining(src: DataFrame, output_table, op: str, transform: Callable[[DataFrame], DataFrame]) -> tuple:
    """The DTM lifecycle of ``run_dtm_job`` and ``jobs/run_dtm.py``: resume
    anti-join of ``src`` against the committed output → ``transform`` → one
    append whose summary records ``op`` and the row count. The count comes
    from the committed files' footers, never a Spark count, and a run with
    nothing left to do commits no snapshot. Returns (rows, snapshot)."""
    try:
        done = output_table.read(src.sparkSession)
    except ValueError:
        done = None
    return output_table.append_rows(transform(resume_remaining(src, done)), summary={"op": op})


def lineage_metrics(dtm_rows: DataFrame) -> DataFrame:
    """Per-partition lineage/throughput aggregation (north_rule metrics)."""
    return dtm_rows.groupBy("partition_id").agg(
        F.count("*").alias("n_images"),
        F.sum(F.col("w").cast("long") * F.col("h").cast("long")).alias("pixels"),
        F.round(F.sum("wall_ms") / 1000.0, 3).alias("compute_sec"),
        F.round(F.sum(F.col("w").cast("long") * F.col("h").cast("long")) / F.sum("wall_ms") / 1000.0, 3).alias(
            "mpix_per_sec"
        ),
    )
