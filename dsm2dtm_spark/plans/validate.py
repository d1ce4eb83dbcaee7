"""Distributed output validation: the per-row invariant (BASELINE.json) as a
Spark job — engine output vs a reference table, row by row.

`pytest` proves the invariant at fixture scale; this plan is the operational
form for real tables: join the two snapshot tables on image_id, decode both
payloads per row inside one ``util.map_rows`` stage, and emit a verdict row
(allclose / PSNR / caption equality / nodata-mask agreement). A summary agg
gives the gate: 0 failing rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from dsm2dtm_spark import codecs
from dsm2dtm_spark.params import NODATA_DEFAULT
from dsm2dtm_spark.util import map_rows

VERDICT_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("fmt", StringType()),
        StructField("caption_equal", BooleanType()),
        StructField("mask_equal", BooleanType()),
        StructField("max_abs_diff", DoubleType()),
        StructField("psnr_db", DoubleType()),
        StructField("passes", BooleanType()),
    ]
)


def validate_against(
    result: DataFrame,
    reference: DataFrame,
    psnr_floor_db: float = 40.0,
    lossless_atol: float = 0.0,
    nodata: float = NODATA_DEFAULT,
) -> DataFrame:
    """Per-row verdicts. ``result``/``reference`` both carry
    (image_id, bytes, w, h, fmt, caption). Lossless rows must match within
    ``lossless_atol`` (exact by default); lossy (qz8) rows must reach
    ``psnr_floor_db``. Caption passthrough and nodata masks must be equal."""
    ref = reference.select(
        F.col("image_id"),
        F.col("bytes").alias("ref_bytes"),
        F.col("fmt").alias("ref_fmt"),
        F.col("caption").alias("ref_caption"),
    )
    joined = result.join(ref, on="image_id", how="inner")

    def judge(row) -> dict:
        got = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
        want = codecs.decode(row.ref_bytes, int(row.h), int(row.w), row.ref_fmt)
        gm = got == nodata
        wm = want == nodata
        both = ~gm & ~wm
        diff = float(np.abs(got[both] - want[both]).max()) if both.any() else 0.0
        p = codecs.psnr(want, got, nodata)
        # exact branch only when neither side quantized the payload;
        # png16/qz8 storage is a quantizer relative to a raw_f32
        # reference, so those rows are judged on the PSNR floor
        if row.fmt == "raw_f32" and row.ref_fmt == "raw_f32":
            ok = diff <= lossless_atol
        else:
            ok = p >= psnr_floor_db
        cap = row.caption == row.ref_caption
        mask = bool((gm == wm).all())
        return {
            "image_id": row.image_id,
            "fmt": row.fmt,
            "caption_equal": cap,
            "mask_equal": mask,
            "max_abs_diff": diff,
            "psnr_db": float(min(p, 1e9)),
            "passes": bool(ok and cap and mask),
        }

    return map_rows(joined, judge, VERDICT_SCHEMA)


def validation_summary(verdicts: DataFrame) -> DataFrame:
    return verdicts.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(~F.col("passes"), 1).otherwise(0)).alias("n_failing"),
        F.round(F.min("psnr_db"), 2).alias("min_psnr_db"),
        F.round(F.max("max_abs_diff"), 6).alias("worst_abs_diff"),
    )
