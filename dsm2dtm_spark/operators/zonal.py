"""Zonal statistics: vector footprints × raster pixels (the raster↔vector
aggregation the north rule's spatial-join surface exists for — "what does
the raster say INSIDE each polygon").

Scale shape (same cover→equi-join→refine pattern as the spatial join,
SURVEY.md E6, one level deeper — down to pixels):

1. cover: footprint bboxes and image bboxes each explode to their covering
   S2-style cells at a coarse resolution. Two overlapping bboxes always
   share at least one covering cell, so the cell equi-join's candidate set
   provably contains every (footprint, image) pair with any pixel overlap.
2. join: broadcast hash equi-join on cell id (footprint side ≪ image side),
   distinct pairs — never a cartesian/nested-loop node.
3. refine + aggregate: one pandas-UDF pass decodes each candidate image and
   masks PIXEL CENTERS against the footprint — pure bbox arithmetic for
   rects (SQL-replayable: the oracle recomputes the same IEEE mul/add
   pixel-center coordinates in DuckDB), vectorized even-odd ray casting for
   polygons — then aggregates the valid in-zone values.

Output: one row per (footprint_id, image_id) with n_px / mean / min / max
over valid (non-nodata) pixels whose centers fall inside the zone.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from dsm2dtm_spark import codecs
from dsm2dtm_spark.operators import cellindex
from dsm2dtm_spark.operators.spatial import points_in_polygon, with_cover_cells
from dsm2dtm_spark.operators.tiling import M_PER_DEG_LAT, M_PER_DEG_LON_EQ, lon_scale
from dsm2dtm_spark.params import NODATA_DEFAULT
from dsm2dtm_spark.util import map_rows

ZONAL_SCHEMA = (
    "footprint_id string, image_id string, n_px long, "
    "mean_val double, min_val double, max_val double"
)


def pixel_center_lonlat(
    lon0: float, lat0: float, xres_m: float, yres_m: float, h: int, w: int
) -> tuple[np.ndarray, np.ndarray]:
    """(lons[w], lats[h]) of pixel CENTERS — the same equirectangular
    mul/add arithmetic as tile_center_lonlat, so DuckDB replays it bit-for-
    bit (no libm calls)."""
    px = np.arange(w, dtype=np.float64) + 0.5
    py = np.arange(h, dtype=np.float64) + 0.5
    lons = lon0 + (px * xres_m) / (M_PER_DEG_LON_EQ * lon_scale(lat0))
    lats = lat0 - (py * yres_m) / M_PER_DEG_LAT
    return lons, lats


def _image_cover(images: DataFrame, res: int) -> DataFrame:
    """images + ``cell_ids`` covering each image's FULL pixel-edge extent
    (not just pixel centers): a query point in the outer half-pixel margin
    still indexes a valid pixel, so the candidate cover must include the
    margin's cells or the equi-join silently drops it (found by review —
    a cell boundary crossing that margin lost the pair)."""

    @F.pandas_udf(ArrayType(LongType()))
    def cover(lon0: pd.Series, lat0: pd.Series, xres: pd.Series, yres: pd.Series,
              h: pd.Series, w: pd.Series) -> pd.Series:
        out = []
        for a, b, xr, yr, hh, ww in zip(lon0, lat0, xres, yres, h, w):
            a, b, xr, yr = float(a), float(b), float(xr), float(yr)
            lon_hi = a + (int(ww) * xr) / (M_PER_DEG_LON_EQ * lon_scale(b))
            lat_lo = b - (int(hh) * yr) / M_PER_DEG_LAT
            out.append(
                cellindex.cover_bbox(
                    min(a, lon_hi), min(b, lat_lo), max(a, lon_hi), max(b, lat_lo), res
                ).tolist()
            )
        return pd.Series(out)

    return images.withColumn("cell_ids", cover("lon0", "lat0", "xres_m", "yres_m", "h", "w"))


def _candidates(images: DataFrame, other_cells: DataFrame, other_id: str, cell_res: int) -> DataFrame:
    """Distinct (image, other) candidate pairs via the cell-cover equi-join,
    executed over NARROW (id, cell) relations: the multi-MB image payload
    joins back ONCE per distinct pair instead of being exploded per cover
    cell and shuffled through the dedup."""
    meta = images.select("image_id", "lon0", "lat0", "xres_m", "yres_m", "h", "w")
    img_cells = _image_cover(meta, cell_res).select("image_id", F.explode("cell_ids").alias("cell_id"))
    pairs = (
        img_cells.join(F.broadcast(other_cells), on="cell_id")
        .dropDuplicates(["image_id", other_id])
        .drop("cell_id")
    )
    return pairs.join(
        images.select("image_id", "bytes", "w", "h", "fmt", "lon0", "lat0", "xres_m", "yres_m"),
        on="image_id",
    )


def _resident_grid():
    """``grid_of(row)``: the row's decoded grid through a one-slot cache
    keyed on image_id. Fed candidates sorted by image_id within the
    partition, ONE decoded grid is resident at a time (not every distinct
    image of a batch) and each image decodes once per partition."""
    slot = [None, None]

    def grid_of(row) -> np.ndarray:
        if slot[0] != row.image_id:
            slot[1] = None  # release the previous grid before decoding the next
            slot[:] = [row.image_id, codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)]
        return slot[1]

    return grid_of


def zonal_stats(
    images: DataFrame,
    footprints: DataFrame,
    cell_res: int = 8,
    value_round: int = 4,
) -> DataFrame:
    """Per-(footprint, image) statistics of raster values whose pixel
    centers fall inside the footprint (rect: closed bbox; polygon: even-odd
    ray casting). Nodata pixels are excluded; pairs with zero in-zone valid
    pixels produce no row."""
    fp_cells = with_cover_cells(footprints, res=cell_res).select(
        "footprint_id", F.explode("cell_ids").alias("cell_id")
    )
    cand = _candidates(images, fp_cells, "footprint_id", cell_res).join(
        F.broadcast(footprints.select("footprint_id", "kind", "xs", "ys", "x0", "y0", "x1", "y1")),
        on="footprint_id",
    )

    grid_of = _resident_grid()

    def stats(row) -> dict | None:
        grid = grid_of(row)
        lons, lats = pixel_center_lonlat(
            float(row.lon0), float(row.lat0), float(row.xres_m), float(row.yres_m),
            int(row.h), int(row.w),
        )
        if row.kind == "rect":
            in_x = (lons >= row.x0) & (lons <= row.x1)
            in_y = (lats >= row.y0) & (lats <= row.y1)
            mask = in_y[:, None] & in_x[None, :]
        else:
            gx, gy = np.meshgrid(lons, lats)
            mask = points_in_polygon(
                np.asarray(row.xs, dtype=np.float64),
                np.asarray(row.ys, dtype=np.float64),
                gx.ravel(), gy.ravel(),
            ).reshape(grid.shape)
        mask &= grid != NODATA_DEFAULT
        if not mask.any():
            return None
        vals = grid[mask].astype(np.float64)
        return {
            "footprint_id": row.footprint_id,
            "image_id": row.image_id,
            "n_px": int(vals.size),
            "mean_val": float(vals.mean()),
            "min_val": float(vals.min()),
            "max_val": float(vals.max()),
        }

    out = map_rows(cand.sortWithinPartitions("image_id"), stats, ZONAL_SCHEMA)
    # round JVM-side (HALF_UP, same as the SQL oracles' ROUND) — Python's
    # banker's rounding would disagree on exact half-boundaries
    return out.select(
        "footprint_id",
        "image_id",
        "n_px",
        F.round("mean_val", value_round).alias("mean_val"),
        F.round("min_val", value_round).alias("min_val"),
        F.round("max_val", value_round).alias("max_val"),
    )


POINT_SAMPLE_SCHEMA = "query_id long, image_id string, py int, px int, value double"


def point_sample(images: DataFrame, points: DataFrame, cell_res: int = 8) -> DataFrame:
    """Raster value at each query point (nearest pixel — the pixel whose
    cell contains the point): the raster↔vector POINT lookup. Candidates
    via an equi-join of the point's cell against the image-bbox cover cells
    (points broadcast — the small side); one UDF pass decodes each image
    once and samples all its points by integer index. Points outside every
    image, or landing on nodata, produce no row.

    Pixel indexing is the exact inverse of pixel_center_lonlat's forward
    arithmetic (floor of an IEEE division — SQL-replayable):
        px = floor((x − lon0) · M_LON·scale(lat0) / xres_m)
        py = floor((lat0 − y) · M_LAT / yres_m)
    """
    pt_cells = points.select(
        "query_id", cellindex.cell_expr(F.col("x"), F.col("y"), cell_res).alias("cell_id")
    )
    cand = _candidates(images, pt_cells, "query_id", cell_res).join(
        F.broadcast(points.select("query_id", "x", "y")), on="query_id"
    )

    grid_of = _resident_grid()

    def sample(row) -> dict | None:
        scale = M_PER_DEG_LON_EQ * lon_scale(float(row.lat0))
        px = int(np.floor((float(row.x) - float(row.lon0)) * scale / float(row.xres_m)))
        py = int(np.floor((float(row.lat0) - float(row.y)) * M_PER_DEG_LAT / float(row.yres_m)))
        if not (0 <= px < int(row.w) and 0 <= py < int(row.h)):
            return None
        v = float(grid_of(row)[py, px])
        if v == NODATA_DEFAULT:
            return None
        return {"query_id": int(row.query_id), "image_id": row.image_id, "py": py, "px": px, "value": v}

    out = map_rows(cand.sortWithinPartitions("image_id"), sample, POINT_SAMPLE_SCHEMA)
    return out.select("query_id", "image_id", "py", "px", F.round("value", 4).alias("value"))
