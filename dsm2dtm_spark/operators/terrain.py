"""Downstream terrain analytics: what a dsm2dtm user computes NEXT.

The reference pipeline stops at the DTM raster (reference core.py:207-251);
its users' immediate downstream products are (a) terrain derivatives —
slope / hillshade — from the elevation grid, (b) the normalized DSM
(nDSM = DSM − DTM, height above ground: building/canopy heights), (c)
multi-resolution overviews (the GDAL-overview pyramid that makes a
10^12-image corpus browsable), and (d) lattice composites (mosaic rollups
of many rasters onto one shared grid). This module provides each as a
Spark-first operator: ONE decode pass per image (a per-row function behind
``util.map_rows``) emitting narrow rows or per-(image, cell) partial
aggregates, all combination JVM-side (map-side combine shape — at 100 TB
only small partials shuffle, never pixels).

Arithmetic contract (CLAUDE.md): every derived quantity uses IEEE
mul/add/div/sqrt only — no libm — in the exact association the SQL
oracles use. Per-pixel values (gradients, shade, lattice indices) and
every sum whose addends are raw pixel values are bit-identical on both
engines: pixel addends carry float32 (24-bit) mantissas, so float64
partial sums stay EXACT for any realistic window (24 bits + log2(n) +
exponent spread ≪ 53) and summation ORDER cannot matter. The one
documented exception: means over full-precision doubles (slope/shade
averages), where reassociation can differ by ~1 ulp — those columns are
rounded on emit (HALF_UP on both sides) and the threshold COUNTS next to
them are exact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from dsm2dtm_spark import codecs, golden
from dsm2dtm_spark.operators.zonal import pixel_center_lonlat
from dsm2dtm_spark.params import DEFAULT_RADIUS_M, NODATA_DEFAULT
from dsm2dtm_spark.util import ensure_min_partitions, map_rows

# unit light vector for hillshade with EXACTLY representable components
# (0.48² + 0.36² + 0.8² = 1): azimuth/altitude angles would need libm
DEFAULT_LIGHT = (0.48, 0.36, 0.8)


# ------------------------------------------------------------ slope / shade

SLOPE_SHADE_SCHEMA = (
    "image_id string, n_px long, n_flat long, n_steep long, "
    "max_slope double, mean_slope double, mean_shade double, min_shade double"
)


def interior_valid_mask(g: np.ndarray) -> np.ndarray | None:
    """Interior-pixel mask (shape (h−2, w−2)): centre + 4 neighbours all
    valid. None when the grid is too small or no pixel qualifies — ONE
    definition of stencil validity, shared by every derivative operator so
    a rule change cannot drift between them."""
    if g.shape[0] < 3 or g.shape[1] < 3:
        return None
    v = g != NODATA_DEFAULT
    m = v[1:-1, 1:-1] & v[1:-1, 2:] & v[1:-1, :-2] & v[2:, 1:-1] & v[:-2, 1:-1]
    return m if m.any() else None


def interior_gradients(
    g: np.ndarray, xres_m: float, yres_m: float
) -> tuple[np.ndarray, np.ndarray] | None:
    """Central-difference gradients (gx, gy) as 1-D arrays over the interior
    pixels whose centre + 4 neighbours are all valid; None when no pixel
    qualifies. gy is pixel-space (+y points south). Shared by the slope/
    hillshade and aspect operators so the gradient bits are identical."""
    m = interior_valid_mask(g)
    if m is None:
        return None
    g64 = g.astype(np.float64)
    gx = ((g64[1:-1, 2:] - g64[1:-1, :-2]) / (2.0 * xres_m))[m]
    gy = ((g64[2:, 1:-1] - g64[:-2, 1:-1]) / (2.0 * yres_m))[m]
    return gx, gy


def slope_shade_stats(
    images: DataFrame,
    light: tuple[float, float, float] = DEFAULT_LIGHT,
    flat_max: float = 0.02,
    steep_min: float = 0.5,
    value_round: int = 4,
) -> DataFrame:
    """Per-image slope / hillshade statistics from central differences.

    At each interior pixel whose 4-neighbours are all valid:
        gx = (E − W) / (2·xres_m)        (rise/run, dimensionless slope)
        gy = (S − N) / (2·yres_m)        (pixel-space: +y points south)
        slope = sqrt(gx² + gy²)
        shade = (lz − lx·gx − ly·gy) / sqrt(1 + gx² + gy²)
    ``shade`` is the cosine between the surface normal (−gx, −gy, 1)/‖·‖
    and the given unit light vector — the standard hillshade without any
    trig call, so the SQL oracle reproduces it exactly. ``n_flat`` /
    ``n_steep`` count slope ≤ flat_max / ≥ steep_min: because slope bits
    match the oracle's exactly, these counts are exact (no rounding).
    Images with no qualifying interior pixel produce no row.
    """
    lx, ly, lz = (float(v) for v in light)
    meta = ensure_min_partitions(
        images.select("image_id", "bytes", "w", "h", "fmt", "xres_m", "yres_m"), mult=2
    )

    def stats(row) -> dict | None:
        g = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
        grads = interior_gradients(g, float(row.xres_m), float(row.yres_m))
        if grads is None:
            return None
        gx, gy = grads
        # hoist the squares but KEEP the SQL's left-association: slope sums
        # (gx²+gy²); shade's denominator is ((1+gx²)+gy²) — "1.0 + (gx²+gy²)"
        # would differ by an ulp
        gx2, gy2 = gx * gx, gy * gy
        slope = np.sqrt(gx2 + gy2)
        shade = (lz - lx * gx - ly * gy) / np.sqrt(1.0 + gx2 + gy2)
        return {
            "image_id": row.image_id,
            "n_px": int(slope.size),
            "n_flat": int(np.sum(slope <= flat_max)),
            "n_steep": int(np.sum(slope >= steep_min)),
            "max_slope": float(slope.max()),
            "mean_slope": float(slope.mean()),
            "mean_shade": float(shade.mean()),
            "min_shade": float(shade.min()),
        }

    out = map_rows(meta, stats, SLOPE_SHADE_SCHEMA)
    r = value_round
    return out.select(
        "image_id", "n_px", "n_flat", "n_steep",
        F.round("max_slope", r).alias("max_slope"),
        F.round("mean_slope", r).alias("mean_slope"),
        F.round("mean_shade", r).alias("mean_shade"),
        F.round("min_shade", r).alias("min_shade"),
    )


ASPECT_SCHEMA = "image_id string, octant int, n_px long"


def aspect_octants(images: DataFrame) -> DataFrame:
    """Downslope-direction octant histogram per image — aspect without
    atan2. The downslope vector in (east, north) components is
    (de, dn) = (−gx, gy) (gy is a south-positive pixel-space gradient);
    octant k is the 45° sector [45k°, 45(k+1)°) counter-clockwise from
    east, decided purely by sign and magnitude comparisons on the
    bit-exact gradients, so every count replays exactly in SQL. Flat
    pixels (gx = gy = 0) report octant −1. Sector boundaries (multiples
    of 45°) belong to the even octant they bound."""
    meta = ensure_min_partitions(
        images.select("image_id", "bytes", "w", "h", "fmt", "xres_m", "yres_m"), mult=2
    )

    def stats(row) -> list[dict] | None:
        g = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
        grads = interior_gradients(g, float(row.xres_m), float(row.yres_m))
        if grads is None:
            return None
        gx, gy = grads
        de, dn = -gx, gy
        oct_ = np.select(
            [
                (de > 0) & (dn >= 0) & (de >= dn),
                (de > 0) & (dn > 0) & (dn > de),
                (de <= 0) & (dn > 0) & (dn >= -de),
                (de < 0) & (dn > 0) & (-de > dn),
                (de < 0) & (dn <= 0) & (-de >= -dn),
                (de < 0) & (dn < 0) & (-dn > -de),
                (de >= 0) & (dn < 0) & (-dn >= de),
                (de > 0) & (dn < 0) & (de > -dn),
            ],
            list(range(8)),
            default=-1,  # only (0, 0) falls through every sector
        )
        counts = np.bincount(oct_ + 1, minlength=9)
        return [
            {"image_id": row.image_id, "octant": int(k) - 1, "n_px": int(counts[k])}
            for k in np.nonzero(counts)[0]
        ]

    return map_rows(meta, stats, ASPECT_SCHEMA)


CURVATURE_SCHEMA = (
    "image_id string, n_px long, n_convex long, n_concave long, "
    "max_lap double, min_lap double, mean_lap double"
)


def curvature_stats(
    images: DataFrame, flat_tol: float = 0.1, value_round: int = 4
) -> DataFrame:
    """Laplacian curvature statistics — the third terrain derivative next
    to slope and aspect. At each interior pixel with 4 valid neighbours:
        lap = (E − 2·C + W) / xres² + (S − 2·C + N) / yres²     [1/m]
    Negative Laplacian = locally convex (ridges/domes, ``n_convex`` counts
    lap ≤ −flat_tol), positive = concave (valleys/pits, ``n_concave``
    counts lap ≥ flat_tol). The SQL oracle replays the identical IEEE
    association via the same 4 self-joins + centre, so the threshold
    counts are exact; only max/min/mean are rounded on emit."""
    meta = ensure_min_partitions(
        images.select("image_id", "bytes", "w", "h", "fmt", "xres_m", "yres_m"), mult=2
    )

    def stats(row) -> dict | None:
        g = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
        m = interior_valid_mask(g)
        if m is None:
            return None
        g64 = g.astype(np.float64)
        c = g64[1:-1, 1:-1]
        xr, yr = float(row.xres_m), float(row.yres_m)
        d2x = (g64[1:-1, 2:] - 2.0 * c + g64[1:-1, :-2]) / (xr * xr)
        d2y = (g64[2:, 1:-1] - 2.0 * c + g64[:-2, 1:-1]) / (yr * yr)
        lap = (d2x + d2y)[m]
        return {
            "image_id": row.image_id,
            "n_px": int(lap.size),
            "n_convex": int(np.sum(lap <= -flat_tol)),
            "n_concave": int(np.sum(lap >= flat_tol)),
            "max_lap": float(lap.max()),
            "min_lap": float(lap.min()),
            "mean_lap": float(lap.mean()),
        }

    out = map_rows(meta, stats, CURVATURE_SCHEMA)
    r = value_round
    return out.select(
        "image_id", "n_px", "n_convex", "n_concave",
        F.round("max_lap", r).alias("max_lap"),
        F.round("min_lap", r).alias("min_lap"),
        F.round("mean_lap", r).alias("mean_lap"),
    )


# ------------------------------------------------------------------- nDSM

NDSM_SCHEMA = "image_id string, n_px long, n_above long, max_ndsm double, mean_ndsm double"


def ndsm_numpy(dsm: np.ndarray, dtm: np.ndarray, above_m: float) -> dict | None:
    """Single-image nDSM statistics — shared by the distributed operator
    and the golden fixture generator so the two are bit-identical by
    construction (same numpy ops in the same order)."""
    m = (dsm != NODATA_DEFAULT) & (dtm != NODATA_DEFAULT)
    if not m.any():
        return None
    # mask-then-widen touches only valid pixels (bit-identical to widening
    # the full grids first: float32→float64 is exact per element)
    nd = dsm[m].astype(np.float64) - dtm[m].astype(np.float64)
    return {
        "n_px": int(nd.size),
        "n_above": int(np.sum(nd > above_m)),
        "max_ndsm": float(nd.max()),
        "mean_ndsm": float(nd.mean()),
    }


def ndsm_stats(
    images: DataFrame,
    radius_m: float = DEFAULT_RADIUS_M,
    above_m: float = 1.0,
    value_round: int = 4,
) -> DataFrame:
    """Normalized DSM (height above ground): run the full DSM→DTM pipeline
    per image, subtract, and aggregate — n_above counts pixels more than
    ``above_m`` above the derived terrain (the building/canopy detector a
    dsm2dtm user builds first). Golden-parity: the oracle is a committed
    fixture generated by the SAME ``ndsm_numpy`` over the golden clone."""
    golden.validate_job_params(radius_m, None)
    meta = ensure_min_partitions(
        images.select("image_id", "bytes", "w", "h", "fmt", "xres_m", "yres_m"), mult=3
    )

    def stats(row) -> dict | None:
        g = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
        dtm = golden.dsm_to_dtm(g, (float(row.xres_m), float(row.yres_m)), radius_m=radius_m)
        s = ndsm_numpy(g, dtm, above_m)
        return None if s is None else {"image_id": row.image_id, **s}

    out = map_rows(meta, stats, NDSM_SCHEMA)
    return out.select(
        "image_id", "n_px", "n_above",
        F.round("max_ndsm", value_round).alias("max_ndsm"),
        F.round("mean_ndsm", value_round).alias("mean_ndsm"),
    )


BANDS_SCHEMA = "image_id string, band long, n_px long"


def elevation_bands(images: DataFrame, band_m: float = 10.0) -> DataFrame:
    """Per-image elevation histogram: band = floor(value / band_m) over
    valid pixels — the contour-interval summary (which elevation bands an
    image spans and how many pixels sit in each). Identical IEEE division +
    floor on both engines → exact counts, no rounding anywhere."""
    band = float(band_m)
    if band <= 0:
        raise ValueError(f"band_m must be positive, got {band_m}")
    meta = ensure_min_partitions(images.select("image_id", "bytes", "w", "h", "fmt"), mult=2)

    def hist(row) -> list[dict]:
        g = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
        vals = g[g != NODATA_DEFAULT].astype(np.float64)
        uniq, counts = np.unique(np.floor(vals / band).astype(np.int64), return_counts=True)
        return [{"image_id": row.image_id, "band": int(b), "n_px": int(n)} for b, n in zip(uniq, counts)]

    return map_rows(meta, hist, BANDS_SCHEMA)


# -------------------------------------------------------- overview pyramid

OVERVIEW_SCHEMA = "image_id string, level int, py int, px int, n_src long, value double"


def overview_levels_numpy(
    grid: np.ndarray, levels: int, nodata: float = NODATA_DEFAULT
) -> list[tuple[int, np.ndarray, np.ndarray]]:
    """[(level, counts, values)] of downsample levels. Level k cell (py, px)
    = mean of the VALID BASE pixels in its 2^k × 2^k window — GDAL's average
    resampling, where every overview level resamples the base band, not the
    previous level's means. Carrying (sum, count) between levels keeps every
    sum's addends float32-exact values, so the float64 partials are EXACT
    (24-bit mantissas + log2(n) carry bits ≪ 53) and no summation order —
    numpy's, Spark's, or DuckDB's — can change a bit. ``counts`` is the
    number of valid base pixels under the cell; cells with count 0 are
    nodata."""
    valid = ~np.isnan(grid) if np.isnan(nodata) else ~(grid == nodata)
    s = np.where(valid, grid.astype(np.float64), 0.0)
    cnt = valid.astype(np.int64)
    out = []
    for level in range(1, levels + 1):
        h, w = s.shape
        if h % 2 or w % 2:
            s = np.pad(s, ((0, h % 2), (0, w % 2)))
            cnt = np.pad(cnt, ((0, h % 2), (0, w % 2)))
        s = s[0::2, 0::2] + s[0::2, 1::2] + s[1::2, 0::2] + s[1::2, 1::2]
        cnt = cnt[0::2, 0::2] + cnt[0::2, 1::2] + cnt[1::2, 0::2] + cnt[1::2, 1::2]
        value = np.divide(s, cnt, out=np.zeros_like(s), where=cnt > 0)
        out.append((level, cnt, value))
        if not cnt.any():
            break
    return out


def build_overviews(images: DataFrame, levels: int = 2, value_round: int = 4) -> DataFrame:
    """Multi-resolution overview pyramid (GDAL average-resampling
    semantics): level k cell (py, px) is the mean of the valid BASE pixels
    in its 2^k × 2^k window; windows with zero valid pixels are nodata (no
    row). One decode pass emits every level's cells; at 100 TB the emitted
    pyramid is ≤ ⅓ of the base pixel count and writes straight to a
    partitioned sink — no shuffle at all."""
    meta = ensure_min_partitions(
        images.select("image_id", "bytes", "w", "h", "fmt"), mult=2
    )

    def build(row) -> pd.DataFrame | None:
        g = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
        frames = []
        for level, cnt, value in overview_levels_numpy(g, levels):
            yy, xx = np.nonzero(cnt)
            if yy.size:
                frames.append(
                    pd.DataFrame(
                        {
                            "image_id": row.image_id,
                            "level": np.full(yy.size, level, dtype=np.int32),
                            "py": yy.astype(np.int32),
                            "px": xx.astype(np.int32),
                            "n_src": cnt[yy, xx],
                            "value": value[yy, xx],
                        }
                    )
                )
        return pd.concat(frames, ignore_index=True) if frames else None

    out = map_rows(meta, build, OVERVIEW_SCHEMA)
    return out.select(
        "image_id", "level", "py", "px", "n_src",
        F.round("value", value_round).alias("value"),
    )


def overview_markers(images: DataFrame, levels: int) -> DataFrame:
    """One LEVEL-0 marker row per image (py = px = 0, n_src = levels built,
    value NULL), in the pyramid schema. Markers record done-ness for resume
    anti-joins — an all-nodata image emits no pyramid rows but must still
    count as processed — and carry the level count so an append with a
    different ``levels`` can fail fast."""
    return images.select(
        "image_id",
        F.lit(0).cast("int").alias("level"),
        F.lit(0).cast("int").alias("py"),
        F.lit(0).cast("int").alias("px"),
        F.lit(levels).cast("long").alias("n_src"),
        F.lit(None).cast("double").alias("value"),
    )


def ensure_pyramid_levels(table, spark, levels: int) -> None:
    """Raise when ``table``'s committed level-0 markers record a different
    level count than ``levels`` — appending would silently mix pyramid
    depths (some images with k levels, others with k'). No-op on an empty
    or never-committed table."""
    try:
        df = table.read(spark)
    except ValueError:  # no commits yet
        return
    prior = [r.n_src for r in df.filter("level = 0").select("n_src").distinct().collect()]
    if prior and prior != [levels]:
        raise ValueError(
            f"pyramid table was built with levels={prior}; appending with "
            f"levels={levels} would leave an inconsistent pyramid — use a fresh "
            "output table (or rerun with the original level count)"
        )


# ------------------------------------------------------- lattice composite

COMPOSITE_PARTIAL_SCHEMA = (
    "image_id string, cy long, cx long, n_px long, sum_val double, max_val double"
)


def grid_composite(images: DataFrame, cell_deg: float = 0.05, value_round: int = 4) -> DataFrame:
    """Mosaic rollup: every raster's valid pixels land on one shared
    lon/lat lattice (cell = floor(coord / cell_deg), the same IEEE division
    on both engines) and each lattice cell aggregates across ALL images —
    n_px / n_img / max_val / mean_val per cell.

    Scale shape: the decode UDF emits per-(image, cell) PARTIAL aggregates
    (map-side combine — an image contributes a handful of rows, never its
    pixels), then a JVM groupBy(cy, cx) combines partials; the shuffle
    volume is O(images·cells-per-image), independent of pixel count.

    mean_val is exact despite the two-stage sum: every addend is a
    float32-exact pixel value, so the float64 partial sums cannot round in
    any association (module docstring) — engine and oracle divide the SAME
    sum by the SAME count."""
    cell = float(cell_deg)
    meta = ensure_min_partitions(
        images.select("image_id", "bytes", "w", "h", "fmt", "lon0", "lat0", "xres_m", "yres_m"), mult=2
    )

    def partials(row) -> pd.DataFrame | None:
        g = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
        yy, xx = np.nonzero(g != NODATA_DEFAULT)
        if not yy.size:
            return None
        lons, lats = pixel_center_lonlat(
            float(row.lon0), float(row.lat0),
            float(row.xres_m), float(row.yres_m), int(row.h), int(row.w),
        )
        cx = np.floor(lons[xx] / cell).astype(np.int64)
        cy = np.floor(lats[yy] / cell).astype(np.int64)
        vals = g[yy, xx].astype(np.float64)
        keys, inv = np.unique(np.stack([cy, cx], axis=1), axis=0, return_inverse=True)
        inv = inv.ravel()  # numpy 2.0 returns (n,1) with axis=, 2.1+ (n,)
        mx = np.full(len(keys), -np.inf)
        np.maximum.at(mx, inv, vals)
        return pd.DataFrame(
            {
                "image_id": row.image_id,
                "cy": keys[:, 0],
                "cx": keys[:, 1],
                "n_px": np.bincount(inv, minlength=len(keys)),
                "sum_val": np.bincount(inv, weights=vals, minlength=len(keys)),
                "max_val": mx,
            }
        )

    part = map_rows(meta, partials, COMPOSITE_PARTIAL_SCHEMA)
    r = value_round
    return part.groupBy("cy", "cx").agg(
        F.sum("n_px").alias("n_px"),
        F.countDistinct("image_id").alias("n_img"),
        F.round(F.max("max_val"), r).alias("max_val"),
        F.round(F.sum("sum_val") / F.sum("n_px"), r).alias("mean_val"),
    )
