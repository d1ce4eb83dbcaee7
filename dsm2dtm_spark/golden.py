"""Single-node DSM→DTM pipeline — the golden per-row invariant surface.

This is the array→array computation every Spark path (whole-image UDF, tiled
+halo) must reproduce exactly (BASELINE.json north_rule: decoded-pixel
allclose + caption passthrough). Semantics are pinned to the reference's
``dsm_to_dtm`` (algorithm.py:448-487) and its helpers; every stage cites the
reference lines it models. Implementation is from scratch on the pure-numpy
kernels in ``dsm2dtm_spark.kernels`` (scipy is unavailable — SURVEY.md §7.0).
"""

from __future__ import annotations

import numpy as np

from dsm2dtm_spark.kernels import (
    fill_nearest,
    nearest_valid,
    gaussian_filter2d,
    grey_opening_square,
    zoom_bilinear,
)
from dsm2dtm_spark.params import (
    DEG_TO_M,
    MIN_PROCESS_RES_M,
    NODATA_DEFAULT,
    PMF_BASE_SLOPE,
    PMF_INIT_THRESHOLD,
    PMF_MAX_THRESHOLD,
    REFINE_ELEV_THRESHOLD,
    DerivedParams,
    apply_radius_override,
    derive_params,
)


def terrain_slope(dsm: np.ndarray, resolution: float, nodata: float) -> float:
    """Median terrain slope (rise/run), clamped to [0.01, 1.0].

    Mirrors reference algorithm.py:54-111: decimate toward 1 m when the input
    is finer than 0.5 m, nodata→NaN, np.gradient magnitude / res, nanmedian
    over originally-valid cells; falls back to the 0.05 default when there is
    no usable data.
    """
    res = max(resolution, 0.001)
    if res < 0.5:  # target_res 1.0 * 0.5
        work = zoom_bilinear(dsm, res / 1.0)
        work_res = 1.0
    else:
        work = dsm
        work_res = res

    valid = work != nodata
    if not valid.any() or work.shape[0] < 2 or work.shape[1] < 2:
        return PMF_BASE_SLOPE

    as_nan = work.copy()
    as_nan[~valid] = np.nan
    dy, dx = np.gradient(as_nan)
    mag = np.sqrt(dy**2 + dx**2) / work_res
    vals = mag[valid]
    # median of the non-NaN values == np.nanmedian, but via introselect
    # (np.median/partition) instead of nanmedian's much slower path
    finite = vals[~np.isnan(vals)]
    if finite.size == 0:
        return PMF_BASE_SLOPE
    med = np.median(finite)
    return float(max(0.01, min(med, 1.0)))


def pmf(
    surface: np.ndarray,
    nodata: float,
    init_window: int,
    max_window: int,
    slope_px: float,
    init_threshold: float = PMF_INIT_THRESHOLD,
    max_threshold: float = PMF_MAX_THRESHOLD,
    *,
    min_fill: float,
) -> np.ndarray:
    """Progressive morphological filter (reference algorithm.py:165-217).

    Iteratively opens the min-filled surface with a geometrically growing
    square window (w→2w−1); cells rising above the opened surface by more than
    ``min(init_thr + slope·(w−1)/2, max_thr)`` are pulled down to it. Nodata
    cells are restored at the end.

    ``min_fill`` is the whole image's valid minimum (reference line 197
    computes it over the whole array), so a tile cut fills its nodata cells
    with the same value as the whole image does.
    """
    valid = surface != nodata
    if not valid.any():
        return surface.copy()
    working = np.where(valid, surface, min_fill)
    buf = np.empty_like(working)
    mask = np.empty(working.shape, dtype=bool)
    w = init_window
    while w <= max_window:
        dh = min(init_threshold + slope_px * ((w - 1) // 2), max_threshold)
        opened = grey_opening_square(working, w)
        # fused update (reused buffers): working[working - opened > dh] = opened
        np.subtract(working, opened, out=buf)
        np.greater(buf, dh, out=mask)
        np.copyto(working, opened, where=mask)
        w = 2 * w - 1
    return np.where(valid, working, nodata)


def refine(
    ground: np.ndarray,
    nodata: float,
    sigma: float,
    elev_threshold: float = REFINE_ELEV_THRESHOLD,
    *,
    min_fill: float,
) -> np.ndarray:
    """Smooth-and-compare outlier removal (reference algorithm.py:220-252):
    cells ≥ ``elev_threshold`` above the Gaussian-smoothed (min-filled) surface
    become nodata."""
    valid = ground != nodata
    if not valid.any():
        return ground.copy()
    smoothed = gaussian_filter2d(np.where(valid, ground, min_fill), sigma)
    out = ground.copy()
    out[((ground - smoothed) >= elev_threshold) & valid] = nodata
    return out


def final_smooth(ground: np.ndarray, nodata: float, sigma: float, *, min_fill: float) -> np.ndarray:
    """Light Gaussian smoothing of valid cells (reference algorithm.py:423-429)."""
    valid = ground != nodata
    if not valid.any():
        return ground
    smoothed = gaussian_filter2d(np.where(valid, ground, min_fill), sigma)
    return np.where(valid, smoothed, nodata)


def gap_fill(ground: np.ndarray, nodata: float, max_dist_px: float) -> np.ndarray:
    """Distance-bounded nearest-neighbor inpainting (reference
    algorithm.py:431-443): only holes within ``max_dist_px`` of a valid cell
    are filled, so large voids (lakes, coverage gaps) stay flagged. Output is
    float32, matching the reference's explicit cast (line 435)."""
    invalid = ground == nodata
    dtm = ground.astype(np.float32, copy=True)
    if invalid.any() and (~invalid).any():
        dist2, nr, nc = nearest_valid(invalid)
        in_range = invalid & (dist2 <= max_dist_px * max_dist_px)
        if in_range.any():
            dtm[in_range] = dtm[nr[in_range], nc[in_range]]
    return dtm


def stage_chain(dsm: np.ndarray, nodata: float, p: DerivedParams, min_valid: float,
                init_threshold: float = PMF_INIT_THRESHOLD, max_threshold: float = PMF_MAX_THRESHOLD) -> np.ndarray:
    """PMF → refine → final smooth → gap fill with derived params ``p``.

    ``min_valid`` is the image's valid minimum and fills nodata in PMF,
    refine and the final smooth. The reference takes each stage's fill from
    that stage's own input, but the valid minimum survives PMF and refine
    unchanged, so the one value is the same fill. The whole-image path and
    every tile of the tiled path run this function; a tile passes its
    image's minimum, which its cut alone may not contain."""
    ground = pmf(dsm, nodata, p.init_window, p.max_window, p.slope_px, init_threshold, max_threshold,
                 min_fill=min_valid)
    ground = refine(ground, nodata, p.refine_sigma, min_fill=min_valid)
    ground = final_smooth(ground, nodata, p.final_sigma, min_fill=min_valid)
    return gap_fill(ground, nodata, p.gap_dist_px)


def gap_fill_idw(ground: np.ndarray, nodata: float, max_dist_px: float, k: int = 4) -> np.ndarray:
    """Engine extension (north_star names IDW inpainting alongside NN): fill
    holes within range with the inverse-distance-squared weighted mean of the
    k nearest valid cells found in a certified growing window. NOT used on
    the reference-parity path (the reference gathers the single nearest
    value); callers apply it to a ground grid themselves."""
    invalid = ground == nodata
    dtm = ground.astype(np.float32, copy=True)
    if not invalid.any() or not (~invalid).any():
        return dtm
    h, w = ground.shape
    # 1-NN prefilter (fast either way): only holes within range get IDW work
    dist2_nn, _, _ = nearest_valid(invalid)
    in_range = invalid & (dist2_nn <= max_dist_px * max_dist_px)
    qr, qc = np.nonzero(in_range)
    if len(qr) == 0:
        return dtm
    vals = np.zeros(len(qr), dtype=np.float64)
    pending = np.ones(len(qr), dtype=bool)
    radius = max(2, int(np.ceil(max_dist_px)))
    while pending.any():
        idx = np.nonzero(pending)[0]
        d = np.arange(-radius, radius + 1)
        rr = np.clip(qr[idx][:, None] + d[None, :], 0, h - 1)
        cc = np.clip(qc[idx][:, None] + d[None, :], 0, w - 1)
        ok_v = ~invalid[rr[:, :, None], cc[:, None, :]]
        d2 = (rr - qr[idx][:, None])[:, :, None].astype(np.float64) ** 2 + (cc - qc[idx][:, None])[
            :, None, :
        ].astype(np.float64) ** 2
        d2[~ok_v] = np.inf
        flat = d2.reshape(len(idx), -1)
        order = np.argsort(flat, axis=1)[:, :k]
        kd2 = np.take_along_axis(flat, order, axis=1)
        n_found = np.isfinite(kd2).sum(axis=1)
        kth = np.where(n_found > 0, kd2[np.arange(len(idx)), np.maximum(n_found - 1, 0)], np.inf)
        # certified: the farthest used neighbor lies within the window's
        # guarantee radius (nothing outside can displace it), or the window
        # already spans the whole grid
        whole = radius >= max(h, w)
        certified = (n_found > 0) & ((kth <= radius * radius) | whole)
        if certified.any():
            ci = idx[certified]
            sel = order[certified]
            sd2 = kd2[certified]
            arang = np.arange(len(ci))[:, None]
            vget = ground[
                rr[certified][arang, sel // (2 * radius + 1)], cc[certified][arang, sel % (2 * radius + 1)]
            ].astype(np.float64)
            wgt = np.where(np.isfinite(sd2), 1.0 / np.maximum(sd2, 1e-12), 0.0)
            vals[ci] = (vget * wgt).sum(axis=1) / np.maximum(wgt.sum(axis=1), 1e-300)
            pending[ci] = False
        radius *= 2
    dtm[qr, qc] = vals.astype(np.float32)
    return dtm


def _standard_path(
    dsm: np.ndarray,
    cell_size: float,
    nodata: float,
    radius_m: float | None,
    slope: float | None,
    init_threshold: float,
    max_threshold: float,
) -> np.ndarray:
    """Full-resolution pipeline: slope → params → the stage chain
    (reference algorithm.py:349-445)."""
    if slope is None:
        slope = terrain_slope(dsm, cell_size, nodata)
    max_dim = max(dsm.shape)
    p = derive_params(cell_size, max_image_dim=max_dim, base_slope=slope)
    if radius_m is not None:
        apply_radius_override(p, radius_m, cell_size, max_dim)
    valid = dsm != nodata
    min_valid = float(dsm[valid].min()) if valid.any() else float("nan")
    return stage_chain(dsm, nodata, p, min_valid, init_threshold, max_threshold)


def _coarse_path(
    dsm: np.ndarray,
    cell_size: float,
    nodata: float,
    radius_m: float | None,
    slope: float | None,
    init_threshold: float,
    max_threshold: float,
) -> np.ndarray:
    """Downsample→process→upsample route for very fine inputs (reference
    algorithm.py:255-346): NN-prefill both resamples so the nodata sentinel
    never smears; crop/pad the upsample to the original shape; re-impose the
    original nodata mask."""
    h, w = dsm.shape
    scale = cell_size / MIN_PROCESS_RES_M
    if int(h * scale) < 10 or int(w * scale) < 10:
        return _standard_path(dsm, cell_size, nodata, radius_m, slope, init_threshold, max_threshold)

    valid = dsm != nodata
    if not valid.any():
        return dsm.copy()
    coarse_in = zoom_bilinear(fill_nearest(dsm, ~valid), scale)

    coarse_dtm = dsm_to_dtm(
        coarse_in,
        (MIN_PROCESS_RES_M, MIN_PROCESS_RES_M),
        radius_m=radius_m,
        slope=slope,
        init_threshold=init_threshold,
        max_threshold=max_threshold,
        nodata=nodata,
    )

    hole = coarse_dtm == nodata
    if hole.any() and not hole.all():
        coarse_dtm = fill_nearest(coarse_dtm, hole)
    fine = zoom_bilinear(coarse_dtm, (h / coarse_dtm.shape[0], w / coarse_dtm.shape[1]))
    fine = fine[:h, :w]
    if fine.shape != (h, w):
        padded = np.full((h, w), nodata, dtype=fine.dtype)
        padded[: fine.shape[0], : fine.shape[1]] = fine
        fine = padded
    fine[~valid] = nodata
    return fine


def dsm_to_dtm(
    dsm: np.ndarray,
    resolution: tuple[float, float],
    radius_m: float | None = None,
    slope: float | None = None,
    init_threshold: float = PMF_INIT_THRESHOLD,
    max_threshold: float = PMF_MAX_THRESHOLD,
    nodata: float = NODATA_DEFAULT,
) -> np.ndarray:
    """DSM→DTM, array in / array out (reference algorithm.py:448-487).

    Routes to the coarse path when the collapsed cell size is finer than
    0.9 × 0.5 m, else runs the standard pipeline at native resolution.
    """
    cell_size = max((abs(resolution[0]) + abs(resolution[1])) / 2.0, 0.001)
    if cell_size < MIN_PROCESS_RES_M * 0.9:
        return _coarse_path(dsm, cell_size, nodata, radius_m, slope, init_threshold, max_threshold)
    return _standard_path(dsm, cell_size, nodata, radius_m, slope, init_threshold, max_threshold)


def validate_job_params(radius_m: float, slope: float | None) -> None:
    """Input validation mirroring reference core.py:231-234."""
    if not np.isfinite(radius_m) or radius_m <= 0:
        raise ValueError(f"radius_m must be positive and finite, got {radius_m!r}")
    if slope is not None and (not np.isfinite(slope) or slope <= 0 or slope > 1):
        raise ValueError(f"slope must be in (0, 1], got {slope!r}")


def estimate_utm_epsg(lon: float, lat: float) -> int:
    """UTM EPSG estimate via the zone-math form (reference utm_utils.py:42-45;
    the pyproj-database path is unavailable offline — SURVEY.md R4). SQL
    equivalent: floor((lon+180)/6) % 60 + 1 + if(lat<0, 32700, 32600)."""
    zone = int((lon + 180) / 6) % 60 + 1
    return (32700 if lat < 0 else 32600) + zone


__all__ = [
    "dsm_to_dtm",
    "terrain_slope",
    "pmf",
    "refine",
    "final_smooth",
    "gap_fill",
    "stage_chain",
    "validate_job_params",
    "estimate_utm_epsg",
    "DEG_TO_M",
]
