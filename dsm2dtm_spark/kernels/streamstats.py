"""Bounded-memory exact per-image statistics for the tiled plan's pass 1.

The tiled pipeline needs two whole-image scalars before any tile can be
processed (SURVEY.md §7.2 item 3): the global valid minimum and the exact
median terrain slope. The straightforward pass-1 decodes the full image in
one task (memory ∝ pixels). This module computes BOTH exactly from row-block
chunks of the encoded payload, so pass-1 memory is O(block + in-bucket
values):

- valid min: running minimum over blocks;
- exact median slope: two-pass selection — pass A histograms the gradient
  magnitudes (blocks carry a one-row halo; np.gradient's central differences
  need only that) and locates the bucket(s) holding the middle order
  statistics; pass B re-streams and keeps only values assigned to those
  buckets, then selects exactly.

Block sources (``block_source_for``): ``raw_f32`` slices a zero-copy buffer
view; ``png16`` re-inflates the IDAT stream scanline-by-scanline per pass
(PNG rows are zlib-sequential, so chunked decode costs extra CPU per pass but
never holds more than a block of rows); qz8 has no row-streamable layout, so
it decodes once and windows the grid. All produce bit-identical rows to the
full decoder. The tiled plan's tile cut reads the same sources.

Matches ``golden.terrain_slope`` exactly on the standard path (res ≥ 0.5 m,
no decimation — the tiled plan's domain; float32 arithmetic mirrored
operation-for-operation). The same two-pass scheme lifts unchanged to Spark
aggregations (per-tile histograms → merge → targeted gather) when even one
row-block per task is too big.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np

from dsm2dtm_spark import codecs
from dsm2dtm_spark.params import PMF_BASE_SLOPE

# (y0, y1, lo, block) where block covers rows [lo, hi) with hi ≥ y1 — the
# core rows [y0, y1) plus a ``halo``-row margin on each interior side
Block = tuple[int, int, int, np.ndarray]
BlockSource = Callable[[], Iterator[Block]]


def array_block_source(arr: np.ndarray, block_rows: int, halo: int = 1) -> BlockSource:
    """Row windows (views) over a grid already in memory."""
    h = arr.shape[0]

    def gen() -> Iterator[Block]:
        for y0 in range(0, h, block_rows):
            y1 = min(h, y0 + block_rows)
            lo = max(0, y0 - halo)
            yield y0, y1, lo, arr[lo : min(h, y1 + halo)]

    return gen


def _png16_rows(data: bytes, h: int, w: int) -> Iterator[np.ndarray]:
    """Stream decoded float32 rows of a png16 payload one scanline at a time
    (incremental zlib inflate + filter-0/2 unfilter + dequantize), without
    ever materializing the whole image. Row values are bit-identical to
    ``codecs.decode_png16`` (same float64→float32 dequantize per row)."""
    if data[: len(codecs._PNG_SIG)] != codecs._PNG_SIG:
        raise ValueError("not a PNG stream")
    stride = 1 + 2 * w
    d = zlib.decompressobj()
    pending = bytearray()
    prev = np.zeros(2 * w, dtype=np.uint8)
    rows_out = 0

    # header-only pre-scan for IHDR + the dsm2dtm tEXt meta: the spec allows
    # tEXt AFTER the IDATs, but streaming needs offset/scale/nodata before
    # the first row — skip payload bytes (no IDAT copies) to find it
    meta: dict[str, float] = {}
    pos = len(codecs._PNG_SIG)
    while pos + 8 <= len(data):
        (n,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        if tag == b"IHDR":
            pw, ph, depth, ctype = struct.unpack_from(">IIBB", data, pos + 8)
            if depth != 16 or ctype != 0:
                raise ValueError("png16 codec only reads 16-bit grayscale")
            if (ph, pw) != (h, w):
                raise ValueError(f"PNG dims {(ph, pw)} disagree with row metadata {(h, w)}")
        elif tag == b"tEXt" and data[pos + 8 : pos + 8 + 8] == b"dsm2dtm\x00":
            for kv in data[pos + 16 : pos + 8 + n].decode().split(";"):
                k, v = kv.split("=", 1)
                meta[k] = float(v)
        pos += 12 + n
    if not {"offset", "scale", "nodata"} <= meta.keys():
        raise ValueError("png16 payload lacks the dsm2dtm tEXt metadata chunk")

    def drain() -> Iterator[np.ndarray]:
        nonlocal rows_out, prev
        while len(pending) >= stride and rows_out < h:
            line = bytes(pending[:stride])
            del pending[:stride]
            ftype = line[0]
            cur = np.frombuffer(line[1:], dtype=np.uint8).copy()
            if ftype == 2:  # Up filter (we emit 0; accept 0/2 like the codec)
                cur = (cur + prev).astype(np.uint8)
            elif ftype != 0:
                raise ValueError(f"unsupported PNG filter {ftype}")
            prev = cur
            codes = cur.view(">u2").astype(np.uint16)
            row = ((codes.astype(np.float64) - 1) * meta["scale"] + meta["offset"]).astype(np.float32)
            row[codes == 0] = meta["nodata"]
            rows_out += 1
            yield row

    for tag, payload in codecs._iter_png_chunks(data):
        if tag == b"IDAT":
            pending += d.decompress(payload)
            yield from drain()
    pending += d.flush()
    yield from drain()
    if rows_out != h:
        raise ValueError(f"PNG stream ended after {rows_out}/{h} rows")


def png16_block_source(data: bytes, h: int, w: int, block_rows: int, halo: int = 1) -> BlockSource:
    def gen() -> Iterator[Block]:
        rows = _png16_rows(data, h, w)
        window: list[np.ndarray] = []  # rows [win_start, win_start+len(window))
        win_start = 0
        next_row = 0
        for y0 in range(0, h, block_rows):
            y1 = min(h, y0 + block_rows)
            lo = max(0, y0 - halo)
            hi = min(h, y1 + halo)
            while win_start < lo:  # slide: drop rows below the halo
                window.pop(0)
                win_start += 1
            while next_row < hi:  # extend: pull rows through the halo
                window.append(next(rows))
                next_row += 1
            yield y0, y1, lo, np.stack(window)

    return gen


def block_source_for(buf: bytes, h: int, w: int, fmt: str, block_rows: int, halo: int = 1) -> BlockSource:
    """The block source of any codec: raw_f32 windows a zero-copy view of the
    payload, png16 inflates scanline by scanline, and every other codec (qz8)
    decodes once and hands out row windows of the decoded grid."""
    if fmt == "raw_f32":
        return array_block_source(np.frombuffer(buf, dtype="<f4", count=h * w).reshape(h, w), block_rows, halo)
    if fmt == "png16":
        return png16_block_source(buf, h, w, block_rows, halo)
    return array_block_source(codecs.decode(buf, h, w, fmt), block_rows, halo)


def _block_mags(source: BlockSource, res: float, nodata: float):
    """Yield, per row-block [y0, y1), the float32 gradient magnitudes /res of
    exactly those rows (computed with a one-row halo so central differences
    match the whole-image np.gradient), the block's valid mask, and the raw
    core rows. ONE home for the parity-critical golden arithmetic — both the
    fast path and the histogram sweeps consume this."""
    for y0, y1, lo, blk in source():
        as_nan = blk.copy()
        as_nan[as_nan == nodata] = np.nan
        dy, dx = np.gradient(as_nan)
        mag = np.sqrt(dy**2 + dx**2) / res  # float32, same ops as golden
        sl = slice(y0 - lo, y0 - lo + (y1 - y0))
        yield mag[sl], blk[sl] != nodata, blk[sl]


def valid_min(source: BlockSource, nodata: float) -> tuple[float, int]:
    """(minimum over the valid cells — NaN when there are none, valid cell
    count) of a block source's core rows: one sweep, no gradient."""
    vmin = np.inf
    n_valid = 0
    for y0, y1, lo, blk in source():
        sel = blk[y0 - lo : y0 - lo + (y1 - y0)]
        valid = sel != nodata
        n_valid += int(valid.sum())
        if valid.any():
            vmin = min(vmin, float(sel[valid].min()))
    return (float(vmin) if np.isfinite(vmin) else float("nan")), n_valid


# below this pixel count the fast path gathers all magnitudes at once.
# True transient peak at the limit with a fully-valid grid: the gathered
# magnitudes (~256 MB f32) + np.concatenate's output + np.median's partition
# copy ≈ 2-3× that (keep is cleared between the latter two) — still inside a
# multi-GB task budget, and gigapixel grids take the O(block) histogram path
MAG_GATHER_LIMIT = 64 * 1024 * 1024


def chunked_min_and_slope(
    buf: bytes,
    h: int,
    w: int,
    res: float,
    nodata: float,
    block_rows: int = 256,
    n_buckets: int = 4096,
    fmt: str = "raw_f32",
) -> tuple[float, float]:
    """(valid_min, median_slope) from an encoded payload without
    materializing the full image. Exactly equals (min over valid,
    golden.terrain_slope) for res ≥ 0.5."""
    if res < 0.5:
        raise ValueError("chunked stats cover the standard path only (res ≥ 0.5 m)")
    source = block_source_for(buf, h, w, fmt, block_rows)

    # ---- single-sweep fast path: when the finite magnitudes fit in task
    # memory (everything but the gigapixel regime), compute min + gradient
    # magnitudes in ONE pass over the blocks and take np.median directly —
    # literally golden.terrain_slope's final step, so parity is by
    # construction. The 3-sweep histogram selection below is kept for grids
    # whose magnitude set is itself the memory hazard (it recomputes the
    # gradient per sweep — 3× the arithmetic — as the price of O(block) RAM).
    if h >= 2 and w >= 2 and h * w <= MAG_GATHER_LIMIT:
        vmin = np.inf
        n_valid = 0
        keep = []
        for mag, valid, sel in _block_mags(source, res, nodata):
            n_valid += int(valid.sum())
            if valid.any():
                vmin = min(vmin, float(sel[valid].min()))
            finite = mag[valid]
            keep.append(finite[~np.isnan(finite)])
        if n_valid == 0:
            return (float(vmin) if np.isfinite(vmin) else float("nan"), PMF_BASE_SLOPE)
        allmag = np.concatenate(keep)
        keep.clear()  # drop the per-block copies before median partitions
        if allmag.size == 0:
            return float(vmin), PMF_BASE_SLOPE
        med = np.median(allmag)
        return float(vmin), float(max(0.01, min(med, 1.0)))

    # ---- pass 0: valid min, finite-magnitude count and max
    vmin, n_valid = valid_min(source, nodata)
    if n_valid == 0 or h < 2 or w < 2:
        return vmin, PMF_BASE_SLOPE
    mag_max = np.float32(0.0)
    n_finite = 0
    for mag, valid, _sel in _block_mags(source, res, nodata):
        finite = mag[valid]
        finite = finite[~np.isnan(finite)]
        n_finite += finite.size
        if finite.size:
            mag_max = max(mag_max, finite.max())
    if n_finite == 0:
        return float(vmin), PMF_BASE_SLOPE

    want = [n_finite // 2] if n_finite % 2 else [n_finite // 2 - 1, n_finite // 2]

    # ---- pass A: bucket counts (bucket = searchsorted(right)-1, clipped)
    edges = np.linspace(0.0, float(mag_max), n_buckets + 1)

    def bucket_of(v: np.ndarray) -> np.ndarray:
        return np.clip(np.searchsorted(edges, v, side="right") - 1, 0, n_buckets - 1)

    counts = np.zeros(n_buckets, dtype=np.int64)
    for mag, valid, _sel in _block_mags(source, res, nodata):
        finite = mag[valid]
        finite = finite[~np.isnan(finite)]
        if finite.size:
            counts += np.bincount(bucket_of(finite), minlength=n_buckets)
    cum = np.cumsum(counts)
    need = sorted({int(np.searchsorted(cum, k + 1)) for k in want})

    # ---- pass B: gather exactly the in-bucket values, select exactly
    keep = []
    for mag, valid, _sel in _block_mags(source, res, nodata):
        finite = mag[valid]
        finite = finite[~np.isnan(finite)]
        if finite.size:
            b = bucket_of(finite)
            keep.append(finite[np.isin(b, need)])
    pool = np.sort(np.concatenate(keep))
    # bucket `need` may be non-contiguous (two medians in different buckets):
    # map global ranks onto the pooled values bucket-by-bucket
    pool_bucket = bucket_of(pool)
    picks = []
    for k in want:
        b = int(np.searchsorted(cum, k + 1))
        picks.append(pool[pool_bucket == b][k - (int(cum[b - 1]) if b > 0 else 0)])
    med = picks[0] if len(picks) == 1 else np.float32((np.float32(picks[0]) + np.float32(picks[1])) / np.float32(2))
    return float(vmin), float(max(0.01, min(float(med), 1.0)))
