"""From-scratch minimal (Geo)TIFF reader/writer — no rasterio, no GDAL.

The reference's whole job surface is GeoTIFF-in / GeoTIFF-out (reference
core.py:126-136, 191-204); the sandbox has no rasterio, so this module
implements the uncompressed-strip subset of TIFF 6.0 + the GeoTIFF tags the
engine needs, in pure stdlib + numpy (tag parsing, strip assembly, IEEE
float32 samples — no entropy coding). ``read_geotiff_table`` is a drop-in for
sources.geotiff.read_geotiff_table with the same output schema, so the DTM
plans run on real .tif files without any optional dependency.

Supported on read: II/MM byte order, classic TIFF (magic 42), one sample per
pixel, Compression=1 (none), 5 (LZW — TIFF-variant dictionary coding with
early change, from scratch in stdlib) or 8/32946 (Deflate — zlib is stdlib,
not entropy-coding-from-scratch), Predictor=2 (horizontal differencing,
integer samples), SampleFormat uint 8/16/32 and IEEE float32, multi-strip,
single-strip and TILED layouts (the COG / `-co TILED=YES` block grid, edge
padding cropped; a COG's overview IFDs are simply ignored — the first IFD
is the full-resolution band), GeoTIFF keys (model type + EPSG),
ModelPixelScale/ModelTiepoint, GDAL_NODATA. Written files: little-endian,
float32, strip size ~64 KiB (optionally Deflate-compressed), GeoTIFF
projected/geographic tags + nodata — readable by GDAL/rasterio/QGIS
(baseline TIFF with standard geo tags).
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd

from dsm2dtm_spark.params import NODATA_DEFAULT

# TIFF tag ids
_NEW_SUBFILE_TYPE = 254  # 1 = reduced-resolution (overview) subfile
_IMAGE_WIDTH = 256
_IMAGE_LENGTH = 257
_BITS_PER_SAMPLE = 258
_COMPRESSION = 259
_PHOTOMETRIC = 262
_STRIP_OFFSETS = 273
_SAMPLES_PER_PIXEL = 277
_ROWS_PER_STRIP = 278
_STRIP_BYTE_COUNTS = 279
_PLANAR_CONFIG = 284
_PREDICTOR = 317
_TILE_WIDTH = 322
_TILE_LENGTH = 323
_TILE_OFFSETS = 324
_TILE_BYTE_COUNTS = 325
_SAMPLE_FORMAT = 339
_MODEL_PIXEL_SCALE = 33550
_MODEL_TIEPOINT = 33922
_GEO_KEY_DIRECTORY = 34735
_GDAL_NODATA = 42113

# GeoTIFF key ids
_GT_MODEL_TYPE = 1024  # 1 = projected, 2 = geographic
_GEOGRAPHIC_TYPE = 2048
_PROJECTED_CS_TYPE = 3072

# TIFF field types → (struct char, byte size); 16 = TIFF_LONG8 (BigTIFF)
_TYPES = {1: ("B", 1), 2: ("c", 1), 3: ("H", 2), 4: ("I", 4), 11: ("f", 4), 12: ("d", 8), 16: ("Q", 8)}


def write_geotiff(
    grid: np.ndarray,
    x0: float,
    y0: float,
    xres: float,
    yres: float,
    epsg: int = 32631,
    nodata: float = NODATA_DEFAULT,
    is_geographic: bool | None = None,
    compress: bool = False,
    bigtiff: bool = False,
    overviews: list[np.ndarray] | None = None,
) -> bytes:
    """Encode a 2-D float32 grid as a GeoTIFF (bytes). (x0, y0) anchor the
    TOP-LEFT corner of the top-left pixel (GDAL convention); yres is the
    positive pixel height (rows step south). ``compress=True`` Deflates
    each strip (TIFF Compression=8 — what `gdal_translate -co
    COMPRESS=DEFLATE` emits; elevation grids typically shrink 2-4×).
    ``bigtiff=True`` emits BigTIFF (magic 43, 8-byte offsets) — mandatory
    once pixel data passes 4 GiB (33k×33k float32), the normal single-
    raster size in the 100-TB regime. ``overviews`` appends reduced-
    resolution grids (e.g. ``build_overviews``' levels) as chained IFDs
    with NewSubfileType=1 — the pyramid-in-file layout GDAL reads as
    embedded overviews; ``read_geotiff(data, ifd_index=k)`` reads level k.
    """
    images = [np.ascontiguousarray(grid, dtype=np.float32)] + [
        np.ascontiguousarray(ov, dtype=np.float32) for ov in (overviews or [])
    ]
    for g in images:
        if g.ndim != 2 or 0 in g.shape:
            raise ValueError(f"grid must be 2-D and non-empty, got shape {g.shape}")
    h0, w0 = images[0].shape
    if is_geographic is None:
        is_geographic = 4000 <= epsg <= 4999  # EPSG geographic CRS block

    nodata_ascii = f"{nodata:.6g}".encode() + b"\x00"
    model_type = 2 if is_geographic else 1
    epsg_key = _GEOGRAPHIC_TYPE if is_geographic else _PROJECTED_CS_TYPE
    geo_keys = [
        (1, 1, 0, 2),  # version, revision, minor, number of keys
        (_GT_MODEL_TYPE, 0, 1, model_type),
        (epsg_key, 0, 1, int(epsg)),
    ]
    geo_dir = [v for key in geo_keys for v in key]

    # per-format geometry (entry-count prefix H/Q; per-entry count and
    # offsets I/Q; value slot 4/8); strip offsets/counts use LONG8 in
    # BigTIFF — they are what can exceed 2^32
    if bigtiff:
        slot, hdr_fmt, hdr_sz, num_fmt, header_sz = 8, "Q", 8, "Q", 16
    else:
        slot, hdr_fmt, hdr_sz, num_fmt, header_sz = 4, "H", 2, "I", 8
    entry_sz = 4 + struct.calcsize(num_fmt) + slot
    off_type = 16 if bigtiff else 4

    def value_bytes(ftype, count, values):
        ch, _ = _TYPES[ftype]
        if ftype == 2:
            return bytes(values)
        return struct.pack(f"<{count}{ch}", *values)

    # pass 1: per-image strips + entries (strip offsets patched in pass 2)
    per: list[dict] = []
    for idx, g in enumerate(images):
        h, w = g.shape
        rps = max(1, 65536 // max(w * 4, 1))
        n_strips = math.ceil(h / rps)
        strips = [g[i * rps : (i + 1) * rps].tobytes() for i in range(n_strips)]
        if compress:
            import zlib

            strips = [zlib.compress(s, 6) for s in strips]
        # overview IFDs scale the pixel size by the actual reduction factor
        xr, yr = float(xres) * (w0 / w), float(yres) * (h0 / h)
        entries = ([(_NEW_SUBFILE_TYPE, 4, 1, [1])] if idx else [])
        entries += [
            (_IMAGE_WIDTH, 4, 1, [w]),
            (_IMAGE_LENGTH, 4, 1, [h]),
            (_BITS_PER_SAMPLE, 3, 1, [32]),
            (_COMPRESSION, 3, 1, [8 if compress else 1]),
            (_PHOTOMETRIC, 3, 1, [1]),
            (_STRIP_OFFSETS, off_type, n_strips, None),  # pass 2
            (_SAMPLES_PER_PIXEL, 3, 1, [1]),
            (_ROWS_PER_STRIP, 4, 1, [rps]),
            (_STRIP_BYTE_COUNTS, off_type, n_strips, [len(s) for s in strips]),
            (_PLANAR_CONFIG, 3, 1, [1]),
            (_SAMPLE_FORMAT, 3, 1, [3]),
            (_MODEL_PIXEL_SCALE, 12, 3, [xr, yr, 0.0]),
            (_MODEL_TIEPOINT, 12, 6, [0.0, 0.0, 0.0, float(x0), float(y0), 0.0]),
            (_GEO_KEY_DIRECTORY, 3, len(geo_dir), geo_dir),
            (_GDAL_NODATA, 2, len(nodata_ascii), nodata_ascii),
        ]
        per.append({"strips": strips, "entries": entries})

    # layout: header | IFD0 ovf0 | IFD1 ovf1 | … | all strip data
    pos = header_sz
    for p in per:
        p["sizes"] = [count * _TYPES[ftype][1] for _, ftype, count, _ in p["entries"]]
        p["ifd_at"] = pos
        p["ovf_at"] = pos + hdr_sz + entry_sz * len(p["entries"]) + slot
        pos = p["ovf_at"] + sum(s for s in p["sizes"] if s > slot)
    for p in per:
        offs = []
        for s in p["strips"]:
            offs.append(pos)
            pos += len(s)
        i = next(i for i, ent in enumerate(p["entries"]) if ent[0] == _STRIP_OFFSETS)
        p["entries"][i] = (_STRIP_OFFSETS, off_type, len(offs), offs)
    if not bigtiff and pos > 0xFFFFFFFF:
        # classic TIFF offsets are 32-bit; fail with direction, not a
        # struct.error deep in the IFD emit on some executor
        raise ValueError(
            f"pixel data ends at byte {pos} > 4 GiB — classic TIFF cannot "
            "address it; write with bigtiff=True"
        )

    out = bytearray(
        struct.pack("<2sHHHQ", b"II", 43, 8, 0, 16) if bigtiff else struct.pack("<2sHI", b"II", 42, 8)
    )
    for k, p in enumerate(per):
        if len(out) != p["ifd_at"]:  # layout invariant — never strip-able (-O)
            raise RuntimeError(f"IFD layout desync: at {len(out)}, expected {p['ifd_at']}")
        ifd = bytearray(struct.pack(f"<{hdr_fmt}", len(p["entries"])))
        overflow = bytearray()
        ov_pos = p["ovf_at"]
        for (tag, ftype, count, values), size in zip(p["entries"], p["sizes"]):
            vb = value_bytes(ftype, count, values)
            ifd += struct.pack("<HH", tag, ftype) + struct.pack(f"<{num_fmt}", count)
            if size <= slot:
                ifd += vb.ljust(slot, b"\x00")
            else:
                ifd += struct.pack(f"<{num_fmt}", ov_pos)
                overflow += vb
                ov_pos += size
        next_at = per[k + 1]["ifd_at"] if k + 1 < len(per) else 0
        ifd += struct.pack(f"<{num_fmt}", next_at)
        out += ifd + overflow
    for p in per:
        out += b"".join(p["strips"])
    return bytes(out)


def _lzw_decode(data: bytes, cap: int) -> bytes:
    """TIFF-variant LZW (Compression=5) strip/tile decoder — the most common
    legacy GeoTIFF codec in the wild. Dictionary coding in pure stdlib, the
    same honest boundary as the Deflate path (no entropy coding). Implements
    the TIFF 6.0 conventions exactly: MSB-first bit packing, ClearCode=256,
    EOI=257, 9→12-bit codes with EARLY CHANGE (the width bumps when the next
    table slot is (1<<width)−1 — one code earlier than plain LZW; libtiff and
    GDAL both write this). Output is capped at ``cap`` bytes (the caller's
    expected strip size), so a crafted stream cannot balloon an executor —
    the same bomb guard as the Deflate path. Malformed streams raise
    ValueError (the typed error the permissive quarantine expects)."""
    out = bytearray()
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width, next_code = 9, 258
    bitpos, nbits = 0, len(data) * 8
    old: bytes | None = None
    try:
        while bitpos + width <= nbits and len(out) < cap:
            b0 = bitpos >> 3
            window = int.from_bytes(data[b0 : b0 + 3].ljust(3, b"\x00"), "big")
            code = (window >> (24 - (bitpos & 7) - width)) & ((1 << width) - 1)
            bitpos += width
            if code == 256:  # ClearCode
                table = list(base)
                width, next_code = 9, 258
                old = None
                continue
            if code == 257:  # EOI
                break
            if old is None:
                entry = table[code]
            elif code < next_code:
                entry = table[code]
                table.append(old + entry[:1])
                next_code += 1
            elif code == next_code:  # the KwKwK special case
                entry = old + old[:1]
                table.append(entry)
                next_code += 1
            else:
                raise ValueError(f"LZW code {code} beyond table size {next_code}")
            out += entry
            old = entry
            if next_code == (1 << width) - 1 and width < 12:
                width += 1  # early change
    except IndexError as exc:
        raise ValueError(f"corrupt LZW stream: {exc}") from exc
    return bytes(out[:cap])


def _check_claimed_alloc(claimed_bytes: int, file_bytes: int, max_ratio: int = 1100) -> None:
    """Bound the pixel-buffer allocation implied by header tags against the
    actual file size BEFORE allocating: a crafted few-hundred-byte file
    claiming a huge ImageWidth/Length or TileWidth/Length would otherwise
    force a multi-GB ``np.empty`` (executor OOM) while sidestepping the
    per-strip Deflate-bomb cap, which only guards the data path. The ratio
    is per-codec: Deflate's theoretical max expansion is 1032:1 (default
    1100×), while LZW on constant data legitimately reaches ~1300-2700:1
    (12-bit codes each emitting up-to-multi-KB table strings), so LZW files
    get 3000×. A 64 MiB floor keeps legitimately sparse files (tiny file,
    real grid of sparse blocks) readable. Raises the typed ValueError the
    permissive quarantine path expects."""
    allowance = max(64 << 20, max_ratio * max(file_bytes, 1))
    if claimed_bytes > allowance:
        raise ValueError(
            f"TIFF header claims {claimed_bytes} pixel bytes from a "
            f"{file_bytes}-byte file (> {allowance} allowed) — forged or "
            "corrupt dimensions"
        )


def _parse_nodata(tags: dict) -> float | None:
    nd = tags.get(_GDAL_NODATA)
    if nd:
        try:
            return float(nd.rstrip(b"\x00").decode("ascii", "ignore").strip())
        except ValueError:
            pass
    return None


def read_geotiff(data, ifd_index: int = 0) -> tuple[np.ndarray, dict]:
    """Decode a band-1 TIFF/BigTIFF grid (strips or tiles, plain or
    Deflate, predictor 1/2 — the full supported-on-read list in the module
    docstring); returns (grid, meta) with meta = {x0, y0, xres, yres, epsg,
    is_geographic, nodata} (geo fields None when the file carries no
    GeoTIFF keys — callers decide whether a missing CRS is fatal, mirroring
    reference core.py:60-61). ``ifd_index`` follows the IFD chain:
    0 = full resolution, k ≥ 1 = the k-th embedded overview (LOD reads
    from a COG / pyramid-carrying file without touching base pixels).

    Accepts bytes, a filesystem path, or an open binary file handle — the
    engine twin of the reference's path-or-open-dataset ingest surface
    (core.py:126-136)."""
    import os

    if isinstance(data, (str, os.PathLike)):
        with open(os.fspath(data), "rb") as f:
            data = f.read()
    elif hasattr(data, "read"):  # open binary handle
        data = data.read()
    if len(data) < 8:
        raise ValueError("not a TIFF: truncated header")
    order = data[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        raise ValueError(f"not a TIFF: bad byte-order mark {order!r}")
    (magic,) = struct.unpack(f"{e}H", data[2:4])
    if magic == 42:
        big = False
        (ifd_off,) = struct.unpack(f"{e}I", data[4:8])
    elif magic == 43:
        # BigTIFF: 8-byte offsets everywhere — required once a single
        # raster's data passes 4 GiB (a 33k×33k float32 grid), which the
        # 100-TB regime reaches routinely
        big = True
        if len(data) < 16:
            raise ValueError("not a TIFF: truncated BigTIFF header")
        offsize, _pad, ifd_off = struct.unpack(f"{e}HHQ", data[4:16])
        if offsize != 8:
            raise ValueError(f"BigTIFF offset size {offsize} is invalid (must be 8)")
    else:
        raise ValueError(f"not a TIFF: magic {magic}")
    # per-format IFD geometry: the directory's entry-count PREFIX is H/Q,
    # each entry's count and offset fields are I/Q, the value slot is 4/8
    if big:
        hdr_fmt, hdr_sz, num_fmt, num_sz, slot = "Q", 8, "Q", 8, 8
    else:
        hdr_fmt, hdr_sz, num_fmt, num_sz, slot = "H", 2, "I", 4, 4
    entry_sz = 4 + num_sz + slot

    # malformed/truncated structures must surface as ValueError (the typed
    # error the permissive quarantine catches), never a raw struct.error
    try:
        for _ in range(ifd_index):  # walk the chain to the requested IFD
            (n_here,) = struct.unpack(f"{e}{hdr_fmt}", data[ifd_off : ifd_off + hdr_sz])
            nxt_at = ifd_off + hdr_sz + entry_sz * n_here
            (ifd_off,) = struct.unpack(f"{e}{num_fmt}", data[nxt_at : nxt_at + num_sz])
            if ifd_off == 0:
                raise ValueError(f"TIFF has no IFD #{ifd_index} (chain ended)")
        (n_entries,) = struct.unpack(f"{e}{hdr_fmt}", data[ifd_off : ifd_off + hdr_sz])
        tags: dict[int, list] = {}
        for i in range(n_entries):
            off = ifd_off + hdr_sz + entry_sz * i
            tag, ftype = struct.unpack(f"{e}HH", data[off : off + 4])
            (count,) = struct.unpack(f"{e}{num_fmt}", data[off + 4 : off + 4 + num_sz])
            if ftype not in _TYPES:
                continue  # rational/unknown types the engine doesn't need
            ch, sz = _TYPES[ftype]
            nbytes = count * sz
            val_at = off + 4 + num_sz
            if nbytes <= slot:
                raw = data[val_at : val_at + nbytes]
            else:
                (voff,) = struct.unpack(f"{e}{num_fmt}", data[val_at : val_at + num_sz])
                raw = data[voff : voff + nbytes]
            if ftype == 2:
                tags[tag] = raw
            else:
                tags[tag] = list(struct.unpack(f"{e}{count}{ch}", raw))
    except struct.error as exc:
        raise ValueError(f"truncated/malformed TIFF structure: {exc}") from exc

    def one(tag, default=None):
        v = tags.get(tag)
        return v[0] if isinstance(v, list) else (v if v is not None else default)

    w, h = int(one(_IMAGE_WIDTH, 0)), int(one(_IMAGE_LENGTH, 0))
    if not w or not h:
        raise ValueError("TIFF missing ImageWidth/ImageLength")
    comp = int(one(_COMPRESSION, 1))
    if comp not in (1, 5, 8, 32946):  # 5 = LZW, 8 = Deflate (Adobe), 32946 = legacy
        raise ValueError(
            f"TIFF compression {comp} is not supported (supported: none, LZW, "
            "Deflate; JPEG entropy coding needs a library)"
        )
    predictor = int(one(_PREDICTOR, 1))
    spp = int(one(_SAMPLES_PER_PIXEL, 1))
    planar = int(one(_PLANAR_CONFIG, 1))
    bits = int(one(_BITS_PER_SAMPLE, 1))
    sfmt = int(one(_SAMPLE_FORMAT, 1))
    dtype = {
        (32, 3): np.float32,
        (8, 1): np.uint8,
        (16, 1): np.uint16,
        (32, 1): np.uint32,
    }.get((bits, sfmt))
    if dtype is None:
        raise ValueError(f"unsupported sample layout: {bits}-bit format {sfmt}")
    bps = tags.get(_BITS_PER_SAMPLE)
    if spp > 1 and isinstance(bps, list) and len(set(bps)) > 1:
        raise ValueError("mixed per-band bit depths are not supported")
    if predictor == 2 and dtype is np.float32:
        # predictor 2 is undefined for floats (that's predictor 3)
        raise ValueError("TIFF predictor 2 with float samples is invalid")
    if predictor not in (1, 2):
        raise ValueError(f"TIFF predictor {predictor} is not supported (1, 2 only)")
    spp_interleaved = 1 if (spp > 1 and planar == 2) else spp
    native = np.dtype(dtype)
    stored = native.newbyteorder(e)
    item = bits // 8

    def inflate(chunk: bytes, cap: int) -> bytes:
        """Decompress with an allocation CAP: bytes past the caller's
        expected size are never materialized, so a crafted zip bomb in one
        strip/tile cannot OOM an executor (the extra is discarded — the
        assembly below only reads the expected prefix anyway)."""
        if comp in (8, 32946):
            import zlib

            try:
                return zlib.decompressobj().decompress(chunk, max(cap, 0))
            except zlib.error as exc:
                raise ValueError(f"TIFF Deflate strip/tile is corrupt: {exc}") from exc
        if comp == 5:
            return _lzw_decode(chunk, max(cap, 0))
        return chunk

    def undo_predictor(arr: np.ndarray) -> np.ndarray:
        """Horizontal differencing undo: modular cumsum across columns.
        Rows never span strips, and each TILE's rows difference
        independently — so this runs per assembled-strip-region / per tile."""
        if predictor != 2:
            return arr
        return arr.astype(native, copy=True).cumsum(axis=1, dtype=native)

    # sparse blocks (GDAL SPARSE_OK: offset 0 / count 0) read as the file's
    # nodata value, or 0 without one — GDAL's own semantics. A nodata the
    # sample type cannot hold (e.g. 'nan' on uint16) falls back to 0 rather
    # than failing files that contain no sparse blocks at all.
    nodata_val = _parse_nodata(tags)
    try:
        fill = native.type(nodata_val) if nodata_val is not None else native.type(0)
    except (ValueError, OverflowError):
        fill = native.type(0)

    if _TILE_OFFSETS in tags:
        # tiled layout (what COG / gdal -co TILED=YES emits): the image is a
        # grid of tw×tl blocks, edge tiles padded to full size
        tw, tl = int(one(_TILE_WIDTH, 0)), int(one(_TILE_LENGTH, 0))
        if tw <= 0 or tl <= 0:
            raise ValueError("tiled TIFF missing TileWidth/TileLength")
        offsets = tags.get(_TILE_OFFSETS)
        counts = tags.get(_TILE_BYTE_COUNTS)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("TIFF missing tile layout tags")
        across, down = math.ceil(w / tw), math.ceil(h / tl)
        n_band_tiles = across * down
        if len(offsets) < n_band_tiles:
            raise ValueError(f"TIFF tile table too short: {len(offsets)} < {n_band_tiles}")
        # planar band 1 = the first across×down tiles; chunky uses them all
        _check_claimed_alloc(
            down * tl * across * tw * spp_interleaved * item, len(data),
            max_ratio=3000 if comp == 5 else 1100,
        )
        full = np.empty((down * tl, across * tw, spp_interleaved), dtype=native)
        t_expected = tl * tw * spp_interleaved * item
        for idx in range(n_band_tiles):
            ty, tx = divmod(idx, across)
            region = full[ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw]
            if counts[idx] == 0 or offsets[idx] == 0:
                region[:] = fill  # sparse block — no predictor to undo
                continue
            raw = inflate(data[offsets[idx] : offsets[idx] + counts[idx]], t_expected)
            if len(raw) < t_expected:
                raise ValueError(f"TIFF tile {idx} truncated: {len(raw)} < {t_expected}")
            tile = np.frombuffer(raw[:t_expected], dtype=stored).reshape(tl, tw, spp_interleaved)
            region[:] = undo_predictor(tile)
        full = full[:h, :w]  # crop edge-tile padding
    else:
        offsets = tags.get(_STRIP_OFFSETS)
        counts = tags.get(_STRIP_BYTE_COUNTS)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("TIFF missing strip layout tags")
        rps = int(one(_ROWS_PER_STRIP, h)) or h
        if spp > 1 and planar == 2:
            # planar layout: strips come band-by-band; band 1 = the first
            # ceil(h / rows_per_strip) strips
            n_band_strips = math.ceil(h / rps)
            offsets, counts = offsets[:n_band_strips], counts[:n_band_strips]
        expected = w * h * spp_interleaved * item
        _check_claimed_alloc(expected, len(data), max_ratio=3000 if comp == 5 else 1100)
        parts, got = [], 0
        for i, (o, c) in enumerate(zip(offsets, counts)):
            if got >= expected:
                # image complete — a cap of 0 would mean UNLIMITED to zlib,
                # so never hand trailing (possibly bomb) strips to inflate
                break
            # each strip's exact byte share: over- or under-inflating a
            # strip must raise/truncate HERE, not silently shift every
            # following strip's rows (the tile path's per-tile check)
            rows_i = max(0, min(rps, h - i * rps))
            exp_i = rows_i * w * spp_interleaved * item
            if c == 0 or o == 0:
                # sparse strip: synthesize it in STORED form so the shared
                # predictor undo below reproduces the constant fill exactly
                # (differenced form: first column = fill, deltas 0)
                blk = np.zeros((rows_i, w, spp_interleaved), dtype=stored)
                if predictor == 2:
                    blk[:, 0, :] = fill
                else:
                    blk[:] = fill
                parts.append(blk.tobytes())
            else:
                part = inflate(data[o : o + c], exp_i)[:exp_i]
                if len(part) < exp_i:
                    raise ValueError(f"TIFF strip {i} truncated: {len(part)} < {exp_i}")
                parts.append(part)
            got += len(parts[-1])
        buf = b"".join(parts)
        if len(buf) < expected:
            raise ValueError(f"TIFF pixel data truncated: {len(buf)} < {expected}")
        full = undo_predictor(
            np.frombuffer(buf[:expected], dtype=stored).reshape(h, w, spp_interleaved)
        )
    grid = full[:, :, 0]  # band 1, like the reference's src.read(1) (core.py:68)
    grid = np.ascontiguousarray(grid.astype(grid.dtype.newbyteorder("=")))  # native order for kernels

    meta = {"x0": None, "y0": None, "xres": None, "yres": None, "epsg": None,
            "is_geographic": None, "nodata": None}
    scale = tags.get(_MODEL_PIXEL_SCALE)
    tie = tags.get(_MODEL_TIEPOINT)
    if scale and len(scale) >= 2:
        meta["xres"], meta["yres"] = float(scale[0]), float(scale[1])
    if tie and len(tie) >= 6:
        # tiepoint maps raster (I,J) → model (X,Y); anchor at pixel (0,0)
        meta["x0"] = float(tie[3]) - float(tie[0]) * (meta["xres"] or 0.0)
        meta["y0"] = float(tie[4]) + float(tie[1]) * (meta["yres"] or 0.0)
    geo = tags.get(_GEO_KEY_DIRECTORY)
    if geo and len(geo) >= 4:
        n_keys = geo[3]
        for k in range(n_keys):
            key_id, loc, cnt, val = geo[4 + 4 * k : 8 + 4 * k]
            if key_id == _GT_MODEL_TYPE and loc == 0:
                meta["is_geographic"] = val == 2
            elif key_id in (_GEOGRAPHIC_TYPE, _PROJECTED_CS_TYPE) and loc == 0:
                meta["epsg"] = int(val)
    meta["nodata"] = nodata_val
    return grid, meta


GEOTIFF_ROW_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, "
    "phash long, lon0 double, lat0 double, xres_m double, yres_m double, "
    "crs int, is_geographic boolean"
)


def _row_from_tif_bytes(image_id: str, data: bytes) -> dict:
    """Decode one TIFF payload into the canonical image-table row (band-1
    float32, nodata normalized to the −99999 sentinel, hard-fail on missing
    CRS per reference core.py:60-61) — shared by the path, bytes, and
    open-handle ingest surfaces."""
    from dsm2dtm_spark import codecs

    grid, meta = read_geotiff(data)
    if meta["epsg"] is None:
        raise ValueError(f"{image_id}: dataset has no CRS")
    grid = grid.astype(np.float32)
    nodata = meta["nodata"] if meta["nodata"] is not None else NODATA_DEFAULT
    mask = np.isnan(grid) if np.isnan(nodata) else (grid == nodata) | np.isnan(grid)
    grid = np.where(mask, np.float32(NODATA_DEFAULT), grid)
    return {
        "image_id": image_id,
        "bytes": codecs.encode_raw_f32(grid),
        "w": int(grid.shape[1]),
        "h": int(grid.shape[0]),
        "fmt": "raw_f32",
        "caption": image_id,
        "phash": codecs.ahash64(grid),
        "lon0": float(meta["x0"] or 0.0),
        "lat0": float(meta["y0"] or 0.0),
        "xres_m": float(meta["xres"] or 1.0),
        "yres_m": float(meta["yres"] or 1.0),
        "crs": int(meta["epsg"]),
        "is_geographic": bool(meta["is_geographic"]),
    }


def read_geotiff_table(spark, paths: list[str], parallelism: int | None = None):
    """list of .tif paths → the engine's canonical image+caption DataFrame,
    using the built-in reader — the zero-dependency twin of
    sources.geotiff.read_geotiff_table (same schema, same semantics: band-1
    float32, nodata normalized to the −99999 sentinel, hard-fail on missing
    CRS per reference core.py:60-61). Files open INSIDE the per-row map on
    the executors; the driver never touches pixel data."""
    from pyspark.sql import functions as F

    from dsm2dtm_spark.util import map_rows

    def load(row) -> dict:
        with open(row.path, "rb") as f:
            return _row_from_tif_bytes(row.path, f.read())

    if parallelism is None:
        parallelism = min(len(paths), spark.sparkContext.defaultParallelism) or 1
    paths_df = spark.createDataFrame(pd.DataFrame({"path": paths})).repartition(parallelism, F.col("path"))
    return map_rows(paths_df, load, GEOTIFF_ROW_SCHEMA)


def read_raster_array(image_id: str, grid: np.ndarray, profile: dict) -> dict:
    """One in-memory (array, profile) → a canonical image-table row: the
    engine twin of handing the reference an already-open dataset it never
    re-reads from disk. ``profile`` keys: x0, y0, xres, yres, epsg
    (REQUIRED — missing CRS hard-fails exactly like the file paths),
    is_geographic, nodata (both optional)."""
    from dsm2dtm_spark import codecs

    if profile.get("epsg") is None:
        raise ValueError(f"{image_id}: dataset has no CRS")
    grid = np.asarray(grid, dtype=np.float32)
    # rasterio profiles always carry a nodata key, usually None — treat an
    # explicit None exactly like an absent key (the file-path surface does)
    nodata = profile.get("nodata")
    nodata = NODATA_DEFAULT if nodata is None else nodata
    mask = np.isnan(grid) if np.isnan(nodata) else (grid == nodata) | np.isnan(grid)
    grid = np.where(mask, np.float32(NODATA_DEFAULT), grid)
    epsg = int(profile["epsg"])
    return {
        "image_id": image_id,
        "bytes": codecs.encode_raw_f32(grid),
        "w": int(grid.shape[1]),
        "h": int(grid.shape[0]),
        "fmt": "raw_f32",
        "caption": image_id,
        "phash": codecs.ahash64(grid),
        "lon0": float(profile.get("x0", 0.0)),
        "lat0": float(profile.get("y0", 0.0)),
        "xres_m": float(profile.get("xres", 1.0)),
        "yres_m": float(profile.get("yres", 1.0)),
        "crs": epsg,
        "is_geographic": bool(profile.get("is_geographic", 4000 <= epsg <= 4999)),
    }


def read_geotiff_objects(spark, items, parallelism: int | None = None):
    """Path-or-open-object ingest parity with the reference (core.py:126-136
    `_load_dsm(Union[str, DatasetReader])`, test_core.py:189-198): each item
    may be a filesystem path, raw TIFF ``bytes``, an open binary handle, or
    an ``(image_id, array, profile)`` tuple. Returns one canonical
    image+caption DataFrame over all of them.

    Distribution is honest about what serializes: PATHS stay executor-opened
    (read_geotiff_table — the driver never touches their pixels); handles
    and in-memory objects by definition live in the driver process, so their
    BYTES are read driver-side, shipped as rows, and DECODED on executors
    (the pixel work — dominant for compressed TIFFs — still parallelizes)."""
    import os as _os

    from pyspark.sql import functions as F

    from dsm2dtm_spark.util import map_rows

    paths: list[str] = []
    byte_items: list[tuple[str, bytes]] = []
    inline_rows: list[dict] = []
    for i, item in enumerate(items):
        if isinstance(item, (str, _os.PathLike)):
            paths.append(_os.fspath(item))
        elif isinstance(item, (bytes, bytearray)):
            byte_items.append((f"mem_{i:06d}.tif", bytes(item)))
        elif hasattr(item, "read"):
            name = getattr(item, "name", None) or f"handle_{i:06d}.tif"
            byte_items.append((str(name), item.read()))
        elif isinstance(item, (tuple, list)) and len(item) == 3:
            image_id, grid, profile = item
            inline_rows.append(read_raster_array(str(image_id), grid, profile))
        else:
            raise TypeError(
                f"item {i}: expected path, bytes, open binary handle, or "
                f"(image_id, array, profile) — got {type(item).__name__}"
            )

    parts = []
    if paths:
        parts.append(read_geotiff_table(spark, paths, parallelism))
    if byte_items:
        n = parallelism or min(len(byte_items), spark.sparkContext.defaultParallelism) or 1
        bdf = spark.createDataFrame(
            pd.DataFrame(byte_items, columns=["image_id", "data"]),
            "image_id string, data binary",
        )
        parts.append(
            map_rows(
                bdf.repartition(n, F.col("image_id")),
                lambda row: _row_from_tif_bytes(row.image_id, row.data),
                GEOTIFF_ROW_SCHEMA,
            )
        )
    if inline_rows:
        parts.append(spark.createDataFrame(pd.DataFrame(inline_rows), GEOTIFF_ROW_SCHEMA))
    if not parts:
        raise ValueError("read_geotiff_objects: no items")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_geotiff_files(
    dtm_rows,
    out_dir: str,
    nodata: float = NODATA_DEFAULT,
    compress: bool = False,
    overview_levels: int = 0,
) -> list[str]:
    """DTM output rows (image_id, bytes, w, h, fmt, lon0/lat0/xres_m/yres_m,
    crs, is_geographic when present) → one .tif per row under ``out_dir`` —
    the sink half of the reference's GeoTIFF-out surface (core.py:191-204).
    Runs distributed (a per-row map writes on executors against a shared
    filesystem); returns the written paths. Quarantined rows (NULL bytes —
    the permissive plans' poison-row marker) are skipped, not crashed on.
    Filenames carry a short image_id digest so inputs sharing a basename
    (a/site.tif and b/site.tif) cannot overwrite each other."""
    import hashlib
    import os

    from dsm2dtm_spark import codecs
    from dsm2dtm_spark.util import map_rows

    os.makedirs(out_dir, exist_ok=True)
    cols = set(dtm_rows.columns)

    def dump(row) -> dict | None:
        if row.bytes is None:  # quarantined in permissive mode
            return None
        grid = codecs.decode(row.bytes, int(row.h), int(row.w), row.fmt)
        ovs = None
        if overview_levels:
            # embed the pyramid (GDAL-readable overviews) so LOD consumers
            # never touch base pixels
            from dsm2dtm_spark.operators.terrain import overview_levels_numpy

            ovs = [
                np.where(cnt > 0, value, float(nodata)).astype(np.float32)
                for _, cnt, value in overview_levels_numpy(grid, overview_levels, nodata=float(nodata))
            ]
        name = os.path.basename(str(row.image_id)).rsplit(".", 1)[0] or "raster"
        digest = hashlib.md5(str(row.image_id).encode()).hexdigest()[:8]
        path = os.path.join(out_dir, f"{name}_{digest}_dtm.tif")
        data = write_geotiff(
            grid,
            x0=float(getattr(row, "lon0", 0.0)),
            y0=float(getattr(row, "lat0", 0.0)),
            xres=float(getattr(row, "xres_m", 1.0)),
            yres=float(getattr(row, "yres_m", 1.0)),
            epsg=int(getattr(row, "crs", 32631)),
            nodata=nodata,
            is_geographic=bool(getattr(row, "is_geographic", False)),
            compress=compress,
            overviews=ovs,
        )
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
        return {"image_id": row.image_id, "path": path}

    needed = [c for c in ("image_id", "bytes", "w", "h", "fmt", "lon0", "lat0",
                          "xres_m", "yres_m", "crs", "is_geographic") if c in cols]
    written = map_rows(dtm_rows.select(*needed), dump, "image_id string, path string")
    return [r.path for r in written.collect()]
