"""Raster <-> bytes codecs for the image+caption table, plus perceptual hash.

The engine stores each DSM grid as one ``bytes`` cell (BASELINE.json
input_hint schema); grids are decoded to ``np.ndarray(h, w) float32`` only
inside pandas UDFs. Replaces the reference's rasterio/GDAL file I/O
(core.py:56-74, 191-204) with in-row codecs:

- ``raw_f32``  little-endian float32, row-major — lossless, zero-copy decode.
- ``png16``    a real, valid 16-bit grayscale PNG (stdlib zlib, filter 0) with
               the affine scale/offset + nodata code carried in a tEXt chunk.
               Quantizing in general; the synthetic generator snaps stored
               grids through one encode/decode round trip so the stored truth
               is exactly representable → lossless thereafter (FIXTURES.md §1).
- ``qz8``      deliberately lossy 8-bit affine quantizer — exercises the
               PSNR ≥ 40 dB branch of the per-row invariant.

All pure stdlib + numpy; no PIL/cv2 (absent in the environment, SURVEY.md §7.0).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from dsm2dtm_spark.params import NODATA_DEFAULT

FORMATS = ("raw_f32", "png16", "qz8")

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)


# ---------------------------------------------------------------- raw_f32


def encode_raw_f32(grid: np.ndarray) -> bytes:
    # tobytes() itself emits C order for non-contiguous input, so a separate
    # ascontiguousarray here would just add a second full copy
    return np.asarray(grid, dtype="<f4").tobytes()


def decode_raw_f32(data: bytes, h: int, w: int) -> np.ndarray:
    return np.frombuffer(data, dtype="<f4", count=h * w).reshape(h, w).copy()


def encode_zf32(grid: np.ndarray) -> bytes:
    """LOSSLESS, ADAPTIVE shuffle-leg codec for the tiled plan's intra-job
    payloads (tile cuts out, processed cores back). Spark lz4-compresses
    shuffle FILES already, but the Arrow transfers across the Python↔JVM
    boundary and the in-JVM row copies move the raw bytes — at 32 local
    workers those copies are the measured memory-bandwidth ceiling
    (BENCH/scaling.json), so shrinking the payload shrinks the wall.

    Format: 1-byte marker + body. 'P' = PER-BYTE-PLANE: the f32 stream
    splits into its 4 byte planes, and each plane independently ships raw
    or zlib-1 (decided by a 16 KiB sample). This fits f32 rasters exactly:
    the low-mantissa planes of lidar-like data are incompressible white
    noise that plain deflate burns ~30 MB/s/core on for nothing, while the
    exponent/high-mantissa planes compress 4-90× almost for free — per-
    plane choice gets the whole-buffer ratio (~1.8× noisy, 200×+ smooth
    terrain) at ~3.5× less CPU than whole-buffer deflate. 'R' = raw f32
    passthrough when no plane is worth compressing (then decode is a
    zero-copy frombuffer — no transpose). Lossless by construction."""
    import struct
    import zlib

    raw = np.asarray(grid, dtype="<f4").tobytes()
    planes = np.frombuffer(raw, np.uint8).reshape(-1, 4).T
    flags, parts = [], []
    for p in range(4):
        pb = planes[p].tobytes()
        sample = pb[: 1 << 14]
        if len(zlib.compress(sample, 1)) < 0.6 * len(sample):
            z = zlib.compress(pb, 1)
            if len(z) < len(pb):
                flags.append(1)
                parts.append(z)
                continue
        flags.append(0)
        parts.append(pb)
    if not any(flags):
        return b"R" + raw
    header = struct.pack("<4B4I", *flags, *(len(p) for p in parts))
    return b"P" + header + b"".join(parts)


def decode_zf32(data: bytes, h: int, w: int) -> np.ndarray:
    """Inverse of encode_zf32. Each plane's inflate is capped at the
    caller's claimed h·w size (same bomb discipline as the TIFF reader);
    short or unmarked streams raise the typed ValueError quarantine paths
    expect."""
    import struct
    import zlib

    n = h * w
    marker, body = data[:1], data[1:]
    if marker == b"R":
        if len(body) < n * 4:
            raise ValueError(f"zf32 payload truncated: {len(body)} < {n * 4}")
        return np.frombuffer(body, dtype="<f4", count=n).reshape(h, w)
    if marker != b"P":
        raise ValueError(f"zf32 payload has unknown marker {marker!r}")
    if len(body) < 20:
        raise ValueError("zf32 payload truncated: missing plane header")
    f0, f1, f2, f3, l0, l1, l2, l3 = struct.unpack("<4B4I", body[:20])
    flags, lens = (f0, f1, f2, f3), (l0, l1, l2, l3)
    planes = np.empty((4, n), dtype=np.uint8)
    at = 20
    for p in range(4):
        chunk = body[at : at + lens[p]]
        if len(chunk) < lens[p]:
            raise ValueError(f"zf32 plane {p} truncated: {len(chunk)} < {lens[p]}")
        at += lens[p]
        if flags[p]:
            try:
                pb = zlib.decompressobj().decompress(chunk, n)
            except zlib.error as exc:
                raise ValueError(f"zf32 plane {p} is corrupt: {exc}") from exc
        else:
            pb = chunk
        if len(pb) < n:
            raise ValueError(f"zf32 plane {p} truncated: {len(pb)} < {n}")
        planes[p] = np.frombuffer(pb, np.uint8, count=n)
    return np.ascontiguousarray(planes.T).view("<f4").reshape(h, w)


# ---------------------------------------------------------------- quantizers

def _affine_params(grid: np.ndarray, nodata: float, levels: int) -> tuple[float, float]:
    valid = grid != nodata
    if not valid.any():
        return 0.0, 1.0
    lo = float(grid[valid].min())
    hi = float(grid[valid].max())
    scale = (hi - lo) / (levels - 1) if hi > lo else 1.0
    return lo, scale


def _quantize(grid: np.ndarray, nodata: float, offset: float, scale: float, levels: int, dtype) -> np.ndarray:
    """Codes 1..levels map valid values; code 0 is the nodata sentinel."""
    codes = np.rint((grid.astype(np.float64) - offset) / scale).astype(np.int64) + 1
    codes = np.clip(codes, 1, levels)
    codes[grid == nodata] = 0
    return codes.astype(dtype)


def _dequantize(codes: np.ndarray, nodata: float, offset: float, scale: float) -> np.ndarray:
    out = ((codes.astype(np.float64) - 1) * scale + offset).astype(np.float32)
    out[codes == 0] = nodata
    return out


# ---------------------------------------------------------------- png16


def encode_png16(grid: np.ndarray, nodata: float = NODATA_DEFAULT) -> bytes:
    h, w = grid.shape
    offset, scale = _affine_params(grid, nodata, 65535)
    codes = _quantize(grid, nodata, offset, scale, 65535, np.uint16)
    raw = b"".join(b"\x00" + codes[i].astype(">u2").tobytes() for i in range(h))
    meta = f"offset={offset!r};scale={scale!r};nodata={nodata!r}".encode()
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0))
        + _png_chunk(b"tEXt", b"dsm2dtm\x00" + meta)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _iter_png_chunks(data: bytes):
    pos = len(_PNG_SIG)
    while pos < len(data):
        (n,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + n]
        yield tag, payload
        pos += 12 + n


def decode_png16(data: bytes, h: int, w: int) -> np.ndarray:
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG stream")
    meta = {}
    idat = b""
    ph = pw = None
    for tag, payload in _iter_png_chunks(data):
        if tag == b"IHDR":
            pw, ph, depth, ctype = struct.unpack_from(">IIBB", payload)
            if depth != 16 or ctype != 0:
                raise ValueError("png16 codec only reads 16-bit grayscale")
        elif tag == b"tEXt" and payload.startswith(b"dsm2dtm\x00"):
            for kv in payload[len(b"dsm2dtm\x00") :].decode().split(";"):
                k, v = kv.split("=", 1)
                meta[k] = float(v)
        elif tag == b"IDAT":
            idat += payload
    if (ph, pw) != (h, w):
        raise ValueError(f"PNG dims {(ph, pw)} disagree with row metadata {(h, w)}")
    raw = zlib.decompress(idat)
    stride = 1 + 2 * w
    rows = []
    prev = np.zeros(2 * w, dtype=np.uint8)
    for i in range(h):
        line = raw[i * stride : (i + 1) * stride]
        ftype = line[0]
        cur = np.frombuffer(line[1:], dtype=np.uint8).copy()
        if ftype == 2:  # Up filter (we emit 0; accept 0/2 for robustness)
            cur = (cur + prev).astype(np.uint8)
        elif ftype != 0:
            raise ValueError(f"unsupported PNG filter {ftype}")
        prev = cur
        rows.append(cur.view(">u2").astype(np.uint16))
    codes = np.stack(rows)
    return _dequantize(codes, meta["nodata"], meta["offset"], meta["scale"])


# ---------------------------------------------------------------- qz8 (lossy)


def encode_qz8(grid: np.ndarray, nodata: float = NODATA_DEFAULT) -> bytes:
    h, w = grid.shape
    offset, scale = _affine_params(grid, nodata, 255)
    codes = _quantize(grid, nodata, offset, scale, 255, np.uint8)
    header = struct.pack("<ddd", offset, scale, nodata)
    return header + zlib.compress(codes.tobytes(), 6)


def decode_qz8(data: bytes, h: int, w: int) -> np.ndarray:
    offset, scale, nodata = struct.unpack_from("<ddd", data)
    codes = np.frombuffer(zlib.decompress(data[24:]), dtype=np.uint8, count=h * w).reshape(h, w)
    return _dequantize(codes, nodata, offset, scale)


# ---------------------------------------------------------------- dispatch

_ENCODERS = {"raw_f32": lambda g, nd: encode_raw_f32(g), "png16": encode_png16, "qz8": encode_qz8}
_DECODERS = {"raw_f32": lambda b, h, w: decode_raw_f32(b, h, w), "png16": decode_png16, "qz8": decode_qz8}


def encode(grid: np.ndarray, fmt: str, nodata: float = NODATA_DEFAULT) -> bytes:
    try:
        return _ENCODERS[fmt](grid, nodata)
    except KeyError:
        raise ValueError(f"unknown fmt {fmt!r}; known: {FORMATS}") from None


def decode(data: bytes, h: int, w: int, fmt: str) -> np.ndarray:
    try:
        return _DECODERS[fmt](data, h, w)
    except KeyError:
        raise ValueError(f"unknown fmt {fmt!r}; known: {FORMATS}") from None


def snap(grid: np.ndarray, fmt: str, nodata: float = NODATA_DEFAULT) -> np.ndarray:
    """One encode/decode round trip — the generator stores snapped grids so
    png16 behaves losslessly on its own stored truth."""
    return decode(encode(grid, fmt, nodata), grid.shape[0], grid.shape[1], fmt)


# ---------------------------------------------------------------- quality


def psnr(reference: np.ndarray, test: np.ndarray, nodata: float = NODATA_DEFAULT) -> float:
    """Peak signal-to-noise ratio over jointly-valid cells; +inf when equal.
    Peak = value range of the reference's valid cells (floor 1 to avoid
    degenerate flat images)."""
    both = (reference != nodata) & (test != nodata)
    if not both.any():
        return float("inf")
    r = reference[both].astype(np.float64)
    t = test[both].astype(np.float64)
    mse = float(np.mean((r - t) ** 2))
    if mse == 0.0:
        return float("inf")
    peak = max(float(r.max() - r.min()), 1.0)
    return 10.0 * np.log10(peak * peak / mse)


def ahash64(grid: np.ndarray, nodata: float = NODATA_DEFAULT) -> int:
    """64-bit mean-threshold average hash of the 8×8 block-mean downsample
    (signed int64, so it round-trips through a Spark/parquet BIGINT)."""
    g = grid.astype(np.float64)
    valid = g != nodata
    fill = g[valid].mean() if valid.any() else 0.0
    g = np.where(valid, g, fill)
    h, w = g.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    cells = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            block = g[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)]
            cells[i, j] = block.mean()
    bits = (cells > cells.mean()).ravel()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val
