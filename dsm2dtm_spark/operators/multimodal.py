"""Multimodal (image/audio/video) column operators.

Media are opaque ``binary`` columns with typed metadata, exactly like the DSM
grids; all heavy work happens in per-row functions behind ``util.map_rows``
(Arrow-batched ``mapInPandas`` stages).

Codec status in this environment (no PIL/cv2/ffmpeg — SURVEY.md §7.0):
- ``png_rgb`` is a REAL codec: a from-scratch stdlib-zlib PNG truecolor
  decoder (8-bit RGB/RGBA, all five scanline filters — None/Sub/Up/Average/
  Paeth — and both interlace methods, progressive Adam7 included, per the
  PNG spec) plus a filter-0 encoder, so any tool's RGB8 PNG decodes here
  without external libraries.
- ``wav_pcm16`` is a REAL audio codec (stdlib ``wave``): standard PCM16 WAV
  files decode to int16 sample arrays, with an encoder for round trips;
  ``audio_features`` extracts duration/RMS/zero-crossings/peak per row.
- ``avi_dib`` is a REAL video container path (stdlib ``struct`` RIFF walk):
  uncompressed-DIB AVI files demux to RGB frame arrays, with an encoder for
  round trips; ``avi_frame_sample`` samples every n-th frame from real
  containers.
- ``fake_rgb8`` is the deterministic raw codec used by the video-frame
  plumbing tests.
- JPEG/WebP and the compressed audio/video codecs (Opus/H.264) remain
  honestly stubbed behind ``NotImplementedError`` — entropy-coded formats
  need a library this sandbox doesn't ship; the surrounding Spark plumbing
  (schema, partitioning, UDF signature, Arrow batch shape) is real and
  tested, and a decoder drop-in is a one-function change.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

STUBBED_CODECS = ("jpeg", "webp", "opus", "h264")

# one PNG container implementation in the tree: codecs.py owns it
from dsm2dtm_spark.codecs import _PNG_SIG, _iter_png_chunks, _png_chunk, ahash64  # noqa: E402
from dsm2dtm_spark.util import map_rows  # noqa: E402


def fake_rgb8_encode(arr: np.ndarray) -> bytes:
    """Deterministic fake media codec: uint8 HxWx3, raw bytes."""
    assert arr.dtype == np.uint8 and arr.ndim == 3 and arr.shape[2] == 3
    return arr.tobytes()


def encode_png_rgb8(arr: np.ndarray) -> bytes:
    """uint8 (h, w, 3) → a valid truecolor PNG (filter 0, stdlib zlib)."""
    assert arr.dtype == np.uint8 and arr.ndim == 3 and arr.shape[2] == 3
    h, w = arr.shape[:2]
    raw = b"".join(b"\x00" + arr[i].tobytes() for i in range(h))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _unfilter_scanline(ftype: int, cur: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """One PNG scanline filter inversion (spec §9.2). Sub is a per-residue
    wrapping prefix sum (vectorized); Average/Paeth chain along x, so they
    run a per-pixel loop — correct on any producer's PNG, and the hot corpus
    path (our own encoder) always emits filter 0."""
    if ftype == 0:
        return cur
    if ftype == 2:  # Up
        return (cur + prev).astype(np.uint8)
    if ftype == 1:  # Sub: out[i] = cur[i] + out[i-bpp] — wrapping cumsum
        out = cur.copy()
        for r in range(bpp):
            np.add.accumulate(out[r::bpp], out=out[r::bpp], dtype=np.uint8)
        return out
    out = np.empty_like(cur)
    n = len(cur)
    if ftype == 3:  # Average
        for i in range(n):
            a = out[i - bpp] if i >= bpp else 0
            out[i] = (int(cur[i]) + ((int(a) + int(prev[i])) >> 1)) & 0xFF
        return out
    if ftype == 4:  # Paeth
        for i in range(n):
            a = int(out[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            c = int(prev[i - bpp]) if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (int(cur[i]) + pred) & 0xFF
        return out
    raise ValueError(f"invalid PNG filter type {ftype}")


# Adam7 pass grid (spec §8.2): (x_start, y_start, x_step, y_step) per pass.
# Each pass is an independently-filtered sub-image of every (y_start +
# k*y_step)-th row's (x_start + k*x_step)-th pixels; empty passes (a
# dimension rounds to zero) contribute no bytes at all, not even filter
# bytes.
_ADAM7_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _unfilter_block(raw: bytes, offset: int, n_rows: int, n_px: int, channels: int):
    """Unfilter one independently-filtered scanline block (the whole image,
    or one Adam7 pass: the filter predecessor resets to zero at each block
    start). Returns (uint8 (n_rows, n_px, channels), next_offset).

    Runs of consecutive None(0)/Up(2) rows decode as single numpy ops —
    filter-0 rows are independent, and a run of Up rows is a wrapping
    cumulative sum along y seeded by the run's predecessor — so the common
    libpng output (long 0/2 stretches) never loops per row; only 1/3/4
    rows (left-pixel dependency) fall back to the per-scanline path."""
    stride = 1 + channels * n_px
    end = offset + n_rows * stride
    if len(raw) < end:
        raise ValueError("PNG pixel data truncated")
    width = channels * n_px
    if n_rows == 0:
        return np.empty((0, n_px, channels), dtype=np.uint8), end
    blk = np.frombuffer(raw, dtype=np.uint8, count=n_rows * stride, offset=offset).reshape(
        n_rows, stride
    )
    ftypes = blk[:, 0]
    data = blk[:, 1:]
    out = np.empty((n_rows, width), dtype=np.uint8)
    prev = np.zeros(width, dtype=np.uint8)
    i = 0
    while i < n_rows:
        f = int(ftypes[i])
        if f == 0 or f == 2:
            j = i + 1
            while j < n_rows and ftypes[j] == f:
                j += 1
            out[i:j] = data[i:j]
            if f == 2:  # Up: wrapping cumsum along y, seeded by prev
                out[i] += prev
                np.add.accumulate(out[i:j], axis=0, out=out[i:j])
            i = j
        else:
            out[i] = _unfilter_scanline(f, data[i], prev, channels)
            i += 1
        prev = out[i - 1]
    return out.reshape(n_rows, n_px, channels), end


def decode_png_rgb8(data: bytes, h: int | None = None, w: int | None = None) -> np.ndarray:
    """Any 8-bit truecolor PNG (color type 2, or 6 with the alpha channel
    dropped; interlace 0 or Adam7) → uint8 (h, w, 3). Pure stdlib+numpy;
    handles all five scanline filters and progressive interlacing, so PNGs
    written by PIL/libpng/etc decode here."""
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG stream")
    idat = b""
    pw = ph = channels = interlace = None
    for tag, payload in _iter_png_chunks(data):
        if tag == b"IHDR":
            pw, ph, depth, ctype, _comp, _filt, interlace = struct.unpack_from(">IIBBBBB", payload)
            if depth != 8 or ctype not in (2, 6):
                raise ValueError(f"png_rgb decodes 8-bit truecolor (type 2/6), got depth={depth} type={ctype}")
            if interlace not in (0, 1):
                raise ValueError(f"invalid PNG interlace method {interlace}")
            channels = 3 if ctype == 2 else 4
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if pw is None:
        raise ValueError("PNG missing IHDR")
    if (h is not None and h != ph) or (w is not None and w != pw):
        raise ValueError(f"PNG dims {(ph, pw)} disagree with row metadata {(h, w)}")
    raw = zlib.decompress(idat)
    if interlace == 0:
        block, _ = _unfilter_block(raw, 0, ph, pw, channels)
        return np.ascontiguousarray(block[:, :, :3])
    # Adam7: seven independently-filtered reduced images, scattered onto the
    # full-resolution grid by the pass's (start, step) lattice
    out = np.empty((ph, pw, channels), dtype=np.uint8)
    offset = 0
    for x0, y0, dx, dy in _ADAM7_PASSES:
        pass_h = (ph - y0 + dy - 1) // dy
        pass_w = (pw - x0 + dx - 1) // dx
        if pass_h <= 0 or pass_w <= 0:
            continue
        block, offset = _unfilter_block(raw, offset, pass_h, pass_w, channels)
        out[y0::dy, x0::dx] = block
    return np.ascontiguousarray(out[:, :, :3])


def encode_wav_pcm16(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16 (n,) or (n, channels) → a standard PCM16 WAV container."""
    assert samples.dtype == np.int16
    ch = 1 if samples.ndim == 1 else samples.shape[1]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(ch)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(np.ascontiguousarray(samples).tobytes())
    return buf.getvalue()


def decode_wav_pcm16(data: bytes) -> tuple[np.ndarray, int]:
    """Any standard PCM16 WAV → (int16 array (n, channels), sample_rate).
    Pure stdlib ``wave`` — third-party WAV files decode without ffmpeg."""
    with wave.open(io.BytesIO(data), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise ValueError(f"wav_pcm16 reads 16-bit PCM, got {8 * wf.getsampwidth()}-bit")
        n, ch, rate = wf.getnframes(), wf.getnchannels(), wf.getframerate()
        samples = np.frombuffer(wf.readframes(n), dtype="<i2").reshape(n, ch)
    return samples, rate


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("duration_s", DoubleType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("rms", DoubleType()),
        StructField("peak", IntegerType()),
        StructField("zero_crossing_rate", DoubleType()),
    ]
)


def audio_features(df: DataFrame) -> DataFrame:
    """Audio quality/filtering features per row (media_id, bytes) of PCM16
    WAV payloads: duration, RMS level, peak, zero-crossing rate (a crude
    voiced/noise discriminator) — the signals a pretraining-audio pipeline
    filters on. One ``map_rows`` pass, numpy-vectorized per clip."""

    def run(row) -> dict:
        samples, rate = decode_wav_pcm16(row.bytes)
        mono = samples.astype(np.float64).mean(axis=1)
        zc = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) if len(mono) > 1 else 0.0
        return {
            "media_id": row.media_id,
            "duration_s": round(len(samples) / rate, 6),
            "sample_rate": rate,
            "channels": samples.shape[1],
            "rms": round(float(np.sqrt(np.mean(mono**2))), 4) if len(mono) else 0.0,
            "peak": int(np.abs(samples).max()) if len(samples) else 0,
            "zero_crossing_rate": round(zc, 4),
        }

    return map_rows(df, run, AUDIO_FEATURE_SCHEMA)


def encode_avi_dib(frames: np.ndarray, fps: int = 25) -> bytes:
    """uint8 (n_frames, h, w, 3) RGB → a standard uncompressed AVI (RIFF)
    container with a 'DIB ' video stream (bottom-up BGR rows, 4-byte-aligned,
    one '00db' chunk per frame + idx1 index) — playable by mainstream
    players, parseable by any AVI demuxer."""
    assert frames.dtype == np.uint8 and frames.ndim == 4 and frames.shape[3] == 3
    nf, h, w = frames.shape[:3]
    row_bytes = (w * 3 + 3) & ~3  # BMP rows pad to 4 bytes
    frame_bytes = row_bytes * h

    def lst(tag4: bytes, body: bytes) -> bytes:
        return b"LIST" + struct.pack("<I", 4 + len(body)) + tag4 + body

    def chunk(tag4: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return tag4 + struct.pack("<I", len(body)) + body + pad

    avih = struct.pack(
        "<14I", 1_000_000 // fps, frame_bytes * fps, 0, 0x10, nf, 0, 1, frame_bytes, w, h, 0, 0, 0, 0
    )
    strh = struct.pack("<4s4sIHHIIIIIIIIhhhh", b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, nf,
                       frame_bytes, 0, 0, 0, 0, w, h)
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 0, 0, 0, 0)  # BITMAPINFOHEADER
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))

    movi_body = b"movi"
    offsets = []
    for i in range(nf):
        bgr = frames[i, ::-1, :, ::-1]  # bottom-up rows, BGR channel order
        rows = b"".join(bgr[y].tobytes().ljust(row_bytes, b"\x00") for y in range(h))
        offsets.append(len(movi_body))
        movi_body += chunk(b"00db", rows)
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + movi_body

    idx1 = b"".join(
        b"00db" + struct.pack("<III", 0x10, off, frame_bytes) for off in offsets
    )
    riff_body = b"AVI " + hdrl + movi + chunk(b"idx1", idx1)
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi_dib(data: bytes) -> np.ndarray:
    """Any uncompressed-DIB AVI → uint8 (n_frames, h, w, 3) RGB. Pure
    stdlib struct walk of the RIFF tree ('00db' frame chunks inside the
    'movi' LIST; dimensions from the BITMAPINFOHEADER)."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (RIFF) stream")
    w = h = bpp = None
    frames: list[np.ndarray] = []

    def walk(buf: bytes, pos: int, end: int):
        nonlocal w, h, bpp
        while pos + 8 <= end:
            tag = buf[pos : pos + 4]
            (n,) = struct.unpack_from("<I", buf, pos + 4)
            body_start = pos + 8
            if tag == b"LIST":
                walk(buf, body_start + 4, body_start + n)  # skip the list type tag
            elif tag == b"strf" and n >= 40:
                _, bw, bh, _, bits = struct.unpack_from("<IiiHH", buf, body_start)
                w, h, bpp = bw, abs(bh), bits
            elif tag in (b"00db", b"00dc"):
                if w is None:
                    raise ValueError("AVI frame chunk before BITMAPINFOHEADER")
                if bpp != 24:
                    raise NotImplementedError(f"only 24-bit DIB AVI is supported, got {bpp}")
                row_bytes = (w * 3 + 3) & ~3
                raw = np.frombuffer(buf, dtype=np.uint8, count=h * row_bytes, offset=body_start)
                rows = raw.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
                frames.append(rows[::-1, :, ::-1].copy())  # bottom-up BGR → RGB
            pos = body_start + n + (n & 1)  # chunks pad to even length

    walk(data, 12, 8 + struct.unpack_from("<I", data, 4)[0])
    if not frames:
        raise ValueError("AVI stream contains no video frames")
    return np.stack(frames)


def avi_frame_sample(df: DataFrame, every_n: int) -> DataFrame:
    """Video frame sampling over REAL containers: rows are (media_id, bytes)
    of uncompressed-DIB AVI payloads; emits every ``every_n``-th frame as a
    fake_rgb8 row (same downstream schema as ``frame_sample``)."""

    def run(row) -> list[dict]:
        frames = decode_avi_dib(row.bytes)
        return [
            {
                "media_id": row.media_id,
                "frame_idx": i,
                "bytes": fake_rgb8_encode(np.ascontiguousarray(frames[i])),
                "h": frames.shape[1],
                "w": frames.shape[2],
                "fmt": "fake_rgb8",
            }
            for i in range(0, len(frames), every_n)
        ]

    return map_rows(df, run, FRAME_SCHEMA)


def media_decode_stub(data: bytes, h: int, w: int, fmt: str) -> np.ndarray:
    """Decode media bytes → uint8 (h, w, 3). png_rgb and fake_rgb8 are real;
    entropy-coded formats are stubbed (module docstring)."""
    if fmt == "fake_rgb8":
        return np.frombuffer(data, dtype=np.uint8, count=h * w * 3).reshape(h, w, 3)
    if fmt == "png_rgb":
        return decode_png_rgb8(data, h, w)
    if fmt in STUBBED_CODECS:
        raise NotImplementedError(
            f"media codec {fmt!r} requires an image/audio library not present in this "
            "environment; plug a decoder into media_decode_stub (plumbing is codec-agnostic)"
        )
    raise ValueError(f"unknown media fmt {fmt!r}")


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("mean_rgb", ArrayType(DoubleType())),
        StructField("luma_hist", ArrayType(LongType())),
        StructField("phash", LongType()),
    ]
)


def media_features(df: DataFrame) -> DataFrame:
    """Feature extraction over media rows (media_id, bytes, h, w, fmt):
    channel means, 16-bin luma histogram, perceptual hash. Arrow-batched;
    ~ARROW_BATCH_ROWS rows per python invocation."""

    def run(row) -> dict:
        img = media_decode_stub(row.bytes, int(row.h), int(row.w), row.fmt)
        luma = img.astype(np.float64).mean(axis=2)
        hist = np.histogram(luma, bins=16, range=(0, 256))[0]
        return {
            "media_id": row.media_id,
            "mean_rgb": [round(float(x), 4) for x in img.reshape(-1, 3).mean(axis=0)],
            "luma_hist": hist.astype(np.int64).tolist(),
            "phash": ahash64(luma, nodata=float("nan")),
        }

    return map_rows(df, run, FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("h", IntegerType()),
        StructField("w", IntegerType()),
        StructField("fmt", StringType()),
    ]
)


def media_resize(df: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Bilinear resize per channel (reuses the raster zoom kernel)."""

    from dsm2dtm_spark.kernels import zoom_bilinear

    def run(row) -> dict:
        img = media_decode_stub(row.bytes, int(row.h), int(row.w), row.fmt)
        chans = [
            zoom_bilinear(img[:, :, c].astype(np.float64), (out_h / img.shape[0], out_w / img.shape[1]))
            for c in range(3)
        ]
        rs = np.clip(np.rint(np.stack(chans, axis=2)), 0, 255).astype(np.uint8)
        rs = rs[:out_h, :out_w]
        return {
            "media_id": row.media_id,
            "bytes": fake_rgb8_encode(np.ascontiguousarray(rs)),
            "h": rs.shape[0],
            "w": rs.shape[1],
            "fmt": "fake_rgb8",
        }

    return map_rows(df, run, RESIZE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("bytes", BinaryType()),
        StructField("h", IntegerType()),
        StructField("w", IntegerType()),
        StructField("fmt", StringType()),
    ]
)


def frame_sample(df: DataFrame, every_n: int) -> DataFrame:
    """Video frame sampling plumbing: rows are (media_id, bytes, h, w, fmt,
    n_frames) where bytes hold n_frames concatenated fake_rgb8 frames; emits
    every ``every_n``-th frame as its own row (UDTF-style expansion, the same
    pattern as raster tiling)."""

    def run(row) -> list[dict]:
        h, w, nf = int(row.h), int(row.w), int(row.n_frames)
        frame_bytes = h * w * 3
        return [
            {
                "media_id": row.media_id,
                "frame_idx": i,
                "bytes": row.bytes[i * frame_bytes : (i + 1) * frame_bytes],
                "h": h,
                "w": w,
                "fmt": "fake_rgb8",
            }
            for i in range(0, nf, every_n)
        ]

    return map_rows(df, run, FRAME_SCHEMA)
