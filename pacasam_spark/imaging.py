"""Minimal image codecs + metrics — stdlib/numpy only (no PIL in the
image; SURVEY.md §7 environment facts).

Four formats cover the input_hint's lossless + lossy tiers:

- ``png``: real PNG (RGB8, filter 0, zlib IDAT) — spec-compliant enough
  for any external reader; decode is exact (lossless round-trip).
- ``q6``:  6-bit-per-channel quantized + zlib — the deterministic lossy
  tier. Max channel error is 2/255 => PSNR >= 10*log10(255^2 / E[e^2])
  ≈ 47 dB, comfortably above the 40 dB invariant.
- ``jpg``/``jpeg``: baseline JFIF (``pacasam_spark.jpegbase``) — real
  DCT quantization loss, PSNR >= 40 dB at quality 98.
- ``tif``/``tiff``: lossless deflate TIFF (``pacasam_spark.geotiff``).

Formats whose codec libraries are absent (webp, mp4) are stubs with
real Spark-side plumbing — see pacasam_spark.extract.images.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """RGB uint8 (H, W, 3) -> PNG bytes (color type 2, bit depth 8,
    row filter 0)."""
    if arr.dtype != np.uint8 or arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected uint8 (H,W,3), got {arr.dtype} {arr.shape}")
    h, w, _ = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), arr.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> RGB uint8 (H, W, 3). Handles the subset this module
    writes (filter 0, color type 2, depth 8) and validates CRCs."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, 0
    idat = b""
    h = 0
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in chunk {tag!r}")
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", payload)
            if (depth, ctype, interlace) != (8, 2, 0):
                raise ValueError("unsupported PNG variant")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(h, w * 3 + 1)
    if (raw[:, 0] != 0).any():
        raise ValueError("unsupported PNG row filter")
    return raw[:, 1:].reshape(h, w, 3).copy()


def encode_q6(arr: np.ndarray) -> bytes:
    """Lossy 6-bit quantization + zlib. Header: (w, h, channels)."""
    h, w, c = arr.shape
    q = (arr >> 2).astype(np.uint8)
    return struct.pack(">IIB", w, h, c) + zlib.compress(q.tobytes(), 6)


def decode_q6(data: bytes) -> np.ndarray:
    w, h, c = struct.unpack(">IIB", data[:9])
    q = np.frombuffer(zlib.decompress(data[9:]), np.uint8).reshape(h, w, c)
    return ((q << 2) + 2).astype(np.uint8)  # mid-rise reconstruction


def _encode_jpeg(arr: np.ndarray) -> bytes:
    # quality 98: the synthetic catalogue's hash-derived pixels are
    # near-noise — the DCT worst case — and still clear the PSNR>=40
    # invariant with margin (43.6 dB measured); real imagery passes at
    # much lower quality. Wire-format JFIF (pacasam_spark.jpegbase).
    from pacasam_spark.jpegbase import encode_jpeg

    return encode_jpeg(arr, quality=98)


def _decode_jpeg(data: bytes) -> np.ndarray:
    from pacasam_spark.jpegbase import decode_jpeg

    return decode_jpeg(data)


def _encode_tiff(arr: np.ndarray) -> bytes:
    from pacasam_spark.geotiff import encode_tiff

    return encode_tiff(arr)


def _decode_tiff(data: bytes) -> np.ndarray:
    from pacasam_spark.geotiff import decode_tiff

    return decode_tiff(data)


CODECS = {
    "png": (encode_png, decode_png),
    "q6": (encode_q6, decode_q6),
    "jpg": (_encode_jpeg, _decode_jpeg),
    "jpeg": (_encode_jpeg, _decode_jpeg),
    "tif": (_encode_tiff, _decode_tiff),
    "tiff": (_encode_tiff, _decode_tiff),
}


def encode(arr: np.ndarray, fmt: str) -> bytes:
    return CODECS[fmt][0](arr)


def decode(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "wav":
        # an audio payload has no pixel array; pacasam_spark reads
        # images and point clouds only
        raise NotImplementedError("wav is an audio payload, not an image")
    if fmt in ("webp", "mp4"):
        # Codecs that still need libs absent from this container; the
        # Spark-side plumbing (schema, batching, UDF signatures) is
        # identical — swap the codec table entry on a cluster with PIL /
        # ffmpeg available. jpg/jpeg (jpegbase) and las (pointcloud)
        # decode for real since round 7.
        raise NotImplementedError(f"codec {fmt!r} stubbed in this environment")
    return CODECS[fmt][1](data)


def _dct_matrix_n(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    m = np.arange(n)[None, :]
    d = np.cos(np.pi * (2 * m + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    d[0] = np.sqrt(1.0 / n)
    return d


_DCT32 = _dct_matrix_n(32)


def _resize_gray(g: np.ndarray, size: int = 32) -> np.ndarray:
    """Separable bilinear resample to (size, size); exact block-mean when
    dimensions divide evenly (the anti-aliasing the hash wants)."""
    h, w = g.shape
    if h % size == 0 and w % size == 0:
        return g.reshape(size, h // size, size, w // size).mean(axis=(1, 3))
    ys = np.linspace(0, h - 1, size)
    xs = np.linspace(0, w - 1, size)
    rows = np.array([np.interp(ys, np.arange(h), g[:, j]) for j in range(w)]).T
    return np.array([np.interp(xs, np.arange(w), rows[i]) for i in range(size)])


def resize_rgb(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Separable bilinear resize of an (H, W, 3) uint8 image; exact
    block-mean when downscaling by integer factors (anti-aliased like
    the hash resampler). Pure numpy — runs inside Arrow batches."""
    h, w, _ = arr.shape
    if h % out_h == 0 and w % out_w == 0:
        out = arr.astype(np.float64).reshape(
            out_h, h // out_h, out_w, w // out_w, 3
        ).mean(axis=(1, 3))
        return np.clip(np.round(out), 0, 255).astype(np.uint8)
    ys = np.linspace(0, h - 1, out_h)
    xs = np.linspace(0, w - 1, out_w)
    y0 = np.floor(ys).astype(int)
    y1 = np.minimum(y0 + 1, h - 1)
    x0 = np.floor(xs).astype(int)
    x1 = np.minimum(x0 + 1, w - 1)
    fy = (ys - y0)[:, None, None]
    fx = (xs - x0)[None, :, None]
    a = arr.astype(np.float64)
    top = a[y0][:, x0] * (1 - fx) + a[y0][:, x1] * fx
    bot = a[y1][:, x0] * (1 - fx) + a[y1][:, x1] * fx
    out = top * (1 - fy) + bot * fy
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def phash64(arr: np.ndarray) -> int:
    """64-bit DCT perceptual hash (the input_hint's ``phash:int64``
    column, computed from pixels): luma -> 32x32 resample -> 2D DCT-II ->
    top-left 8x8 coefficients -> bit j = coeff_j > median. Stable under
    mild noise / lossy re-encode (small Hamming distance), ~32 bits apart
    for unrelated images — feed into
    operators.dedup.hamming_near_dup_pairs for image near-dup removal."""
    gray = arr.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    g = _resize_gray(gray, 32)
    low = (_DCT32 @ g @ _DCT32.T)[:8, :8]
    med = np.median(low.flat[1:])  # exclude DC: it would bias the median
    bits = (low.flatten() > med).astype(np.uint64)
    val = np.uint64(0)
    for j, b in enumerate(bits):
        val |= b << np.uint64(j)
    return int(np.int64(val))


def phash64_batch(arrs: np.ndarray) -> np.ndarray:
    """Vectorized ``phash64`` over a (N, H, W, 3) uint8 stack of
    same-size frames -> int64[N]; asserted bit-identical to the scalar
    loop in tests (tile grids produce exactly this shape, and the batch
    DCT is one (N,32,32) matmul instead of N python-loop gemms —
    the tile-fingerprint-index hot path)."""
    n, h, w, _ = arrs.shape
    gray = arrs.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    if h % 32 == 0 and w % 32 == 0:
        g = gray.reshape(n, 32, h // 32, 32, w // 32).mean(axis=(2, 4))
    else:  # rare non-divisible sizes: scalar bilinear path per frame
        g = np.stack([_resize_gray(f, 32) for f in gray])
    low = (_DCT32 @ g @ _DCT32.T)[:, :8, :8].reshape(n, 64)
    med = np.median(low[:, 1:], axis=1)  # exclude DC, like phash64
    bits = (low > med[:, None]).astype(np.uint64)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    return (bits * weights).sum(axis=1, dtype=np.uint64).view(np.int64)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def synth_pixels(image_id: str, w: int = 32, h: int = 32) -> np.ndarray:
    """Deterministic RGB pixels as a pure function of the image id —
    seeded from md5(image_id), order/partition independent."""
    import hashlib

    seed = int.from_bytes(hashlib.md5(image_id.encode()).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    # add smooth structure so crops/resizes are visually meaningful
    yy, xx = np.mgrid[0:h, 0:w]
    wave = (127 + 128 * np.sin((xx + (seed % 97)) / 5.0) * np.cos(yy / 7.0)).astype(
        np.uint8
    )
    return ((base.astype(np.uint16) + wave[..., None]) // 2).astype(np.uint8)
