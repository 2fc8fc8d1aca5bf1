"""LAS point-cloud codec in pure numpy + struct (S5: the reference's
primary payload is LiDAR patches — ``extractors/laz.py:106-149`` reads a
cloud with laspy, crops points to the patch bbox (inclusive), writes the
patch cloud, and colorizes Red/Green/Blue from orthoimagery at a 1:256
8-bit->16-bit scaling). laspy/lazrs are absent from this container;
this module implements the ASPRS LAS wire format directly so the
point-cloud byte path is REAL end-to-end for uncompressed LAS 1.2-1.4,
point formats 0-3 and 6-8. LAZ (the LASzip arithmetic-coded
compression) raises a clear NotImplementedError — its decoder is a
full entropy-coding stack, the one genuinely library-bound piece.

Representation: a decoded cloud is a dict with ``header`` (versions,
format, scales, offsets) and numpy arrays per dimension; x/y/z are
REAL coordinates (float64), reconstructed exactly from the stored
int32 grid at write time via the header scale/offset, so a
decode->encode round-trip is byte-stable on the point records.
"""

from __future__ import annotations

import struct

import numpy as np

_BASE_FIELDS: dict[int, list[tuple[str, str]]] = {}
for _fmt in (0, 1, 2, 3):
    f = [
        ("X", "<i4"), ("Y", "<i4"), ("Z", "<i4"),
        ("intensity", "<u2"), ("return_bits", "u1"),
        ("classification", "u1"), ("scan_angle", "i1"),
        ("user_data", "u1"), ("point_source_id", "<u2"),
    ]
    if _fmt in (1, 3):
        f.append(("gps_time", "<f8"))
    if _fmt in (2, 3):
        f += [("red", "<u2"), ("green", "<u2"), ("blue", "<u2")]
    _BASE_FIELDS[_fmt] = f
for _fmt in (6, 7, 8):
    f = [
        ("X", "<i4"), ("Y", "<i4"), ("Z", "<i4"),
        ("intensity", "<u2"), ("return_bits", "u1"), ("flags", "u1"),
        ("classification", "u1"), ("user_data", "u1"),
        ("scan_angle", "<i2"), ("point_source_id", "<u2"),
        ("gps_time", "<f8"),
    ]
    if _fmt in (7, 8):
        f += [("red", "<u2"), ("green", "<u2"), ("blue", "<u2")]
    if _fmt == 8:
        f.append(("nir", "<u2"))
    _BASE_FIELDS[_fmt] = f


def _dtype(fmt: int, record_len: int) -> np.dtype:
    fields = list(_BASE_FIELDS[fmt])
    base = sum(np.dtype(t).itemsize for _n, t in fields)
    if record_len < base:
        raise ValueError(f"record length {record_len} < format {fmt}'s {base}")
    if record_len > base:  # extra bytes (VLR-described dims): preserved raw
        fields.append(("extra", f"V{record_len - base}"))
    return np.dtype(fields)


def decode_las(data: bytes) -> dict:
    """Parse uncompressed LAS bytes into {header: {...}, points: {...}}."""
    if data[:4] != b"LASF":
        raise ValueError("not a LAS file (missing LASF magic)")
    major, minor = data[24], data[25]
    header_size, point_offset = struct.unpack_from("<HI", data, 94)
    fmt_raw, record_len = data[104], struct.unpack_from("<H", data, 105)[0]
    if fmt_raw & 0x80:
        raise NotImplementedError(
            "LAZ compression (LASzip arithmetic coding) needs lazrs; "
            "decode uncompressed .las, or convert upstream"
        )
    fmt = fmt_raw & 0x3F
    if fmt not in _BASE_FIELDS:
        raise NotImplementedError(f"LAS point format {fmt} not supported")
    (n_legacy,) = struct.unpack_from("<I", data, 107)
    n_points = n_legacy
    if (major, minor) >= (1, 4) and header_size >= 255:
        (n64,) = struct.unpack_from("<Q", data, 247)
        n_points = n64 or n_legacy
    scales = struct.unpack_from("<3d", data, 131)
    offsets = struct.unpack_from("<3d", data, 155)
    dt = _dtype(fmt, record_len)
    raw = np.frombuffer(
        data, dt, count=n_points, offset=point_offset
    )
    points: dict[str, np.ndarray] = {}
    for name in raw.dtype.names:
        points[name] = np.array(raw[name])
    # real-world coordinates (laspy's cloud.x/y/z)
    for axis, name in enumerate("xyz"):
        points[name] = points[name.upper()] * scales[axis] + offsets[axis]
    return {
        "header": {
            "version": (major, minor),
            "point_format": fmt,
            "record_length": record_len,
            "scales": tuple(scales),
            "offsets": tuple(offsets),
        },
        "points": points,
    }


def encode_las(header: dict, points: dict) -> bytes:
    """Uncompressed LAS bytes for a decoded/constructed cloud. The int
    grid is derived from real x/y/z via the header scale/offset
    (round-half-away like laspy), so decode->encode round-trips the
    stored records exactly. Writes LAS 1.2 (formats 0-3) or 1.4
    (formats 6-8) with no VLRs."""
    fmt = header["point_format"]
    scales = header["scales"]
    offsets = header["offsets"]
    version = (1, 2) if fmt <= 3 else (1, 4)
    header_size = 227 if version == (1, 2) else 375
    record_len = header.get("record_length") or np.dtype(
        _BASE_FIELDS[fmt]
    ).itemsize

    dt = _dtype(fmt, record_len)
    n = len(points["x"])
    rec = np.zeros(n, dt)
    for name in dt.names:
        if name in ("X", "Y", "Z"):
            axis = "XYZ".index(name)
            grid = np.floor(
                (points["xyz"[axis]] - offsets[axis]) / scales[axis] + 0.5
            )
            rec[name] = grid.astype(np.int64).astype(np.int32)
        elif name in points:
            rec[name] = points[name]

    buf = bytearray(header_size)
    buf[0:4] = b"LASF"
    buf[24] = version[0]
    buf[25] = version[1]
    buf[26:58] = b"pacasam_spark".ljust(32, b"\x00")
    buf[58:90] = b"pacasam_spark pointcloud".ljust(32, b"\x00")
    struct.pack_into("<HI", buf, 94, header_size, header_size)
    buf[104] = fmt
    struct.pack_into("<H", buf, 105, record_len)
    # legacy count: formats > 5 (or > u4 counts) must zero it per spec
    struct.pack_into("<I", buf, 107, n if fmt <= 5 else 0)
    struct.pack_into("<3d", buf, 131, *scales)
    struct.pack_into("<3d", buf, 155, *offsets)
    if n:
        ext = [
            (points[ax].max(), points[ax].min()) for ax in ("x", "y", "z")
        ]
    else:
        ext = [(0.0, 0.0)] * 3
    struct.pack_into("<6d", buf, 179, *(v for pair in ext for v in pair))
    if version >= (1, 4):
        struct.pack_into("<Q", buf, 247, n)
        if fmt <= 5:  # by-return legacy table untouched (zeros)
            pass
    return bytes(buf) + rec.tobytes()


def crop_points(points: dict, bounds: tuple[float, float, float, float]) -> dict:
    """The reference's patch extraction
    (``extract_single_patch_from_LasData``, laz.py:132-149) on a decoded
    cloud's points: keep xmin <= x <= xmax AND ymin <= y <= ymax
    (INCLUSIVE both ends, exactly as the reference masks)."""
    xmin, ymin, xmax, ymax = bounds
    x, y = points["x"], points["y"]
    m = (x >= xmin) & (x <= xmax) & (y >= ymin) & (y <= ymax)
    return {k: v[m] for k, v in points.items()}


def crop_las(data: bytes, bounds: tuple[float, float, float, float]) -> bytes:
    """``crop_points`` on LAS bytes, re-encoded under the same header
    grid so surviving records are bit-identical."""
    cloud = decode_las(data)
    return encode_las(cloud["header"], crop_points(cloud["points"], bounds))


def colorize_points(
    header: dict,
    points: dict,
    image: np.ndarray,
    image_bounds: tuple[float, float, float, float],
) -> dict:
    """J10 for point clouds (reference pdal Filter.colorization with
    ``Red:2:256.0, Green:3:256.0, Blue:4:256.0`` — laz.py:117-121):
    sample the ortho image at each point's nearest pixel and store
    8-bit*256 into the 16-bit RGB dims. The cloud must be an RGB-bearing
    format (2/3/7/8)."""
    fmt = header["point_format"]
    if fmt not in (2, 3, 7, 8):
        raise ValueError(f"point format {fmt} has no RGB dimensions")
    xmin, ymin, xmax, ymax = image_bounds
    h, w = image.shape[:2]
    ix = np.clip(
        ((points["x"] - xmin) / max(xmax - xmin, 1e-12) * w).astype(np.int64),
        0, w - 1,
    )
    iy = np.clip(
        ((ymax - points["y"]) / max(ymax - ymin, 1e-12) * h).astype(np.int64),
        0, h - 1,
    )
    px = image[iy, ix]
    rgb = {
        name: px[:, band].astype(np.uint16) * 256
        for band, name in enumerate(("red", "green", "blue"))
    }
    return {**points, **rgb}


def colorize_las(
    data: bytes,
    image: np.ndarray,
    image_bounds: tuple[float, float, float, float],
) -> bytes:
    """``colorize_points`` on LAS bytes."""
    cloud = decode_las(data)
    header = cloud["header"]
    return encode_las(
        header, colorize_points(header, cloud["points"], image, image_bounds)
    )
