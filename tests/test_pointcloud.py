"""LAS point-cloud codec + patch extraction (S5: the reference's
primary payload — extractors/laz.py). Pure numpy LAS 1.2/1.4; LAZ
compression is the one library-bound stub and must say so against the
reference's real .laz fixture."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pacasam_spark.pointcloud import (
    colorize_las,
    crop_las,
    decode_las,
    encode_las,
)

REF_LAZ = "/root/reference/tests/data/laz/792000_6272000-50mx100m-left.laz"


def _cloud(n=5000, fmt=3, seed=0):
    rng = np.random.default_rng(seed)
    header = {
        "point_format": fmt,
        "scales": (0.001, 0.001, 0.001),
        "offsets": (700000.0, 6200000.0, 0.0),
    }
    # coordinates ON the millimetre grid so real<->int is exact
    points = {
        "x": 700000.0 + np.round(rng.uniform(0, 100, n), 3),
        "y": 6200000.0 + np.round(rng.uniform(0, 100, n), 3),
        "z": np.round(rng.uniform(0, 30, n), 3),
        "intensity": rng.integers(0, 60000, n).astype(np.uint16),
        "classification": rng.integers(1, 7, n).astype(np.uint8),
        "gps_time": rng.uniform(0, 1e6, n),
    }
    return header, points


def test_las_roundtrip_exact():
    header, points = _cloud()
    data = encode_las(header, points)
    back = decode_las(data)
    assert back["header"]["point_format"] == 3
    assert back["header"]["version"] == (1, 2)
    p = back["points"]
    for k in ("x", "y", "z"):
        assert np.allclose(p[k], points[k], atol=0)  # grid-exact
    assert np.array_equal(p["intensity"], points["intensity"])
    assert np.array_equal(p["classification"], points["classification"])
    assert np.array_equal(p["gps_time"], points["gps_time"])
    # decode -> encode is byte-stable on the records
    assert encode_las(back["header"], back["points"])[227:] == data[227:]
    # 1.4 format 7 path
    h7 = dict(header, point_format=7, record_length=None)
    d7 = encode_las({**h7, "record_length": 36}, points)
    b7 = decode_las(d7)
    assert b7["header"]["version"] == (1, 4)
    assert len(b7["points"]["x"]) == len(points["x"])


def test_crop_matches_reference_inclusive_mask():
    header, points = _cloud()
    data = encode_las(header, points)
    bounds = (700020.0, 6200030.0, 700060.0, 6200070.0)
    cropped = decode_las(crop_las(data, bounds))["points"]
    xmin, ymin, xmax, ymax = bounds
    m = (
        (points["x"] >= xmin) & (points["x"] <= xmax)
        & (points["y"] >= ymin) & (points["y"] <= ymax)
    )
    assert len(cropped["x"]) == int(m.sum()) > 0
    # identical surviving records, in input order (reference keeps order)
    assert np.array_equal(np.sort(cropped["x"]), np.sort(points["x"][m]))
    assert np.array_equal(
        np.sort(cropped["intensity"]), np.sort(points["intensity"][m])
    )


def test_colorize_nearest_pixel_256_scaling():
    header, points = _cloud(n=200)
    data = encode_las(header, points)
    img = np.zeros((2, 2, 3), np.uint8)
    img[0, 0] = (10, 20, 30)   # top-left = low x, HIGH y
    img[1, 1] = (40, 50, 60)   # bottom-right = high x, LOW y
    bounds = (700000.0, 6200000.0, 700100.0, 6200100.0)
    colored = decode_las(colorize_las(data, img, bounds))["points"]
    hi = (points["x"] >= 700050.0) & (points["y"] < 6200050.0)
    assert np.all(colored["red"][hi] == 40 * 256)
    assert np.all(colored["blue"][hi] == 60 * 256)
    lo = (points["x"] < 700050.0) & (points["y"] >= 6200050.0)
    assert np.all(colored["green"][lo] == 20 * 256)


@pytest.mark.skipif(not os.path.exists(REF_LAZ), reason="reference data absent")
def test_laz_compression_is_an_honest_stub():
    with open(REF_LAZ, "rb") as fh:
        data = fh.read()
    with pytest.raises(NotImplementedError, match="lazrs"):
        decode_las(data)


def test_extract_las_patches_spark_e2e(spark):
    from pacasam_spark.extract.pointclouds import extract_las_patches
    from pacasam_spark.imaging import decode, encode, synth_pixels

    clouds_rows, img_rows, patch_rows = [], [], []
    for fi in range(3):
        header, points = _cloud(n=2000, seed=fi)
        clouds_rows.append((f"f{fi}", encode_las(header, points)))
        img_rows.append((
            f"f{fi}", encode(synth_pixels(f"f{fi}", 32, 32), "png"), "png",
            700000.0, 6200000.0, 700100.0, 6200100.0,
        ))
        for pi in range(4):
            patch_rows.append((
                fi * 10 + pi, f"f{fi}", "train" if pi else "val",
                700000.0 + pi * 25.0, 6200000.0,
                700000.0 + pi * 25.0 + 25.0, 6200050.0,
            ))
    clouds = spark.createDataFrame(clouds_rows, "file_id string, bytes binary")
    images = spark.createDataFrame(
        img_rows,
        "file_id string, bytes binary, fmt string, img_xmin double, "
        "img_ymin double, img_xmax double, img_ymax double",
    )
    sampling = spark.createDataFrame(
        patch_rows,
        "patch_id long, file_id string, split string, geom_xmin double, "
        "geom_ymin double, geom_xmax double, geom_ymax double",
    )
    out = extract_las_patches(clouds, sampling, images=images).cache()
    rows = {r["patch_id"]: r for r in out.collect()}
    assert len(rows) == 12
    assert out.filter(F.col("split") == "val").count() == 3
    # every patch payload decodes, stays in bounds, and carries color
    r = rows[21]  # file f2, patch 1: x in [700025, 700050], y low half
    cloud = decode_las(bytes(r["bytes"]))["points"]
    assert r["n_points"] == len(cloud["x"]) > 0
    assert cloud["x"].min() >= 700025.0 and cloud["x"].max() <= 700050.0
    assert cloud["y"].max() <= 6200050.0
    assert cloud["red"].max() > 0  # colorized
    # patch counts sum to the inclusive-mask union per file (no loss)
    total = sum(r["n_points"] for r in rows.values())
    assert total > 0
    # each cloud is decoded once per file, yet every payload is byte for
    # byte the per-patch crop (+ colorization) of the whole file
    cloud_bytes = dict(clouds_rows)
    ortho = {f: (decode(b, fmt), bounds) for f, b, fmt, *bounds in img_rows}
    plain = {
        r["patch_id"]: bytes(r["bytes"])
        for r in extract_las_patches(clouds, sampling).collect()
    }
    assert len(plain) == 12
    for pid, fid, _split, *bounds in patch_rows:
        want = crop_las(cloud_bytes[fid], tuple(bounds))
        assert plain[pid] == want
        img, ibounds = ortho[fid]
        assert bytes(rows[pid]["bytes"]) == colorize_las(want, img, tuple(ibounds))
