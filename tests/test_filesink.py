"""Binary-file source + per-patch file sink tests (S5/S6, K3/K4/K5;
reference contract: #outputs == #sampling rows, resume skips existing —
tests/tests_pacasam/test_run_extraction.py:33-34, extractors/laz.py:103)."""

import functools

import numpy as np
from pyspark.sql import functions as F

from pacasam_spark.extract.filesink import read_binary_files, write_patch_files
from pacasam_spark.extract.images import extract_batch, extraction_join
from pacasam_spark.imaging import decode_png, encode_png, synth_pixels
from pacasam_spark.sources.images import synthetic_images


def test_binary_file_roundtrip(spark, tmp_path):
    src = tmp_path / "imgs"
    src.mkdir()
    for k in range(6):
        arr = synth_pixels(f"bin-{k}", 16, 16)
        (src / f"img{k}.png").write_bytes(encode_png(arr))
    df = read_binary_files(spark, str(src / "*.png"))
    rows = df.select("path", "content").collect()
    assert len(rows) == 6
    for r in rows:
        k = r["path"].split("img")[-1].split(".")[0]
        assert np.array_equal(
            decode_png(bytes(r["content"])), synth_pixels(f"bin-{k}", 16, 16)
        )


def test_patch_file_sink_and_resume(spark, tmp_path):
    images = synthetic_images(spark, n=24, size=16).cache()
    sampling = (
        images.select("image_id")
        .limit(10)
        .withColumn("split", F.when(F.crc32("image_id") % 2 == 0, "train").otherwise("val"))
    )
    joined = extraction_join(images, sampling)
    kernel = functools.partial(extract_batch, out_fmt="png")
    root = str(tmp_path / "dataset")

    m1 = write_patch_files(joined, root, kernel).collect()
    assert len(m1) == 10 and all(r["written"] for r in m1)
    # one file per sampling row, under split dirs, reference naming
    import glob

    files = glob.glob(f"{root}/*/*.png")
    assert len(files) == 10
    assert all("/train/TRAIN-" in f or "/val/VAL-" in f for f in files)

    # resume: second pass writes nothing
    m2 = write_patch_files(joined, root, kernel).collect()
    assert len(m2) == 10 and not any(r["written"] for r in m2)
    assert len(glob.glob(f"{root}/*/*.png")) == 10
