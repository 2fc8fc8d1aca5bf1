"""Distributed LAS patch extraction (S5/E1 for the point-cloud payload;
reference: ``extractors/laz.py:83-149`` — read each file's cloud ONCE,
crop every selected patch bbox out of it, colorize from orthoimagery).

Shape: the sampling (small by construction) is aggregated to one
patch-list row per file_id and broadcast-joined to the cloud table; a
``mapInPandas`` pass then decodes each cloud once and yields one
cropped (optionally colorized) LAS payload per patch — the exact
per-file loop of the reference, distributed across files. Pixels and
points never transit the driver."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUT_SCHEMA = (
    "patch_id long, file_id string, split string, n_points long, bytes binary"
)


def extract_las_patches(
    clouds: DataFrame,
    sampling: DataFrame,
    images: DataFrame | None = None,
) -> DataFrame:
    """``clouds``: (file_id, bytes) uncompressed LAS per file.
    ``sampling``: (patch_id, file_id, split, geom_xmin/ymin/xmax/ymax).
    ``images``: optional (file_id, bytes, fmt, img_xmin, img_ymin,
    img_xmax, img_ymax) orthoimagery for RGB colorization (1:256
    8->16-bit, reference laz.py:117-121)."""
    patches = sampling.groupBy("file_id").agg(
        F.collect_list(
            F.struct(
                "patch_id", "split",
                "geom_xmin", "geom_ymin", "geom_xmax", "geom_ymax",
            )
        ).alias("__patches")
    )
    joined = clouds.join(F.broadcast(patches), "file_id")
    if images is not None:
        img = images.select(
            "file_id",
            F.col("bytes").alias("__img"),
            F.col("fmt").alias("__img_fmt"),
            "img_xmin", "img_ymin", "img_xmax", "img_ymax",
        )
        joined = joined.join(F.broadcast(img), "file_id", "left")
    has_img = images is not None

    def extract(batches):
        import pandas as pd

        from pacasam_spark import imaging
        from pacasam_spark.pointcloud import (
            colorize_points, crop_points, decode_las, encode_las,
        )

        for pdf in batches:
            out = {k: [] for k in
                   ("patch_id", "file_id", "split", "n_points", "bytes")}
            for _i, row in pdf.iterrows():
                cloud = decode_las(bytes(row["bytes"]))
                header = cloud["header"]
                img = None
                if has_img and row.get("__img") is not None:
                    img = imaging.decode(bytes(row["__img"]), row["__img_fmt"])
                    ibounds = (
                        row["img_xmin"], row["img_ymin"],
                        row["img_xmax"], row["img_ymax"],
                    )
                for p in row["__patches"]:
                    points = crop_points(
                        cloud["points"],
                        (
                            p["geom_xmin"], p["geom_ymin"],
                            p["geom_xmax"], p["geom_ymax"],
                        ),
                    )
                    if img is not None:
                        points = colorize_points(header, points, img, ibounds)
                    out["patch_id"].append(p["patch_id"])
                    out["file_id"].append(row["file_id"])
                    out["split"].append(p["split"])
                    out["n_points"].append(len(points["x"]))
                    out["bytes"].append(encode_las(header, points))
            yield pd.DataFrame(out)

    return joined.mapInPandas(extract, OUT_SCHEMA)
