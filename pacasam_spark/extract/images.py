"""Extraction pipeline over image bytes (SURVEY.md §2.13 E1-E4 mapped to
the image+caption table) with a resume manifest.

Reference semantics re-expressed:
- E1 per-file group-extract (extractors/laz.py:80-128) -> the kernel
  :func:`extract_batch`, a plain function of one Arrow batch of
  (selection ⋈ catalogue) rows; ``filesink.write_patch_files`` runs it
  and writes the files in ONE Python pass, as the reference crops and
  writes in the same pool worker. :func:`extract_patches` is the
  DataFrame view of the same kernel.
- E2/E3 crop to a window + re-encode (extractors/bd_ortho_vintage.py:
  69-117; squares-only assert :76) -> numpy slicing inside the batch.
- K5 resume guard (extractors/laz.py:103-104, README.md:160) -> an
  anti-join of the sampling against the manifest of already-extracted
  ids, on the driver: like the reference, the sampling is small enough
  to hold in memory, so a resume with nothing left runs no Spark job.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

EXTRACT_SCHEMA = (
    "image_id string, split string, bytes binary, w int, h int, fmt string, "
    "caption string"
)


def extraction_join(
    images: DataFrame,
    sampling: DataFrame,
    sampling_rows: int | None = None,
    broadcast_threshold: int | None = None,
) -> DataFrame:
    """J1: the selection joined to its catalogue rows — the input of an
    extraction kernel.

    images: the catalogue (image_id, bytes, w, h, fmt, caption, phash),
    projected to the columns a kernel reads: the joined rows are
    (image_id, bytes, fmt, caption, split).
    sampling: (image_id, split) selection — broadcast only when provably
    small (size-gated; a shuffle-hash join above the threshold, since
    run_extraction accepts arbitrary sampling parquet).
    sampling_rows: pass the count if already known to skip the size probe.
    """
    from pacasam_spark.operators.joins import (
        BROADCAST_ROW_THRESHOLD,
        selection_join,
    )

    return selection_join(
        images.select("image_id", "bytes", "fmt", "caption"),
        sampling.select("image_id", "split"),
        "image_id",
        selection_rows=sampling_rows,
        broadcast_threshold=(
            BROADCAST_ROW_THRESHOLD
            if broadcast_threshold is None
            else broadcast_threshold
        ),
    )


def extract_batch(
    pdf: pd.DataFrame,
    crop: tuple[int, int, int, int] | None = None,
    resize: tuple[int, int] | None = None,
    out_fmt: str | None = None,
) -> pd.DataFrame:
    """E2/E3 kernel over one Arrow batch of joined rows: decode, crop,
    resize, encode. Returns the ``EXTRACT_SCHEMA`` columns.

    crop: (x0, y0, cw, ch) window or None for full frames.
    resize: (out_w, out_h) bilinear/block-mean resample after the crop,
        or None to keep dimensions (training-pipeline thumbnail path).
    out_fmt: target codec (default: keep source format).
    """
    from pacasam_spark.imaging import decode, encode, resize_rgb

    rows = []
    for r in pdf.itertuples(index=False):
        arr = decode(bytes(r.bytes), r.fmt)
        if crop is not None:
            x0, y0, cw, ch = crop
            arr = arr[y0 : y0 + ch, x0 : x0 + cw]
        if resize is not None:
            arr = resize_rgb(arr, resize[0], resize[1])
        fmt = out_fmt or r.fmt
        rows.append(
            (
                r.image_id,
                r.split,
                encode(arr, fmt),
                arr.shape[1],
                arr.shape[0],
                fmt,
                r.caption,
            )
        )
    return pd.DataFrame(
        rows, columns=["image_id", "split", "bytes", "w", "h", "fmt", "caption"]
    )


def extract_patches(
    images: DataFrame,
    sampling: DataFrame,
    crop: tuple[int, int, int, int] | None = None,
    resize: tuple[int, int] | None = None,
    out_fmt: str | None = None,
    sampling_rows: int | None = None,
    broadcast_threshold: int | None = None,
) -> DataFrame:
    """The extracted patches as a DataFrame: :func:`extraction_join`
    then :func:`extract_batch` over each batch. A dataset is written by
    ``filesink.write_patch_files``, which runs the same kernel in its
    own pass."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield extract_batch(pdf, crop, resize, out_fmt)

    return extraction_join(
        images, sampling, sampling_rows, broadcast_threshold
    ).mapInPandas(work, schema=EXTRACT_SCHEMA)


def compute_phash(images: DataFrame, out_col: str = "phash") -> DataFrame:
    """(image_id, phash) computed FROM PIXELS — the input_hint's
    ``phash:int64`` column populated by a real DCT perceptual hash
    (imaging.phash64): luma, 32x32 resample, 2D DCT, 8x8-coefficient
    median threshold. One Arrow-batched decode pass (mapInPandas, numpy
    per batch); join the result back on image_id, then feed
    operators.dedup.hamming_near_dup_pairs for image near-dup removal.
    Scale shape: embarrassingly parallel scan, zero shuffles."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pacasam_spark.imaging import decode, phash64

        for pdf in batches:
            hashes = [
                phash64(decode(bytes(b), f)) for b, f in zip(pdf.bytes, pdf.fmt)
            ]
            yield pd.DataFrame({"image_id": pdf.image_id, out_col: hashes})

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        work, schema=f"image_id string, {out_col} long"
    )


def resume_filter(sampling: pa.Table, manifest_dir: str) -> pa.Table:
    """K5: drop ids already extracted (idempotent restart). The manifest
    is the checkpoint table — an anti-join on the driver, not a per-row
    file stat; the directory is read only when it exists."""
    if not os.path.isdir(manifest_dir):
        return sampling
    done = pq.read_table(manifest_dir, columns=["image_id"])["image_id"]
    return sampling.filter(pc.invert(pc.is_in(sampling["image_id"], done)))
