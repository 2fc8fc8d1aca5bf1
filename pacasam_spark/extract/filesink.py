"""Binary-file source + per-patch file sink (SURVEY.md §2.1 S5/S6,
§2.2 K3/K4/K5).

The reference reads whole LAZ/raster files (laspy/rasterio) and writes
one output file per patch under split/ directories with an
existence-check resume (extractors/laz.py:101-128,
extractor.py:34-39). Spark mapping:

- source: ``spark.read.format("binaryFile")`` — each file becomes a row
  (path, modificationTime, length, content); decode happens in Arrow
  batches, one decode per FILE shared by its patches (the reference's
  lazy one-read-per-file, laz.py:106-107, falls out of the groupBy).
- sink: one ``mapInPandas`` pass that runs the extraction kernel on each
  batch and writes its patches as {split}/{SPLIT}-{patch_id}.{fmt} files
  (naming: extractor.py:34-39, the extension is the patch's codec) with
  atomic tmp-rename per file and existence-skip: a file already on disk
  is reported, not rewritten. Decode, crop, encode and write share one
  Python worker per task, as the reference crops and writes in the same
  pool worker (extractors/laz.py:80-128).
"""

from __future__ import annotations

import os
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def read_binary_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """S5/S6: one row per file with its raw bytes."""
    return spark.read.format("binaryFile").load(path_glob)


def write_patch_files(
    joined: DataFrame,
    dataset_root: str,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
) -> DataFrame:
    """K3/K4/K5: extract and write one file per patch in ONE Python pass,
    returning a manifest DataFrame (image_id, path, written) —
    written=false when the file already existed (idempotent restart,
    reference laz.py:103-104).

    joined: the selection joined to its payload rows
        (``images.extraction_join``).
    kernel: a per-batch function of ``joined``'s rows returning
        (image_id, split, bytes, fmt) columns, e.g.
        ``functools.partial(images.extract_batch, crop=...)``. Each file
        is named ``{SPLIT}-{image_id}.{fmt}`` after the codec its bytes
        were encoded with.

    Atomicity: write to `.tmp-<pid>` then os.replace — the same
    tmp-then-rename the reference uses for Samba safety
    (samplers/sampler.py:68-85), per file.
    """

    def write_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in kernel(pdf).itertuples(index=False):
                d = os.path.join(dataset_root, str(r.split))
                os.makedirs(d, exist_ok=True)
                # reference naming: {SPLIT}-{patch_id}.ext (extractor.py:34-39)
                name = f"{str(r.split).upper()}-{r.image_id}.{r.fmt}"
                path = os.path.join(d, name)
                if os.path.exists(path):
                    rows.append((r.image_id, path, False))
                    continue
                tmp = f"{path}.tmp-{os.getpid()}"
                with open(tmp, "wb") as f:
                    f.write(bytes(r.bytes))
                os.replace(tmp, path)
                rows.append((r.image_id, path, True))
            yield pd.DataFrame(rows, columns=["image_id", "path", "written"])

    return joined.mapInPandas(
        write_batch, schema="image_id string, path string, written boolean"
    )
