"""File connectors (SURVEY.md §2.1 S3/S4, §2.2 K1).

Reference parity:
- GeopandasConnector (connectors/geopandas.py:24-31): read any tabular
  source, dropping stale ``split``/``sampler`` columns so the catalogue
  can be re-sampled.
- load_sampling + check_sampling_format (extractors/extractor.py:45-73):
  schema-validated sampling input for extraction, read on the driver.
- save_sampling (samplers/sampler.py:68-85): the reference writes to a
  tmp file then copies for atomicity on Samba; here the driver collects
  the target-capped rows once and renames one pyarrow-written parquet
  file into place, as run_extraction commits its manifest.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from pacasam_spark import schemas as S


def read_catalogue(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """S3: load a catalogue file; stale sampling columns are dropped so
    re-sampling starts clean (reference: connectors/geopandas.py:28-31).
    ``fmt`` defaults by extension: ``.gpkg`` reads through the pure-python
    GeoPackage source (sources/geopkg.py — geometry surfaced as its
    envelope columns, like the reference's boxes-only catalogues), all
    else through the named Spark datasource (default parquet)."""
    if fmt is None:
        fmt = "gpkg" if path.endswith(".gpkg") else "parquet"
    if fmt == "gpkg":
        from pacasam_spark.sources.geopkg import read_gpkg

        return read_gpkg(spark, path)  # drops split/sampler itself
    df = spark.read.format(fmt).load(path)
    stale = [c for c in (S.SPLIT, S.SAMPLER) if c in df.columns]
    return df.drop(*stale) if stale else df


class SamplingFormatError(ValueError):
    pass


def check_sampling_format(schema: pa.Schema) -> None:
    """S4: sampling must carry patch_id + a string split (+ geometry box
    columns when destined for extraction)
    (reference: extractors/extractor.py:51-73)."""
    # patch_id for catalogue samplings; image_id for the image+caption
    # table (BASELINE.json input_hint) — either identifies the patch
    if S.PATCH_ID not in schema.names and "image_id" not in schema.names:
        raise SamplingFormatError(f"missing column {S.PATCH_ID!r} (or image_id)")
    if S.SPLIT not in schema.names:
        raise SamplingFormatError(f"missing column {S.SPLIT!r}")
    split_type = schema.field(S.SPLIT).type
    if not (pa.types.is_string(split_type) or pa.types.is_large_string(split_type)):
        raise SamplingFormatError(f"column {S.SPLIT!r} must be string, got {split_type}")


def load_sampling(path: str) -> pa.Table:
    """S4: read + validate a sampling on the driver (reference:
    extractor.py:45-49 loads it into memory too — a selection is capped
    by the sample target). Returns (image_id string, split): a catalogue
    sampling's patch_id becomes the string image_id the extraction names
    its files by."""
    dataset = pq.ParquetDataset(path)
    check_sampling_format(dataset.schema)
    if "image_id" in dataset.schema.names:
        return dataset.read(columns=["image_id", S.SPLIT])
    table = dataset.read(columns=[S.PATCH_ID, S.SPLIT])
    return pa.table({
        "image_id": pc.cast(table[S.PATCH_ID], pa.string()),
        S.SPLIT: table[S.SPLIT],
    })


def save_sampling(df: DataFrame, path: str) -> pa.Table:
    """K1: write a sampling as ONE parquet file from the driver. A
    sampling is capped by the sample target, so its rows are collected
    once (``toArrow``) and written with pyarrow into the cleared
    directory, through the same tmp-file-then-rename as the reference
    (samplers/sampler.py:68-85): a reader sees the whole file or no
    file, and no Spark job or commit protocol runs for the write.
    Returns the collected table, which the comparison reports read."""
    from pacasam_spark.samplers.base import _write_fresh

    table = df.toArrow()
    _write_fresh(path, "part-00000.parquet", lambda f: pq.write_table(table, f))
    return table
