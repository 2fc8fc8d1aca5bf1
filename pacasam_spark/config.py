"""YAML sampling configs + the connector registry.

Reference parity: the reference's query IS the config — run_sampling is
driven by a YAML file naming a connector, a sampler, and per-sampler
blocks (reference: src/pacasam/run_sampling.py:23-41,
src/pacasam/utils.py:47-71, configs/Synthetic.yml). This module provides
``load_sampling_config`` plus the CONNECTORS registry run_sampling
resolves class names against (the reference's CONNECTORS_LIBRARY,
utils.py:55-71). SAMPLER_REGISTRY lives in ``pacasam_spark.samplers``.

A connector here is a callable ``(spark, **connector_kwargs) -> DataFrame``
returning the catalogue — lazily, as a DataFrame plan, never a driver-side
frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pacasam_spark.operators.filters import filter_split


def load_sampling_config(config_file: str) -> dict:
    """reference: utils.py:47-50."""
    import yaml

    with open(config_file) as fh:
        return yaml.safe_load(fh)


def synthetic_connector(
    spark: SparkSession,
    db_size: int = 10000,
    binary_descriptors_prevalence: list[float] | None = None,
    split: str = "any",
    seed: int = 42,
    **_ignored,
) -> DataFrame:
    """reference: connectors/synthetic.py:45-113 + configs/Synthetic.yml
    connector_kwargs (binary_descriptors_prevalence, db_size, split)."""
    from pacasam_spark.sources.synthetic import synthetic_catalogue

    prevalences = None
    if binary_descriptors_prevalence is not None:
        prevalences = {
            f"C{i}": float(p) for i, p in enumerate(binary_descriptors_prevalence)
        }
    db = synthetic_catalogue(spark, db_size=db_size, prevalences=prevalences, seed=seed)
    return filter_split(db, split)


def file_connector(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    split: str = "any",
    **_ignored,
) -> DataFrame:
    """reference: connectors/geopandas.py:24-31 (any tabular source; stale
    sampling columns dropped). fmt defaults by extension — a ``.gpkg``
    path reads through sources/geopkg.py, else parquet."""
    from pacasam_spark.sources.files import read_catalogue

    return filter_split(read_catalogue(spark, path, fmt), split)


def jdbc_connector(
    spark: SparkSession,
    url: str,
    extraction_sql_query_path: str,
    split: str = "any",
    partition_column: str = "patch_id",
    num_partitions: int = 64,
    **extra,
) -> DataFrame:
    """reference: connectors/lipac.py (partitioned PostGIS scan of the
    config's extraction SQL). Partial in this environment — no JDBC
    driver jar in the image; option construction and path rewrite are
    real and unit-tested (sources/jdbc.py)."""
    from pacasam_spark.sources.jdbc import jdbc_scan_options, read_jdbc_catalogue

    with open(extraction_sql_query_path) as fh:
        sql = fh.read()
    opts = jdbc_scan_options(
        url, sql, partition_column=partition_column,
        num_partitions=num_partitions, **extra,
    )
    return filter_split(read_jdbc_catalogue(spark, **opts), split)


CONNECTORS_REGISTRY = {
    # reference names kept so reference configs translate 1:1
    "SyntheticConnector": synthetic_connector,
    "GeopandasConnector": file_connector,
    "LiPaCConnector": jdbc_connector,
}

