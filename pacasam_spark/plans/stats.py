"""Comparer stats (SURVEY.md §2.5 A6-A8; reference: analysis/stats.py).

The reference writes 5 comparison CSVs from driver-side pandas; here each
comparison is ONE distributed aggregation returning a (small) DataFrame —
written with df.write.csv by the caller. The reference's per-key python
loop (stats.py:96-107) becomes a groupBy, and the "only if >1 distinct
value" gate (stats.py:36) stays a cheap countDistinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SURFACE_OF_A_KM2 = 1000 * 1000


def _bool_cols(df: DataFrame) -> list[str]:
    """Boolean descriptors, excluding the tri-state `test` split flag BY
    NAME — in the reference it is float/object dtype because of NaN, so
    select_dtypes(include=bool) never picks it up (stats.py:66). A
    nullability test is NOT a usable proxy: any parquet/DDL round-trip
    (file connectors, a snapshot table) makes every column nullable,
    which silently emptied the descriptor list for file-based
    catalogues."""
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.BooleanType) and f.name != "test"
    ]


def _area_col() -> F.Column:
    return (
        (F.col("geom_xmax") - F.col("geom_xmin"))
        * (F.col("geom_ymax") - F.col("geom_ymin"))
        / SURFACE_OF_A_KM2
    )


def _prevalences(df: DataFrame, cols: list[str], label: str) -> DataFrame:
    """One row per descriptor: avg of the bool cast (A6) — a single agg
    then an unpivot via stack."""
    agg = df.agg(
        *[F.avg(F.col(c).cast("double")).alias(c) for c in cols]
    )
    stack = ", ".join(f"'{c}', {c}" for c in cols)
    return agg.selectExpr(
        f"stack({len(cols)}, {stack}) as (descriptor, {label})"
    )


def compare_bools(db: DataFrame, sampling: DataFrame) -> DataFrame:
    """Prevalence of every boolean descriptor in db vs sampling + ratio
    (reference: stats.py:52-81). `sampling` must carry the descriptor
    columns (post-extraction join)."""
    cols = _bool_cols(db)
    base = _prevalences(db, cols, "df_database")
    samp = _prevalences(sampling, cols, "df_sampling")
    return (
        base.join(samp, "descriptor")
        .withColumn("ratio", F.round(F.col("df_sampling") / F.col("df_database"), 2))
    )


def compare_sizes(db: DataFrame, sampling: DataFrame) -> DataFrame:
    """Total area (km^2) + patch counts (reference: stats.py:83-94)."""
    def sizes(df: DataFrame, label: str) -> DataFrame:
        agg = df.agg(
            F.sum(_area_col()).alias("area_km2"),
            F.count("*").cast("double").alias("num_patches"),
        )
        return agg.selectExpr(
            f"stack(2, 'area_km2', area_km2, 'num_patches', num_patches)"
            f" as (metric, {label})"
        )

    return (
        sizes(db, "df_database")
        .join(sizes(sampling, "df_sampling"), "metric")
        .withColumn("ratio", F.round(F.col("df_sampling") / F.col("df_database"), 2))
    )


def compare_by_key(
    db: DataFrame, sampling: DataFrame, key: str
) -> DataFrame | None:
    """Per-key prevalence comparison (reference: stats.py:96-107): the
    python groupby loop becomes one groupBy(key) aggregation. Returns None
    when the key has <= 1 distinct value (stats.py:36 gate)."""
    if sampling.select(key).distinct().count() <= 1:
        return None
    cols = _bool_cols(db)
    base = _prevalences(db, cols, "df_database")
    per_key = sampling.groupBy(key).agg(
        *[F.avg(F.col(c).cast("double")).alias(c) for c in cols]
    )
    stack = ", ".join(f"'{c}', {c}" for c in cols)
    samp = per_key.selectExpr(
        key, f"stack({len(cols)}, {stack}) as (descriptor, df_sampling)"
    )
    return (
        samp.join(F.broadcast(base), "descriptor")
        .withColumn("ratio", F.round(F.col("df_sampling") / F.col("df_database"), 2))
        .select("descriptor", key, "df_database", "df_sampling", "ratio")
    )


def write_comparison_reports(
    db: DataFrame, sampling_extracted: DataFrame, out_dir: str
) -> list[str]:
    """The 5 reference CSVs (K2; reference: stats.py:23-50), written as
    single-file CSV directories."""
    written = []

    def write(df: DataFrame | None, name: str) -> None:
        if df is None:
            return
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(
            f"{out_dir}/{name}"
        )
        written.append(name)

    write(compare_bools(db, sampling_extracted), "comparison-bool_descriptors")
    write(compare_sizes(db, sampling_extracted), "comparison-areas")
    for key in ("sampler", "split"):
        bk = compare_by_key(db, sampling_extracted, key)
        write(bk, f"comparison-bool_descriptors-by_{key}")
        if bk is not None:
            # sizes by key: counts + area per subset
            sizes = sampling_extracted.groupBy(key).agg(
                F.sum(_area_col()).alias("area_km2"),
                F.count("*").alias("num_patches"),
            )
            write(sizes, f"comparison-sizes-by_{key}")
    return written

