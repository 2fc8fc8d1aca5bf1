"""Comparer stats (SURVEY.md §2.5 A6-A8, K2; reference: analysis/stats.py).

Only the catalogue side runs in Spark, as ONE aggregation (bool means,
area sum, row count): the rest is capped by the sample target, so the
sampling side, the by-key reports and the by-key gate (stats.py:36) are
computed in pyarrow from the collected sampling, as the reference does
in driver pandas. Each report is one CSV written with ``pyarrow.csv``.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
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


def _area(sampling: pa.Table) -> pa.ChunkedArray:
    """Each patch's box area in km^2."""
    side = pc.multiply(
        pc.subtract(sampling["geom_xmax"], sampling["geom_xmin"]),
        pc.subtract(sampling["geom_ymax"], sampling["geom_ymin"]),
    )
    return pc.divide(pc.cast(side, pa.float64()), float(SURFACE_OF_A_KM2))


def catalogue_figures(db: DataFrame) -> dict:
    """The catalogue side of every report, from ONE Spark aggregation:
    the mean of each bool descriptor (``prevalence``), the total area in
    km^2 and the row count."""
    cols = _bool_cols(db)
    row = db.agg(
        *[F.avg(F.col(c).cast("double")) for c in cols],
        F.sum(
            (F.col("geom_xmax") - F.col("geom_xmin"))
            * (F.col("geom_ymax") - F.col("geom_ymin"))
            / SURFACE_OF_A_KM2
        ),
        F.count("*"),
    ).first()
    return {
        "prevalence": dict(zip(cols, row[: len(cols)])),
        "area_km2": row[-2],
        "num_patches": float(row[-1]),
    }


def _ratio(sampling: float | None, database: float | None) -> float | None:
    """sampling / database rounded to 2 decimals, half up on the
    quotient's shortest decimal form (Spark's ``round``). None — an
    empty CSV field, the reference's NaN — when the database side is 0
    or missing: a descriptor never true in the catalogue is never true
    in a sampling of it."""
    if sampling is None or not database:
        return None
    q = Decimal(repr(sampling / database))
    return float(q.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _comparison(labels: dict, db: list, samp: list) -> pa.Table:
    """A report's rows: the ``labels`` columns, then the database and
    sampling figures and their ratio."""
    return pa.table({
        **labels,
        "df_database": pa.array(db, pa.float64()),
        "df_sampling": pa.array(samp, pa.float64()),
        "ratio": pa.array(list(map(_ratio, samp, db)), pa.float64()),
    })


def compare_bools(base: dict, sampling: pa.Table) -> pa.Table:
    """Prevalence of every boolean descriptor in db vs sampling + ratio
    (reference: stats.py:52-81). ``base`` is :func:`catalogue_figures`;
    ``sampling`` must carry the descriptor columns (post-extraction
    join)."""
    db = base["prevalence"]
    return _comparison(
        {"descriptor": pa.array(list(db), pa.string())},
        list(db.values()),
        [pc.mean(pc.cast(sampling[c], pa.float64())).as_py() for c in db],
    )


def compare_sizes(base: dict, sampling: pa.Table) -> pa.Table:
    """Total area (km^2) + patch counts (reference: stats.py:83-94)."""
    return _comparison(
        {"metric": ["area_km2", "num_patches"]},
        [base["area_km2"], base["num_patches"]],
        [pc.sum(_area(sampling)).as_py(), float(sampling.num_rows)],
    )


def compare_by_key(base: dict, sampling: pa.Table, key: str) -> pa.Table | None:
    """Per-key prevalence comparison (reference: stats.py:96-107): one
    row per (key value, descriptor), key values in sorted order. Returns
    None when the key has <= 1 distinct value (stats.py:36 gate)."""
    if pc.count_distinct(sampling[key], mode="all").as_py() <= 1:
        return None
    db = base["prevalence"]
    values = {c: pc.cast(sampling[c], pa.float64()) for c in db}
    groups = (
        pa.table({key: sampling[key], **values})
        .group_by(key)
        .aggregate([(c, "mean") for c in db])
        .sort_by(key)
    )
    at = [(i, c) for i in range(groups.num_rows) for c in db]
    return _comparison(
        {
            "descriptor": pa.array([c for _, c in at], pa.string()),
            key: groups[key].take([i for i, _ in at]),
        },
        [db[c] for _, c in at],
        [groups[f"{c}_mean"][i].as_py() for i, c in at],
    )


def write_comparison_reports(
    db: DataFrame, sampling: pa.Table | DataFrame, out_dir: str
) -> list[str]:
    """The reference's comparison CSVs (K2; reference: stats.py:23-50),
    each a ``<out_dir>/<name>/`` directory holding one CSV. ``sampling``
    is the collected selection joined to its catalogue rows; a Spark
    DataFrame is collected once. Returns the report names written."""
    from pacasam_spark.samplers.base import _write_fresh

    if isinstance(sampling, DataFrame):  # a saved sampling read back
        sampling = sampling.toArrow()
    base = catalogue_figures(db)
    reports = [
        ("comparison-bool_descriptors", compare_bools(base, sampling)),
        ("comparison-areas", compare_sizes(base, sampling)),
    ]
    for key in ("sampler", "split"):
        by_key = compare_by_key(base, sampling, key)
        if by_key is not None:
            sizes = (
                pa.table({key: sampling[key], "area_km2": _area(sampling)})
                .group_by(key)
                .aggregate([("area_km2", "sum"), ([], "count_all")])
                .sort_by(key)
                .rename_columns([key, "area_km2", "num_patches"])
            )
            reports += [
                (f"comparison-bool_descriptors-by_{key}", by_key),
                (f"comparison-sizes-by_{key}", sizes),
            ]
    for name, table in reports:
        _write_fresh(
            f"{out_dir}/{name}", "part-00000.csv", lambda f: pacsv.write_csv(table, f)
        )
    return [name for name, _ in reports]
