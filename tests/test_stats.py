"""Comparer stats tests (reference:
tests/tests_pacasam/analysis/test_stats.py:6-21 — the 5 CSVs exist)."""

import glob
import math
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pacasam_spark.plans.stats import (
    catalogue_figures,
    compare_bools,
    compare_by_key,
    compare_sizes,
    write_comparison_reports,
)
from pacasam_spark.samplers import TripleSampler

REPORTS = [
    "comparison-bool_descriptors",
    "comparison-areas",
    "comparison-bool_descriptors-by_sampler",
    "comparison-sizes-by_sampler",
    "comparison-bool_descriptors-by_split",
    "comparison-sizes-by_split",
]


def _extracted(catalogue, config):
    sampling = TripleSampler(catalogue, config).get_patches()
    return catalogue.join(F.broadcast(sampling), "patch_id")


def _read_report(directory: str) -> pd.DataFrame:
    (path,) = glob.glob(f"{directory}/*.csv")
    return pd.read_csv(path)


def test_compare_bools_and_sizes(spark, catalogue, config):
    extracted = _extracted(catalogue, config).toArrow()
    base = catalogue_figures(catalogue)

    rows = {r["descriptor"]: r for r in compare_bools(base, extracted).to_pylist()}
    assert set(rows) == {"C0", "C1", "C2", "C3"}
    # C3 prevalence in db is exactly ceil(0.7*200)/200
    assert rows["C3"]["df_database"] == 140 / 200
    assert all(0.0 <= r["df_sampling"] <= 1.0 for r in rows.values())

    sizes = {r["metric"]: r for r in compare_sizes(base, extracted).to_pylist()}
    assert sizes["num_patches"]["df_database"] == 200.0
    assert sizes["num_patches"]["df_sampling"] == 50.0
    # 50m x 50m patches -> 0.0025 km^2 each
    assert abs(sizes["area_km2"]["df_database"] - 200 * 0.0025) < 1e-9
    assert sizes["num_patches"]["ratio"] == 0.25


def test_compare_by_key_gate(spark, catalogue, config):
    extracted = _extracted(catalogue, config).toArrow()
    base = catalogue_figures(catalogue)
    by_sampler = compare_by_key(base, extracted, "sampler")
    assert by_sampler is not None
    assert by_sampler.num_rows == 4 * len(set(by_sampler["sampler"].to_pylist()))
    # single-valued key -> gated out (reference stats.py:36)
    single = extracted.set_column(
        extracted.schema.get_field_index("sampler"),
        "sampler",
        [["only"] * extracted.num_rows],
    )
    assert compare_by_key(base, single, "sampler") is None


def test_write_five_reports(spark, catalogue, config, tmp_path):
    names = write_comparison_reports(
        catalogue, _extracted(catalogue, config), str(tmp_path / "stats")
    )
    assert "comparison-bool_descriptors" in names
    assert "comparison-areas" in names
    assert any(n.endswith("by_sampler") for n in names)
    assert any(n.endswith("by_split") for n in names)
    for n in names:
        assert spark.read.option("header", True).csv(
            str(tmp_path / "stats" / n)
        ).count() > 0


def test_write_reports_gate_each_key_once(spark, catalogue, config, tmp_path, job_ids):
    """write_comparison_reports over a collected sampling runs one Spark
    aggregation, over the catalogue: on the 200-row test catalogue the
    six reports take at most 2 Spark jobs (26 while every report and
    the by-key gates ran as Spark plans), and each by-key report holds
    the rows compare_by_key returns."""
    extracted = _extracted(catalogue, config).toArrow()
    last = max(job_ids(), default=-1)
    names = write_comparison_reports(catalogue, extracted, str(tmp_path / "stats"))
    jobs = len({j for j in job_ids() if j > last})
    assert names == REPORTS
    base = catalogue_figures(catalogue)
    for key in ("sampler", "split"):
        got = spark.read.option("header", True).csv(
            str(tmp_path / "stats" / f"comparison-bool_descriptors-by_{key}")
        )
        want = compare_by_key(base, extracted, key)
        assert got.columns == want.column_names
        assert sorted((r["descriptor"], str(r[key])) for r in got.collect()) == sorted(
            (r["descriptor"], str(r[key])) for r in want.to_pylist()
        )
    assert jobs <= 2, f"{jobs} Spark jobs"


def _half_up(x: float) -> float:
    # the ratio is rounded as Spark's round(x, 2) rounds a double:
    # half up on its shortest decimal form
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _pandas_reports(db: pd.DataFrame, samp: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """The reference's analysis/stats.py reports, computed in pandas:
    bool-dtype descriptors but `test`, area = box area / 1e6, per-key
    subsets by groupby, keys with <= 1 distinct value skipped, and a NaN
    ratio where the database prevalence is 0."""
    bools = [c for c in db.columns if db[c].dtype == bool and c != "test"]

    def area(df):
        return (df.geom_xmax - df.geom_xmin) * (df.geom_ymax - df.geom_ymin) / 1e6

    def with_ratio(df):
        df["ratio"] = [
            _half_up(s / d) if d else math.nan
            for s, d in zip(df.df_sampling, df.df_database)
        ]
        return df

    base = db[bools].mean()
    out = {
        "comparison-bool_descriptors": with_ratio(pd.DataFrame({
            "descriptor": bools,
            "df_database": base.values,
            "df_sampling": samp[bools].mean().values,
        })),
        "comparison-areas": with_ratio(pd.DataFrame({
            "metric": ["area_km2", "num_patches"],
            "df_database": [area(db).sum(), float(len(db))],
            "df_sampling": [area(samp).sum(), float(len(samp))],
        })),
    }
    for key in ("sampler", "split"):
        if samp[key].nunique(dropna=False) <= 1:
            continue
        rows = [
            (c, k, base[c], sub[c].mean())
            for k, sub in samp.groupby(key, dropna=False)
            for c in bools
        ]
        out[f"comparison-bool_descriptors-by_{key}"] = with_ratio(pd.DataFrame(
            rows, columns=["descriptor", key, "df_database", "df_sampling"]
        ))
        out[f"comparison-sizes-by_{key}"] = (
            samp.assign(area_km2=area(samp))
            .groupby(key, dropna=False)
            .agg(area_km2=("area_km2", "sum"), num_patches=("area_km2", "size"))
            .reset_index()
        )
    return out


def _assert_report_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert list(got.columns) == list(want.columns)
    labels = [c for c in want.columns if want[c].dtype == object]
    got = got.sort_values(labels).reset_index(drop=True)
    want = want.sort_values(labels).reset_index(drop=True)
    for c in want.columns:
        if c in labels or c == "num_patches" and want[c].dtype.kind == "i":
            assert got[c].tolist() == want[c].tolist(), c
        else:
            for g, w in zip(got[c], want[c]):
                assert (math.isnan(g) and math.isnan(w)) or g == pytest.approx(
                    w, rel=1e-9
                ), (c, g, w)


def test_reports_match_pandas_reference(spark, catalogue, config, tmp_path):
    """Every report equals an independent pandas computation of the
    reference's semantics: labels and counts exactly, figures to 1e-9
    relative."""
    extracted = _extracted(catalogue, config).toArrow()
    want = _pandas_reports(catalogue.toPandas(), extracted.to_pandas())
    names = write_comparison_reports(catalogue, extracted, str(tmp_path / "stats"))
    assert names == list(want) == REPORTS
    for name in names:
        _assert_report_equal(_read_report(str(tmp_path / "stats" / name)), want[name])


def test_descriptor_never_true_writes_empty_ratio(spark, tmp_path):
    """A bool descriptor that is never true in the catalogue has a
    database prevalence of 0: its ratio is an empty field (the
    reference's NaN), where Spark's ANSI division raised DIVIDE_BY_ZERO."""
    from pacasam_spark.sources.synthetic import synthetic_catalogue

    db = synthetic_catalogue(spark, db_size=400).withColumn("C2", F.lit(False))
    pid = F.col("patch_id")
    sampling = (
        db.filter(pid % 5 == 0)
        .withColumn("split", F.when(pid % 2 == 0, "train").otherwise("val"))
        .withColumn("sampler", F.when(pid % 3 == 0, "A").otherwise("B"))
    )
    out = str(tmp_path / "stats")
    names = write_comparison_reports(db, sampling, out)
    assert names == REPORTS
    for name in ("comparison-bool_descriptors",
                 "comparison-bool_descriptors-by_sampler",
                 "comparison-bool_descriptors-by_split"):
        report = _read_report(f"{out}/{name}")
        c2 = report[report.descriptor == "C2"]
        assert len(c2) >= 1 and (c2.df_database == 0.0).all()
        assert c2.ratio.isna().all(), name
        assert report[report.descriptor == "C0"].ratio.notna().all(), name
