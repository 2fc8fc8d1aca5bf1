"""Comparer stats tests (reference:
tests/tests_pacasam/analysis/test_stats.py:6-21 — the 5 CSVs exist)."""

from pyspark.sql import functions as F

from pacasam_spark.plans.stats import (
    compare_bools,
    compare_by_key,
    compare_sizes,
    write_comparison_reports,
)
from pacasam_spark.samplers import TripleSampler


def test_compare_bools_and_sizes(spark, catalogue, config):
    sampling = TripleSampler(catalogue, config).get_patches()
    extracted = catalogue.join(F.broadcast(sampling), "patch_id")

    bools = compare_bools(catalogue, extracted)
    rows = {r["descriptor"]: r for r in bools.collect()}
    assert set(rows) == {"C0", "C1", "C2", "C3"}
    # C3 prevalence in db is exactly ceil(0.7*200)/200
    assert rows["C3"]["df_database"] == 140 / 200
    assert all(0.0 <= r["df_sampling"] <= 1.0 for r in rows.values())

    sizes = {r["metric"]: r for r in compare_sizes(catalogue, extracted).collect()}
    assert sizes["num_patches"]["df_database"] == 200.0
    assert sizes["num_patches"]["df_sampling"] == 50.0
    # 50m x 50m patches -> 0.0025 km^2 each
    assert abs(sizes["area_km2"]["df_database"] - 200 * 0.0025) < 1e-9
    assert sizes["num_patches"]["ratio"] == 0.25


def test_compare_by_key_gate(spark, catalogue, config):
    sampling = TripleSampler(catalogue, config).get_patches()
    extracted = catalogue.join(F.broadcast(sampling), "patch_id")
    by_sampler = compare_by_key(catalogue, extracted, "sampler")
    assert by_sampler is not None
    assert by_sampler.count() == 4 * by_sampler.select("sampler").distinct().count()
    # single-valued key -> gated out (reference stats.py:36)
    single = extracted.withColumn("sampler", F.lit("only"))
    assert compare_by_key(catalogue, single, "sampler") is None


def test_write_five_reports(spark, catalogue, config, tmp_path):
    sampling = TripleSampler(catalogue, config).get_patches()
    extracted = catalogue.join(F.broadcast(sampling), "patch_id")
    names = write_comparison_reports(catalogue, extracted, str(tmp_path / "stats"))
    assert "comparison-bool_descriptors" in names
    assert "comparison-areas" in names
    assert any(n.endswith("by_sampler") for n in names)
    assert any(n.endswith("by_split") for n in names)
    for n in names:
        assert spark.read.option("header", True).csv(
            str(tmp_path / "stats" / n)
        ).count() > 0


def test_write_reports_gate_each_key_once(spark, catalogue, config, tmp_path):
    """write_comparison_reports runs the by-key gate (a distinct count)
    once per key: on the 200-row test catalogue the six reports take at
    most 26 Spark jobs (32 while the gate ran twice per key), and each
    by-key report holds the rows compare_by_key returns."""
    sampling = TripleSampler(catalogue, config).get_patches()
    extracted = catalogue.join(F.broadcast(sampling), "patch_id").cache()
    extracted.count()
    sc = spark.sparkContext._jsc.sc()

    def job_ids() -> set[int]:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    try:
        last = max(job_ids(), default=-1)
        names = write_comparison_reports(catalogue, extracted, str(tmp_path / "stats"))
        jobs = len({j for j in job_ids() if j > last})
        assert names == [
            "comparison-bool_descriptors",
            "comparison-areas",
            "comparison-bool_descriptors-by_sampler",
            "comparison-sizes-by_sampler",
            "comparison-bool_descriptors-by_split",
            "comparison-sizes-by_split",
        ]
        for key in ("sampler", "split"):
            got = spark.read.option("header", True).csv(
                str(tmp_path / "stats" / f"comparison-bool_descriptors-by_{key}")
            )
            want = compare_by_key(catalogue, extracted, key)
            assert got.columns == want.columns
            assert sorted((r["descriptor"], str(r[key])) for r in got.collect()) == sorted(
                (r["descriptor"], str(r[key])) for r in want.collect()
            )
    finally:
        extracted.unpersist()
    assert jobs <= 26, f"{jobs} Spark jobs"
