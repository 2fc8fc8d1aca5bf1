"""Manifest-fed sampler statistics (round-6 verdict #4): a snapshot
table written with ``norm_columns``/``count_key`` carries the EXACT
per-file normalization partials and per-file_id row counts in its
manifests, so Diversity/Outliers skip their stats scan entirely — and
the selections must be bit-identical to the in-scan fused pass."""

import shutil

import pytest
from pyspark.sql import functions as F

from pacasam_spark.operators.normalize import (
    CatalogueProfile,
    _stat_merge_aggs,
    _stat_partial_aggs,
    standardize,
)
from pacasam_spark.samplers import DiversitySampler, OutliersSampler
from pacasam_spark.sources.snapshots import (
    read_snapshot,
    snapshot_fps_inputs,
    snapshots,
    write_snapshot,
)
from pacasam_spark.sources.synthetic import synthetic_catalogue

COLS = ["nb_sol", "nb_bati", "nb_vegetation_basse"]


def _global_stats(df, cols):
    """The single-pass global statistics standardize computes in-scan."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    masked = {c: F.nullif(F.col(c).cast("double"), F.lit(0.0)) for c in cols}
    return df.agg(*_stat_partial_aggs(types, masked, cols)).first()


def _assert_stats_equal(stats, row, cols):
    for c in cols:
        assert stats[f"cnt_{c}"] == row[f"cnt_{c}"]
        assert stats[f"nan_{c}"] == row[f"nan_{c}"]
        assert stats[f"min_{c}"] == row[f"min_{c}"]
        # exact: decimal/long sums must survive the JSON round-trip
        assert float(stats[f"s_{c}"]) == float(row[f"s_{c}"])
        assert float(stats[f"ssq_{c}"]) == float(row[f"ssq_{c}"])


def test_manifest_stats_match_inscan_agg(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    cat = synthetic_catalogue(spark, db_size=3000)
    # several part-files, so the manifest merge folds per-file partials
    write_snapshot(cat.repartition(4), tbl, norm_columns=COLS, count_key="file_id")
    profile = snapshot_fps_inputs(spark, tbl, COLS, key="file_id")
    stats, counts = profile.stats, profile.per_file
    _assert_stats_equal(stats, _global_stats(cat, COLS), COLS)
    got = {r["file_id"]: r["count"] for r in counts.collect()}
    exp = {r["file_id"]: r["count"] for r in cat.groupBy("file_id").count().collect()}
    assert got == exp
    assert (profile.total_rows, profile.max_rows_per_file) == (3000, max(exp.values()))
    # the in-scan profile pass merges to the same statistics and totals
    scanned = CatalogueProfile.of(cat, COLS).build()
    try:
        _assert_stats_equal(scanned.stats, _global_stats(cat, COLS), COLS)
        assert (scanned.total_rows, scanned.max_rows_per_file) == (
            profile.total_rows,
            profile.max_rows_per_file,
        )
    finally:
        scanned.release()
    # the lineage row counts stay per PART-FILE even with the extra
    # count_key grouping (resume/attrition consumers rely on them)
    m = snapshots(tbl)[-1]
    assert sum(m["files"].values()) == 3000
    assert len(m["files"]) >= 2


def test_manifest_fed_diversity_bit_identical(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_snapshot(
        synthetic_catalogue(spark, db_size=4000),
        tbl,
        norm_columns=COLS,
        count_key="file_id",
    )
    cat = read_snapshot(spark, tbl)
    cfg = {
        "target_total_num_patches": 150,
        "frac_validation_set": 0.1,
        "DiversitySampler": {"max_chunk_size_for_fps": 800, "columns": COLS},
    }
    base = sorted(
        (r["patch_id"], r["split"])
        for r in DiversitySampler(cat, cfg).get_patches().collect()
    )
    cfg["DiversitySampler"]["manifest_stats"] = {"dir": tbl}
    fed = sorted(
        (r["patch_id"], r["split"])
        for r in DiversitySampler(cat, cfg).get_patches().collect()
    )
    assert base == fed


def test_manifest_fed_outliers_bit_identical(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_snapshot(
        synthetic_catalogue(spark, db_size=2000),
        tbl,
        norm_columns=COLS,
        count_key="file_id",
    )
    cat = read_snapshot(spark, tbl)
    cfg = {
        "target_total_num_patches": 80,
        "frac_validation_set": 0.1,
        "OutliersSampler": {"columns": COLS, "max_chunk_size": 500},
    }
    base = sorted(
        r["patch_id"] for r in OutliersSampler(cat, cfg).get_patches().collect()
    )
    cfg["OutliersSampler"]["manifest_stats"] = {"dir": tbl}
    fed = sorted(
        r["patch_id"] for r in OutliersSampler(cat, cfg).get_patches().collect()
    )
    assert base == fed


def test_manifest_fed_triple_runs_no_profile_scan(spark, tmp_path, job_ids):
    """Over a snapshot catalogue with manifest statistics, TripleSampler's
    one profile comes from the manifests: on the benchmark's 10k-row
    catalogue and config the call submits at most 12 Spark jobs (15 when
    the targetted leg's salts needed per-target counts, which took a
    profile scan of the catalogue), and selects exactly what the same
    call over the flat catalogue selects."""
    from perfbench.workloads import FEATURES, SIZES, sampling_config
    from pacasam_spark.samplers import TripleSampler

    db = synthetic_catalogue(spark, db_size=10_000, seed=5, exact_counts=False)
    tbl = str(tmp_path / "tbl")
    write_snapshot(db, tbl, norm_columns=list(FEATURES), count_key="file_id",
                   bucket_by=("file_id", 8), sort_by=("file_id", "patch_id"))
    cfg = sampling_config(SIZES["full"])
    flat = sorted(tuple(r) for r in TripleSampler(db, cfg).get_patches().collect())

    cfg["DiversitySampler"]["manifest_stats"] = {"dir": tbl}
    last = max(job_ids(), default=-1)
    fed = sorted(
        tuple(r)
        for r in TripleSampler(read_snapshot(spark, tbl), cfg).get_patches().collect()
    )
    jobs = len({j for j in job_ids() if j > last})
    assert fed == flat
    assert jobs <= 12, f"{jobs} Spark jobs"


def test_missing_stats_raise(spark, tmp_path):
    bare = str(tmp_path / "bare")
    write_snapshot(synthetic_catalogue(spark, db_size=500), bare)
    with pytest.raises(ValueError, match="norm_columns"):
        snapshot_fps_inputs(spark, bare, COLS, key="file_id")
    keyed = str(tmp_path / "keyed")
    write_snapshot(
        synthetic_catalogue(spark, db_size=500), keyed, norm_columns=COLS
    )
    with pytest.raises(ValueError, match="count_key"):
        snapshot_fps_inputs(spark, keyed, COLS, key="file_id")


def test_norm_column_validation(spark, tmp_path):
    df = spark.range(10).select(
        F.col("id").alias("k"), F.array(F.lit(1.0)).alias("v")
    )
    with pytest.raises(ValueError, match="not numeric"):
        write_snapshot(df, str(tmp_path / "x"), norm_columns=["v"])
    with pytest.raises(ValueError, match="integral or string"):
        write_snapshot(df, str(tmp_path / "x"), count_key="v")


def test_standardize_stats_param(spark, tmp_path):
    """standardize(stats=...) — the merged statistics or the profile
    holding them — must produce the same columns as the in-scan pass."""
    tbl = str(tmp_path / "tbl")
    cat = synthetic_catalogue(spark, db_size=1000).select(
        "patch_id", "file_id", *COLS
    )
    write_snapshot(cat, tbl, norm_columns=COLS, count_key="file_id")
    profile = snapshot_fps_inputs(spark, tbl, COLS, key="file_id")
    a = standardize(cat, COLS).orderBy("patch_id").collect()
    b = standardize(cat, COLS, stats=profile.stats).orderBy("patch_id").collect()
    assert a == b
    assert standardize(cat, COLS, stats=profile).orderBy("patch_id").collect() == a


def test_combined_bucketed_manifest_layout(spark, tmp_path):
    """Round-7 combined layout: a snapshot written bucketed AND with
    stats serves Diversity with ZERO stats scan (manifest-fed), ZERO
    file_id exchanges (bucketed scan), and a selection bit-identical to
    the plain pipeline."""
    tbl = str(tmp_path / "tbl")
    plain = synthetic_catalogue(spark, db_size=4000)
    write_snapshot(
        plain,
        tbl,
        norm_columns=COLS,
        count_key="file_id",
        bucket_by=("file_id", 8),
        sort_by=("file_id", "patch_id"),
    )
    cat = read_snapshot(spark, tbl)
    cfg = {
        "target_total_num_patches": 150,
        "frac_validation_set": 0.1,
        "DiversitySampler": {"max_chunk_size_for_fps": 800, "columns": COLS},
    }
    base = sorted(
        (r["patch_id"], r["split"])
        for r in DiversitySampler(plain, cfg).get_patches().collect()
    )
    cfg["DiversitySampler"]["manifest_stats"] = {"dir": tbl}
    sampler = DiversitySampler(cat, cfg)
    fed = sorted(
        (r["patch_id"], r["split"]) for r in sampler.get_patches().collect()
    )
    assert base == fed
    # plan gate: the normalized+chunked stage over the bucketed table
    # shuffles only for the FPS chunk exchange, never on file_id
    from pacasam_spark.operators.fps import add_deterministic_chunk_ids

    chunked = add_deterministic_chunk_ids(
        cat.select("patch_id", "file_id"), 800
    )
    plan = chunked._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Bucketed: true" in plan
