"""Sampler contract tests — replicating the reference's assertions
(tests/tests_pacasam/test_run_sampling.py:29-41,
tests/tests_pacasam/samplers/test_targetted.py:8-33) on Spark outputs."""

import copy
import math
import os

import pytest

from pacasam_spark import schemas as S
from pacasam_spark.samplers import (
    CopySampler,
    DiversitySampler,
    OutliersSampler,
    RandomSampler,
    SpatialSampler,
    TargettedSampler,
    TripleSampler,
)

ALL_SAMPLERS = [
    RandomSampler,
    SpatialSampler,
    TargettedSampler,
    DiversitySampler,
    OutliersSampler,
    TripleSampler,
    CopySampler,
]


@pytest.mark.parametrize("sampler_cls", ALL_SAMPLERS)
def test_sampler_output_contract(sampler_cls, catalogue, config):
    """E2E: non-empty, sampling schema present, ids unique and from the
    catalogue (reference: test_run_sampling.py:29-41)."""
    out = sampler_cls(catalogue, config).get_patches()
    rows = out.collect()
    assert len(rows) > 0
    assert set(out.columns) >= {S.PATCH_ID, S.SPLIT, S.SAMPLER}
    ids = [r[S.PATCH_ID] for r in rows]
    assert len(ids) == len(set(ids))
    cat_ids = {r[S.PATCH_ID] for r in catalogue.select(S.PATCH_ID).collect()}
    assert set(ids) <= cat_ids


def test_targetted_with_completion_exact_counts(catalogue, config):
    """reference: test_targetted.py:8-21 — exact total, exact val count,
    sampler set {TargettedSampler, SpatialSampler}."""
    target = config["target_total_num_patches"]
    out = TargettedSampler(catalogue, config).get_patches()
    rows = out.collect()
    assert len(rows) == target
    n_val = sum(1 for r in rows if r[S.SPLIT] == "val")
    assert n_val == math.floor(config["frac_validation_set"] * target)
    assert {r[S.SAMPLER] for r in rows} == {"TargettedSampler", "SpatialSampler"}


def test_targetted_without_completion(catalogue, config):
    """reference: test_targetted.py:23-27 — 0 < n < target, only
    TargettedSampler rows."""
    target = config["target_total_num_patches"]
    out = TargettedSampler(
        catalogue, config, complete_with_spatial_sampling=False
    ).get_patches()
    rows = out.collect()
    assert 0 < len(rows) < target
    assert {r[S.SAMPLER] for r in rows} == {"TargettedSampler"}


def test_targetted_overconstrained_warns_and_overshoots(catalogue, config):
    """reference: test_targetted.py:29-33 — sum of constraints > 100%
    => UserWarning + more than target selected."""
    config["TargettedSampler"]["targets"] = {
        "C3": {"target_min_samples_proportion": 3.0},
    }
    with pytest.warns(UserWarning):
        out = TargettedSampler(catalogue, config).get_patches()
        n = out.count()
    assert n > config["target_total_num_patches"]


def test_triple_sampler_exact_total_and_precedence(catalogue, config):
    target = config["target_total_num_patches"]
    rows = TripleSampler(catalogue, config).get_patches().collect()
    assert len(rows) == target
    assert {r[S.SAMPLER] for r in rows} <= {
        "TargettedSampler",
        "DiversitySampler",
        "SpatialSampler",
    }


def test_triple_sampler_exact_hit_draws_no_completion(catalogue, config):
    """A constraint of exactly 100% (the catalogue has 140 C3 patches for
    a target of 50): the targetted leg alone meets the target, the
    diversity budget is 0 and so is the completion, which must draw
    nothing rather than a whole target's worth more."""
    config["TargettedSampler"]["targets"] = {
        "C3": {"target_min_samples_proportion": 1.0},
    }
    rows = TripleSampler(catalogue, config).get_patches().collect()
    assert len(rows) == config["target_total_num_patches"]
    assert len({r[S.PATCH_ID] for r in rows}) == len(rows)
    assert {r[S.SAMPLER] for r in rows} == {"TargettedSampler"}


def test_random_sampler_exact_n_resampling(spark, catalogue, config):
    """reference: test_run_sampling.py:61-73 — re-sampling n=2 from a tiny
    previous sampling gives exactly 2."""
    small = catalogue.limit(4)
    config["target_total_num_patches"] = 2
    out = RandomSampler(small, config).get_patches()
    assert out.count() == 2


def test_copy_sampler_full_copy_null_split(catalogue, config):
    rows = CopySampler(catalogue, config).get_patches().collect()
    assert len(rows) == catalogue.count()
    assert all(r[S.SPLIT] is None for r in rows)
    assert all(r[S.SAMPLER] == "CopySampler" for r in rows)


def test_split_counts_random(catalogue, config):
    rows = RandomSampler(catalogue, config).get_patches().collect()
    n_val = sum(1 for r in rows if r[S.SPLIT] == "val")
    assert n_val == math.floor(config["frac_validation_set"] * len(rows))
    assert all(r[S.SPLIT] in ("train", "val") for r in rows)


def test_determinism_same_seed_same_result(catalogue, config):
    a = sorted(
        (r[S.PATCH_ID], r[S.SPLIT])
        for r in SpatialSampler(catalogue, config, seed=42).get_patches().collect()
    )
    b = sorted(
        (r[S.PATCH_ID], r[S.SPLIT])
        for r in SpatialSampler(catalogue, config, seed=42).get_patches().collect()
    )
    c = sorted(
        (r[S.PATCH_ID], r[S.SPLIT])
        for r in SpatialSampler(catalogue, config, seed=7).get_patches().collect()
    )
    assert a == b
    assert a != c


def test_determinism_partitioning_independent(catalogue, config):
    """The north-rule core: same result regardless of partitioning."""
    base = sorted(
        r[S.PATCH_ID]
        for r in SpatialSampler(catalogue, config).get_patches().collect()
    )
    repart = catalogue.repartition(13)
    other = sorted(
        r[S.PATCH_ID]
        for r in SpatialSampler(repart, config).get_patches().collect()
    )
    assert base == other


def test_triple_sampler_checkpoint_resume(spark, catalogue, tmp_path):
    """North rule: resumable mid-job. A checkpointed run equals the plain
    run; a restart loads finished stages instead of recomputing (gated by
    making the stage-1 sampler raise); a full restart runs no
    normalization-statistics job (gated by making the statistics pass
    raise); lineage rows are appended."""
    import shutil

    from pacasam_spark.operators.normalize import CatalogueProfile
    from pacasam_spark.samplers import TargettedSampler, TripleSampler
    from tests.conftest import SAMPLING_CONFIG

    ckpt = str(tmp_path / "ckpt")
    cfg = dict(SAMPLING_CONFIG)
    plain = sorted(
        (r["patch_id"], r["split"], r["sampler"])
        for r in TripleSampler(catalogue, cfg).get_patches().collect()
    )
    cfg_ck = {**cfg, "checkpoint_dir": ckpt}
    first = sorted(
        (r["patch_id"], r["split"], r["sampler"])
        for r in TripleSampler(catalogue, cfg_ck).get_patches().collect()
    )
    assert first == plain

    # restart: finished stages must LOAD — stage-1 recompute would raise,
    # and so would the catalogue profile pass (the statistics scan)
    def boom(self, *args, **kwargs):
        raise AssertionError("stage recomputed despite checkpoint")

    orig = TargettedSampler.get_selection
    orig_build = CatalogueProfile.build
    TargettedSampler.get_selection = boom
    CatalogueProfile.build = boom
    try:
        resumed = sorted(
            (r["patch_id"], r["split"], r["sampler"])
            for r in TripleSampler(catalogue, cfg_ck).get_patches().collect()
        )
    finally:
        CatalogueProfile.build = orig_build
        TargettedSampler.get_selection = orig
    assert resumed == plain

    # mid-job resume: drop stage 2, keep stage 1 — stage 1 loads (sampler
    # still patched out would raise), stage 2 recomputes deterministically
    shutil.rmtree(f"{ckpt}/targetted_plus_diverse")
    TargettedSampler.get_selection = boom
    try:
        mid = sorted(
            (r["patch_id"], r["split"], r["sampler"])
            for r in TripleSampler(catalogue, cfg_ck).get_patches().collect()
        )
    finally:
        TargettedSampler.get_selection = orig
    assert mid == plain

    lineage = spark.read.parquet(f"{ckpt}/_lineage")
    stages = [r["stage"] for r in lineage.collect()]
    assert "targetted" in stages and stages.count("targetted_plus_diverse") == 2


def test_diversity_sampler_quantilization_config(catalogue):
    """The reference's normalization=quantilization config path
    (configs/Lipac.yml:31-33) through the pure-expr quantile transform."""
    from pacasam_spark.samplers import DiversitySampler
    from tests.conftest import SAMPLING_CONFIG

    cfg = {**SAMPLING_CONFIG,
           "DiversitySampler": {**SAMPLING_CONFIG["DiversitySampler"],
                                "normalization": "quantilization"}}
    sel = DiversitySampler(catalogue, cfg).get_patches()
    rows = sel.collect()
    assert len(rows) == 50
    assert len({r["patch_id"] for r in rows}) == 50


def test_checkpoint_fingerprint_guards_stale_resume(spark, catalogue, tmp_path):
    """A checkpoint_dir written by a DIFFERENT run (other seed or target)
    must NOT be silently loaded: the stage fingerprint forces a recompute
    and the new run's results match its own plain (uncheckpointed) run."""
    from pacasam_spark.samplers import TripleSampler
    from tests.conftest import SAMPLING_CONFIG

    ckpt = str(tmp_path / "ckpt")
    cfg_a = {**SAMPLING_CONFIG, "checkpoint_dir": ckpt}
    run_a = sorted(
        r["patch_id"]
        for r in TripleSampler(catalogue, cfg_a, seed=42).get_patches().collect()
    )

    # same dir, different seed: fingerprint mismatch -> recompute
    run_b = sorted(
        r["patch_id"]
        for r in TripleSampler(catalogue, cfg_a, seed=43).get_patches().collect()
    )
    plain_b = sorted(
        r["patch_id"]
        for r in TripleSampler(
            catalogue, dict(SAMPLING_CONFIG), seed=43
        ).get_patches().collect()
    )
    assert run_b == plain_b
    assert run_a != run_b  # different seed really changes the selection

    # and the dir now holds seed-43 stages: a seed-43 rerun resumes them
    rerun_b = sorted(
        r["patch_id"]
        for r in TripleSampler(catalogue, cfg_a, seed=43).get_patches().collect()
    )
    assert rerun_b == run_b


def test_checkpoint_single_writer_lock(spark, catalogue, tmp_path):
    """Concurrent checkpoint writers raise instead of interleaving stage
    commits (round-6 verdict #8): a live foreign pid holds the lease; a
    dead holder's lock is stolen; the same process re-enters freely."""
    import json
    import os
    import subprocess

    from pacasam_spark.samplers import TripleSampler
    from tests.conftest import SAMPLING_CONFIG

    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    cfg = {**SAMPLING_CONFIG, "checkpoint_dir": ckpt}
    lock = os.path.join(ckpt, "_writer.lock")

    # live foreign holder (pid 1 always exists) -> raise, no stage writes
    with open(lock, "w") as f:
        json.dump({"pid": 1, "sampler": "Other"}, f)
    with pytest.raises(RuntimeError, match="live pid 1"):
        TripleSampler(catalogue, cfg).get_patches().collect()
    assert not [p for p in os.listdir(ckpt) if not p.startswith("_")]

    # dead holder -> lease stolen, the run proceeds and holds the lock
    dead = subprocess.Popen(["true"])
    dead.wait()
    with open(lock, "w") as f:
        json.dump({"pid": dead.pid, "sampler": "Crashed"}, f)
    out = TripleSampler(catalogue, cfg).get_patches().collect()
    assert len(out) == SAMPLING_CONFIG["target_total_num_patches"]
    with open(lock) as f:
        assert json.load(f)["pid"] == os.getpid()


def test_checkpoint_lineage_matches_committed_stages(spark, catalogue, tmp_path):
    """Each commit appends one ``_lineage`` row whose n_rows is the row
    count of the stage's committed data.parquet; the lineage keeps its
    Spark-readable schema, and no per-partition lineage is written."""
    import pyarrow.parquet as pq

    from pacasam_spark.samplers import TripleSampler
    from tests.conftest import SAMPLING_CONFIG

    ckpt = str(tmp_path / "ckpt")
    cfg = {**SAMPLING_CONFIG, "checkpoint_dir": ckpt}
    TripleSampler(catalogue, cfg, seed=42).get_patches().collect()

    lineage = spark.read.parquet(f"{ckpt}/_lineage")
    assert lineage.schema.simpleString() == (
        "struct<stage:string,n_rows:bigint,wall_sec:double,seed:bigint>"
    )
    rows = lineage.collect()
    assert sorted(r["stage"] for r in rows) == ["targetted", "targetted_plus_diverse"]
    for r in rows:
        data = os.path.join(ckpt, r["stage"], "data.parquet")
        assert pq.read_metadata(data).num_rows == r["n_rows"]
    assert not os.path.exists(os.path.join(ckpt, "_lineage_partitions"))


# --- _stage without Spark: the checkpoint is plain driver files ----------


def _stage_sampler(ckpt, seed=42):
    from pacasam_spark.samplers.base import Sampler

    return Sampler(None, {"checkpoint_dir": str(ckpt)}, seed=seed)


def _counting_build(table):
    calls = []

    def build():
        calls.append(1)
        return table

    return build, calls


def _stage_table():
    import pyarrow as pa

    # unsorted ids and a null split: resume must keep both as built
    return pa.table(
        {
            S.PATCH_ID: pa.array([7, 3, 11, 5], pa.int64()),
            S.SPLIT: pa.array(["train", None, "val", "train"], pa.string()),
            S.SAMPLER: pa.array(["A", "A", "B", "B"], pa.string()),
        }
    )


def test_stage_resume_returns_the_built_table(tmp_path):
    table = _stage_table()
    build, calls = _counting_build(table)
    assert _stage_sampler(tmp_path)._stage("s", build).equals(table)
    resumed = _stage_sampler(tmp_path)._stage("s", build)
    assert len(calls) == 1
    assert resumed.schema == table.schema
    assert resumed.equals(table)
    assert sorted(os.listdir(tmp_path / "s")) == ["_meta.json", "data.parquet"]


def test_stage_without_marker_rebuilds(tmp_path):
    """A run killed between the data write and the marker write left
    data.parquet alone: the next run rebuilds and commits the marker."""
    table = _stage_table()
    build, calls = _counting_build(table)
    _stage_sampler(tmp_path)._stage("s", build)
    os.remove(tmp_path / "s" / "_meta.json")
    assert not _stage_sampler(tmp_path)._will_resume("s")
    assert _stage_sampler(tmp_path)._stage("s", build).equals(table)
    assert len(calls) == 2
    assert (tmp_path / "s" / "_meta.json").exists()


def test_stage_fingerprint_mismatch_rebuilds(tmp_path, caplog):
    table = _stage_table()
    build, calls = _counting_build(table)
    _stage_sampler(tmp_path, seed=1)._stage("s", build)
    with caplog.at_level("WARNING"):
        _stage_sampler(tmp_path, seed=2)._stage("s", build)
    assert len(calls) == 2
    assert "different run" in caplog.text
    _stage_sampler(tmp_path, seed=2)._stage("s", build)
    assert len(calls) == 2  # the seed-2 commit resumes


def test_stage_old_spark_layout_is_rebuilt_and_replaced(tmp_path):
    """A stage directory in the former Spark layout (part files and a
    ``_meta/`` directory, no ``_meta.json``) is not resumed: it is
    removed and replaced by the new layout."""
    import pyarrow.parquet as pq

    table = _stage_table()
    old = tmp_path / "s"
    (old / "_meta").mkdir(parents=True)
    pq.write_table(table, old / "part-00000.snappy.parquet")
    (old / "_SUCCESS").touch()
    (old / "_meta" / "part-00000.snappy.parquet").touch()
    build, calls = _counting_build(table)
    assert not _stage_sampler(tmp_path)._will_resume("s")
    _stage_sampler(tmp_path)._stage("s", build)
    assert len(calls) == 1
    assert sorted(os.listdir(old)) == ["_meta.json", "data.parquet"]
    assert _stage_sampler(tmp_path)._stage("s", build).equals(table)
    assert len(calls) == 1


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_samplers_leave_no_cached_dataset(spark, config):
    """Every persist a sampler makes is released by the time
    get_patches() returns: nothing accumulates across calls, standalone
    Diversity and Outliers legs included, also when an over-constrained
    TripleSampler skips its diversity leg or the diversity leg uses
    quantilization. The test owns its catalogue: a persist whose plan
    another test already left cached would reuse that entry and hide
    the leak."""
    from pacasam_spark.sources.synthetic import synthetic_catalogue

    db = synthetic_catalogue(spark, db_size=300, seed=17).cache()
    db.count()  # the catalogue's own cache is not the sampler's
    before = _persisted(spark)
    try:
        TripleSampler(db, config).get_patches().collect()
        assert _persisted(spark) == before
        rows = TargettedSampler(db, config).get_patches().collect()
        assert {r[S.SAMPLER] for r in rows} == {"TargettedSampler", "SpatialSampler"}
        assert _persisted(spark) == before
        for leg in (DiversitySampler, OutliersSampler):
            rows = leg(db, config).get_patches().collect()
            assert len(rows) == config["target_total_num_patches"]
            assert _persisted(spark) == before
        quantile = copy.deepcopy(config)
        quantile["DiversitySampler"]["normalization"] = "quantilization"
        rows = TripleSampler(db, quantile).get_patches().collect()
        assert len(rows) == config["target_total_num_patches"]
        assert _persisted(spark) == before
        config["TargettedSampler"]["targets"] = {
            "C3": {"target_min_samples_proportion": 3.0},
        }
        with pytest.warns(UserWarning):
            rows = TripleSampler(db, config).get_patches().collect()
        assert {r[S.SAMPLER] for r in rows} == {"TargettedSampler"}
        assert _persisted(spark) == before
    finally:
        db.unpersist()


def test_triple_sampler_job_budget(spark, job_ids):
    """TripleSampler.get_patches() + collect() on the benchmark's 10k-row
    catalogue and config submits at most 21 Spark jobs (it was 52 while
    split assignment, merges and quota counts ran as Spark jobs, and 24
    with a targetted probe besides the statistics pass).
    Counted in the app status store, so jobs from the sampler's worker
    threads count too."""
    from perfbench.workloads import SIZES, sampling_config
    from pacasam_spark.sources.synthetic import synthetic_catalogue

    db = synthetic_catalogue(spark, db_size=10_000, seed=5, exact_counts=False).cache()
    db.count()
    try:
        last = max(job_ids(), default=-1)
        rows = TripleSampler(db, sampling_config(SIZES["full"])).get_patches().collect()
        jobs = len({j for j in job_ids() if j > last})
    finally:
        db.unpersist()
    assert len(rows) == SIZES["full"].target
    assert jobs <= 21, f"{jobs} Spark jobs"


def test_outliers_selection_chunks_from_its_profile(spark, catalogue, config, job_ids):
    """OutliersSampler.get_selection() hands the scorer the catalogue
    profile its standardization built, so chunk assignment aggregates no
    per-file maximum of its own: on the 200-row test catalogue the call
    submits at most 9 Spark jobs (11 while the scorer took a bare counts
    table). Counted in the app status store."""
    last = max(job_ids(), default=-1)
    sel = OutliersSampler(catalogue, config).get_selection()
    jobs = len({j for j in job_ids() if j > last})
    assert sel.num_rows == config["target_total_num_patches"]
    assert jobs <= 9, f"{jobs} Spark jobs"


def test_triple_sampler_checkpoint_job_budget(spark, tmp_path, job_ids):
    """A checkpoint costs no Spark job: on the benchmark's 10k-row
    catalogue and config, a checkpointed TripleSampler call on a fresh
    dir submits no more jobs than the same call without one (at most
    21; the Spark-written checkpoints took 42), and a full resume runs
    only the completion leg (at most 8; it was 17). All three
    selections are identical."""
    from perfbench.workloads import SIZES, sampling_config
    from pacasam_spark.sources.synthetic import synthetic_catalogue

    db = synthetic_catalogue(spark, db_size=10_000, seed=5, exact_counts=False).cache()
    db.count()
    cfg = sampling_config(SIZES["full"])

    def run(cfg):
        last = max(job_ids(), default=-1)
        rows = sorted(tuple(r) for r in TripleSampler(db, cfg).get_patches().collect())
        return rows, len({j for j in job_ids() if j > last})

    try:
        plain, plain_jobs = run(cfg)
        ck_cfg = {**cfg, "checkpoint_dir": str(tmp_path / "ckpt")}
        fresh, fresh_jobs = run(ck_cfg)
        resumed, resume_jobs = run(ck_cfg)
    finally:
        db.unpersist()
    assert fresh == plain and resumed == plain
    assert fresh_jobs <= min(plain_jobs, 21), (fresh_jobs, plain_jobs)
    assert resume_jobs <= 8, f"{resume_jobs} Spark jobs"


def test_diversity_zero_budget_submits_no_job(spark, config, job_ids):
    """A diversity budget of 0 (Triple's when the targetted leg fills the
    target) is an empty draw: no profile pass and no FPS carve, so no
    Spark job (it took 10) and nothing persisted; the empty table has
    the sampling schema."""
    from pacasam_spark.sources.synthetic import synthetic_catalogue

    db = synthetic_catalogue(spark, db_size=300, seed=23).cache()
    db.count()
    before = _persisted(spark)
    try:
        last = max(job_ids(), default=-1)
        empty = DiversitySampler(db, config).get_selection(num_to_sample=0)
        assert not {j for j in job_ids() if j > last}
        assert _persisted(spark) == before

        drawn = DiversitySampler(db, config).get_selection(num_to_sample=5)
    finally:
        db.unpersist()
    assert empty.num_rows == 0
    assert empty.schema == drawn.schema
    assert drawn.num_rows == 5
