"""CLI parity tests (reference: tests_pacasam/test_run_sampling.py:29-41,
test_run_extraction.py:10-79): YAML-config-driven sampling end-to-end and
extraction with {SPLIT}-{id} files + resume."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pacasam_spark.config import load_sampling_config
from pacasam_spark.extract.wms import fetch_with_retry, wms_extract

ROOT = Path(__file__).resolve().parents[1]
CONFIG = str(ROOT / "configs" / "synthetic.yml")


def test_run_sampling_config_driven(spark, tmp_path):
    """The reference Synthetic.yml workflow: config + connector + sampler
    names -> sampling parquet with exactly target patches, stats reports,
    provenance copy of the config."""
    from pacasam_spark.run_sampling import main

    out = str(tmp_path / "out")
    main([
        "--config", CONFIG,
        "--connector_class", "SyntheticConnector",
        "--sampler_class", "TripleSampler",
        "--output", out,
    ])
    cfg = load_sampling_config(CONFIG)
    sampling = spark.read.parquet(
        f"{out}/SyntheticConnector-TripleSampler-train"
    )
    assert sampling.count() == cfg["target_total_num_patches"]
    assert {"patch_id", "split", "sampler"}.issubset(set(sampling.columns))
    # extraction join carried the full catalogue row
    assert "nb_sol" in sampling.columns
    assert os.path.exists(f"{out}/synthetic.yml")  # provenance
    assert os.path.isdir(f"{out}/stats")


def test_run_sampling_each_sampler_class(spark, tmp_path):
    from pacasam_spark.run_sampling import main

    for sampler in ("RandomSampler", "TargettedSampler"):
        out = str(tmp_path / sampler)
        main([
            "--config", CONFIG,
            "--sampler_class", sampler,
            "--output", out,
        ])
        n = spark.read.parquet(f"{out}/SyntheticConnector-{sampler}-train").count()
        assert n == 50


@pytest.fixture()
def sampling_and_images(spark, tmp_path):
    from pacasam_spark.sources.images import synthetic_images

    images = synthetic_images(spark, n=40, size=8)
    images_path = str(tmp_path / "images.parquet")
    images.write.parquet(images_path)
    sampling = images.select("image_id").limit(20).withColumn(
        "split", F.when(F.col("image_id").substr(-1, 1) < "5", "train").otherwise("val")
    )
    sampling_path = str(tmp_path / "sampling")
    sampling.write.parquet(sampling_path)
    return sampling_path, images_path


def test_run_sampling_post_sampler_job_budget(spark, tmp_path, job_ids, monkeypatch):
    """After the sampler's count, a run_sampling TripleSampler run (500 of
    10,000) submits at most 4 Spark jobs: the broadcast join and the one
    collect of the selection (save_sampling), and the reports' one
    catalogue aggregation. It was 36 while the reports ran as Spark
    plans on both sides."""
    from pacasam_spark.operators import joins
    from pacasam_spark.run_sampling import build_parser, run

    # the join is the first step after sampling.count(): the jobs from
    # there on are the run's post-sampler work
    marks = []
    real_join = joins.selection_join

    def marked_join(*args, **kwargs):
        marks.append(max(job_ids(), default=-1))
        return real_join(*args, **kwargs)

    monkeypatch.setattr(joins, "selection_join", marked_join)
    summary = run(build_parser().parse_args(["--output", str(tmp_path / "out")]))
    jobs = len({j for j in job_ids() if j > marks[0]})
    assert summary["n_sampled"] == 500
    assert len(summary["reports"]) == 6
    assert jobs <= 4, f"{jobs} Spark jobs"


def test_run_sampling_releases_what_it_cached(spark, tmp_path):
    """run unpersists the sampler output and the catalogue it cached, so
    repeated runs in one session hold no more cached data than before
    (two runs with different seeds used to leave one more cached RDD)."""
    from pacasam_spark.run_sampling import build_parser, run

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    for seed in (1, 2):
        run(build_parser().parse_args([
            "--output", str(tmp_path / f"seed{seed}"), "--seed", str(seed),
            "--db-size", "2000", "--target", "100",
        ]))
        assert persistent().size() == before, seed


def test_run_extraction_cli_and_resume(spark, tmp_path, sampling_and_images):
    """{SPLIT}-{id}.{ext} files under split dirs; a second run extracts
    nothing (manifest resume) and overwrites no file (existence skip)."""
    from pacasam_spark.run_extraction import main

    sampling_path, images_path = sampling_and_images
    root = str(tmp_path / "dataset")
    from pacasam_spark.run_extraction import build_parser as bp, run as r

    summary1 = r(bp().parse_args([
        "-s", sampling_path, "--images_path", images_path,
        "-d", root, "--out_fmt", "png",
    ]))
    # the writer pass must run ONCE: a fresh run writes everything and
    # skips nothing (a second execution of the writer stage would report
    # written=0/skipped=20 for the same rows)
    assert summary1["written"] == 20
    assert summary1["skipped_existing_files"] == 0
    assert summary1["unmatched_ids"] == 0
    written = [
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".png")
    ]
    assert len(written) == 20
    assert all(os.path.basename(p).split("-")[0] in ("TRAIN", "VAL") for p in written)
    mtimes = {p: os.path.getmtime(p) for p in written}

    from pacasam_spark.run_extraction import run, build_parser

    summary2 = run(build_parser().parse_args([
        "-s", sampling_path, "--images_path", images_path,
        "-d", root, "--out_fmt", "png",
    ]))
    assert summary2["written"] == 0  # resume: nothing re-extracted
    assert {p: os.path.getmtime(p) for p in written} == mtimes


def test_run_extraction_reports_unmatched_ids(spark, tmp_path, sampling_and_images):
    """Sampling ids with no catalogue match are dropped by the inner
    extraction join; the summary must surface them instead of silently
    re-attempting them on every resume run forever."""
    from pacasam_spark.run_extraction import build_parser, run

    sampling_path, images_path = sampling_and_images
    ghost = spark.createDataFrame(
        [("nonexistent_1", "train"), ("nonexistent_2", "val")],
        "image_id string, split string",
    )
    mixed = spark.read.parquet(sampling_path).unionByName(ghost)
    mixed_path = str(tmp_path / "sampling_mixed")
    mixed.write.parquet(mixed_path)

    summary = run(build_parser().parse_args([
        "-s", mixed_path, "--images_path", images_path,
        "-d", str(tmp_path / "dataset2"), "--out_fmt", "png",
    ]))
    assert summary["written"] == 20
    assert summary["unmatched_ids"] == 2


def _extract(sampling_path, images_path, root, *extra):
    from pacasam_spark.run_extraction import build_parser, run

    return run(build_parser().parse_args([
        "-s", sampling_path, "--images_path", images_path, "-d", root, *extra,
    ]))


def _patch_files(root) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        if "_manifest" not in d
        for f in fs
    )


def test_run_extraction_crop_resume_and_incremental(spark, tmp_path):
    """--crop writes crop-sized files within the lossy tier's 40 dB of
    the source pixels; a resume writes nothing and commits no manifest
    part; new ids extract only themselves; a manifest that Spark wrote
    (older dataset roots) is honoured the same way."""
    from pacasam_spark.imaging import decode, psnr, synth_pixels
    from pacasam_spark.sources.images import synthetic_images

    images_path = str(tmp_path / "images.parquet")
    synthetic_images(spark, n=64, size=32).write.parquet(images_path)
    ids = spark.read.parquet(images_path).select("image_id").orderBy("image_id")
    s20, s30 = str(tmp_path / "s20"), str(tmp_path / "s30")
    ids.limit(20).withColumn("split", F.lit("train")).write.parquet(s20)
    ids.limit(30).withColumn("split", F.lit("val")).write.parquet(s30)
    crop = ["--crop", "4,4,16,16", "--out_fmt", "png"]

    root = str(tmp_path / "dataset")
    r1 = _extract(s20, images_path, root, *crop)
    assert (r1["written"], r1["unmatched_ids"]) == (20, 0)
    files = _patch_files(root)
    assert len(files) == 20
    for path in files:
        image_id = os.path.basename(path)[len("TRAIN-"):-len(".png")]
        arr = decode(open(path, "rb").read(), "png")
        assert arr.shape[:2] == (16, 16)
        assert psnr(synth_pixels(image_id, 32, 32)[4:20, 4:20], arr) >= 40.0

    manifest = sorted(os.listdir(os.path.join(root, "_manifest")))
    r2 = _extract(s20, images_path, root, *crop)
    assert (r2["written"], r2["skipped_existing_files"]) == (0, 0)
    assert _patch_files(root) == files
    assert sorted(os.listdir(os.path.join(root, "_manifest"))) == manifest

    r3 = _extract(s30, images_path, root, *crop)
    assert (r3["written"], r3["skipped_existing_files"]) == (10, 0)
    new = sorted(set(_patch_files(root)) - set(files))
    assert len(new) == 10 and all(os.path.basename(p).startswith("VAL-") for p in new)

    spark_root = str(tmp_path / "spark_written")
    ids.limit(20).write.parquet(os.path.join(spark_root, "_manifest"))
    r4 = _extract(s30, images_path, spark_root, *crop)
    assert (r4["written"], r4["skipped_existing_files"]) == (10, 0)
    assert [os.path.basename(p) for p in _patch_files(spark_root)] == [
        os.path.basename(p) for p in new
    ]


def test_run_extraction_keep_format_names_files_by_codec(spark, tmp_path):
    """Without --out_fmt each patch keeps its source codec, and its file
    is named after it: a mixed png/q6 catalogue extracts to .png and .q6
    files that decode to the source size; a resume writes nothing."""
    from pacasam_spark.imaging import decode
    from pacasam_spark.sources.images import synthetic_images

    images_path = str(tmp_path / "images.parquet")
    synthetic_images(spark, n=24, size=16, lossy_every=3).write.parquet(images_path)
    sampling_path = str(tmp_path / "sampling")
    catalogue = spark.read.parquet(images_path)
    catalogue.select("image_id").withColumn("split", F.lit("train")).write.parquet(
        sampling_path
    )
    fmts = {r["image_id"]: r["fmt"] for r in catalogue.select("image_id", "fmt").collect()}
    assert set(fmts.values()) == {"png", "q6"}

    root = str(tmp_path / "dataset")
    r1 = _extract(sampling_path, images_path, root)
    assert r1["written"] == 24
    files = _patch_files(root)
    assert sorted(os.path.basename(p) for p in files) == sorted(
        f"TRAIN-{i}.{f}" for i, f in fmts.items()
    )
    for path in files:
        ext = path.rsplit(".", 1)[1]
        assert decode(open(path, "rb").read(), ext).shape[:2] == (16, 16)

    r2 = _extract(sampling_path, images_path, root)
    assert r2["written"] == 0 and _patch_files(root) == files


def test_run_extraction_job_budget(spark, tmp_path, job_ids):
    """On the extract benchmark's shape (250 of 500 64-px images), a
    fresh extraction submits at most 4 Spark jobs (it was 9 while the
    resume check and the manifest ran through Spark) and a resume with
    nothing left submits none. Counted in the app status store. The
    extraction's executed plan holds exactly one Python node: the kernel
    and the file writes share one worker per task."""
    import re

    from perfbench.workloads import CROP, RESIZE
    from pacasam_spark.sources.images import synthetic_images

    sc = spark.sparkContext._jsc.sc()

    def executions() -> dict[int, str]:
        sc.listenerBus().waitUntilEmpty()
        xs = spark._jsparkSession.sharedState().statusStore().executionsList()
        return {
            xs.apply(i).executionId(): xs.apply(i).physicalPlanDescription()
            for i in range(xs.size())
        }

    images_path = str(tmp_path / "images.parquet")
    synthetic_images(spark, n=500, size=64).write.parquet(images_path)
    sampling_path = str(tmp_path / "sampling")
    spark.read.parquet(images_path).select("image_id").orderBy("image_id").limit(
        250
    ).withColumn("split", F.lit("train")).write.parquet(sampling_path)
    argv = [
        "--crop", ",".join(map(str, CROP)), "--resize", ",".join(map(str, RESIZE)),
        "--out_fmt", "png",
    ]
    root = str(tmp_path / "dataset")
    jobs = []
    before = set(executions())
    for _ in range(2):
        last = max(job_ids(), default=-1)
        summary = _extract(sampling_path, images_path, root, *argv)
        jobs.append(len({j for j in job_ids() if j > last}))
    assert summary["written"] == 0 and len(_patch_files(root)) == 250
    assert jobs[0] <= 4, f"fresh run: {jobs[0]} Spark jobs"
    assert jobs[1] == 0, f"resume run: {jobs[1]} Spark jobs"
    # the tree of the plan that ran: an adaptive plan's final plan
    ran = [
        plan.split("== Initial Plan ==")[0].split("\n\n")[0]
        for eid, plan in executions().items()
        if eid not in before
    ]
    python_nodes = [
        n for tree in ran
        for n in re.findall(r"\b(\w*(?:Python|InPandas|InArrow)\w*)\s+\(\d+\)", tree)
    ]
    assert python_nodes == ["MapInPandas"], python_nodes


def test_wms_fetch_bounded_retry(spark):
    """reference bd_ortho_today.py:67-77: flaky service succeeds within
    the retry budget; permanent failure is a per-row error, not a task
    abort."""
    calls = {}

    def flaky(image_id, bbox):
        calls[image_id] = calls.get(image_id, 0) + 1
        if image_id == "dead":
            raise IOError("always down")
        if calls[image_id] < 3:
            raise IOError("transient")
        return f"{image_id}:{bbox[0]}".encode()

    payload, attempts, err = fetch_with_retry(flaky, "ok", (0, 0, 1, 1), max_retries=3)
    assert payload == b"ok:0" and attempts == 3 and err is None

    sampling = spark.createDataFrame(
        [("a", "train", 0.0, 0.0, 1.0, 1.0), ("dead", "train", 1.0, 0.0, 2.0, 1.0)],
        "image_id string, split string, geom_xmin double, geom_ymin double,"
        " geom_xmax double, geom_ymax double",
    )
    rows = {r["image_id"]: r for r in wms_extract(sampling, flaky, max_retries=2).collect()}
    assert rows["a"]["bytes"] is not None and rows["a"]["error"] is None
    assert rows["dead"]["bytes"] is None and "always down" in rows["dead"]["error"]
    assert rows["dead"]["n_attempts"] == 3  # 1 + max_retries


def test_run_sampling_catalogue_table_bucketed(spark, tmp_path):
    """The scale layout through the config workflow: run_sampling
    --catalogue-table over a snapshot bucketed by file_id selects exactly
    the rows the plain GeopandasConnector run selects from the same data
    (same seed, same config, different physical layout)."""
    from pacasam_spark.run_sampling import build_parser, run
    from pacasam_spark.sources.snapshots import write_snapshot
    from pacasam_spark.sources.synthetic import synthetic_catalogue

    table = str(tmp_path / "bucketed_cat")
    plain_dir = str(tmp_path / "plain_cat")
    db = synthetic_catalogue(spark, db_size=200)
    db.write.mode("overwrite").parquet(plain_dir)
    write_snapshot(db, table, bucket_by=("file_id", 4))

    cfg_path = str(tmp_path / "cfg.yml")
    with open(cfg_path, "w") as fh:
        fh.write(f"""
target_total_num_patches: 50
frac_validation_set: 0.1
connector_kwargs:
  path: {plain_dir}
DiversitySampler:
  max_chunk_size_for_fps: 100
  normalization: standardization
  columns: [nb_sol, nb_bati, nb_eau]
""")
    s_b = run(build_parser().parse_args([
        "--config", cfg_path, "--catalogue-table", table,
        "--sampler_class", "DiversitySampler",
        "--output", str(tmp_path / "out_bucketed"),
    ]))
    s_p = run(build_parser().parse_args([
        "--config", cfg_path, "--connector_class", "GeopandasConnector",
        "--sampler_class", "DiversitySampler",
        "--output", str(tmp_path / "out_plain"),
    ]))
    sel_b = spark.read.parquet(s_b["sampling_path"])
    sel_p = spark.read.parquet(s_p["sampling_path"])
    assert s_b["n_sampled"] == 50 and sel_b.count() == 50
    assert sorted(map(tuple, sel_b.collect())) == sorted(map(tuple, sel_p.collect()))


def test_run_sampling_catalogue_table(spark, tmp_path):
    """--catalogue-table reads the catalogue from a snapshot table and,
    when the manifests carry normalization partials + file_id counts,
    auto-wires manifest_stats so Diversity selects IDENTICALLY to the
    in-scan connector path with zero stats scans."""
    from pacasam_spark.run_sampling import DEFAULT_CONFIG, build_parser, run
    from pacasam_spark.sources.snapshots import write_snapshot
    from pacasam_spark.sources.synthetic import synthetic_catalogue

    cols = DEFAULT_CONFIG["DiversitySampler"]["columns"]
    tbl = str(tmp_path / "cat_tbl")
    write_snapshot(
        synthetic_catalogue(spark, db_size=2000, exact_counts=False),
        tbl,
        norm_columns=cols,
        count_key="file_id",
    )
    s = run(build_parser().parse_args([
        "--catalogue-table", tbl, "--sampler", "DiversitySampler",
        "--output", str(tmp_path / "o1"), "--target", "100",
    ]))
    assert s["n_sampled"] == 100
    # the output and the summary are named after the table the run read,
    # not after the default connector, which never ran
    assert s["connector"] == "cat_tbl"
    assert s["sampling_path"] == str(tmp_path / "o1" / "cat_tbl-DiversitySampler-any")

    # same selection as the plain synthetic-connector run (the snapshot
    # round-trip and the manifest-fed stats change nothing)
    s2 = run(build_parser().parse_args([
        "--sampler", "DiversitySampler", "--split", "any",
        "--output", str(tmp_path / "o2"),
        "--db-size", "2000", "--target", "100",
    ]))
    a = spark.read.parquet(s["sampling_path"]).select("patch_id", "split")
    b = spark.read.parquet(s2["sampling_path"]).select("patch_id", "split")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_commit_catalogue_cli(spark, tmp_path, capsys):
    """tools/commit_catalogue.py: one ingest commit producing the
    combined layout — bucketed files + manifest stats + key counts —
    then run_sampling --catalogue-table consumes it with zero stats
    scans and a zero-exchange bucketed scan."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "commit_catalogue", ROOT / "tools" / "commit_catalogue.py"
    )
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)

    from pacasam_spark.sources.synthetic import synthetic_catalogue

    src = str(tmp_path / "src.parquet")
    synthetic_catalogue(spark, db_size=800).write.parquet(src)
    tbl = str(tmp_path / "table")
    cc.main([
        "--input", src, "--table", tbl,
        "--bucket-key", "file_id", "--buckets", "4",
        "--norm-columns", "nb_sol,nb_bati", "--count-key", "file_id",
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 800 and out["version"] == 1
    assert out["layout"]["n_buckets"] == 4
    assert out["manifest_stats"] and out["key_counts"] == "file_id"

    from pacasam_spark.sources.snapshots import read_snapshot

    tdf = read_snapshot(spark, tbl)
    assert tdf.count() == 800
    grouped = tdf.groupBy("file_id").count()
    plan = grouped._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan

    # gpkg input path: round-trip through the GeoPackage writer
    from pacasam_spark.sources.geopkg import write_gpkg

    g = str(tmp_path / "cat.gpkg")
    write_gpkg(
        synthetic_catalogue(spark, db_size=100), g, table="catalogue"
    )
    tbl2 = str(tmp_path / "table2")
    cc.main(["--input", g, "--table", tbl2])
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["rows"] == 100 and out2["layout"] is None


def test_tools_run_their_own_checkout(spark, tmp_path):
    """A tool loads the package from the checkout it sits in, not from
    another one on the path: a copy whose package fails to import makes
    the copy's commit_catalogue.py fail, even with this checkout on
    PYTHONPATH."""
    copy = tmp_path / "checkout"
    for name in ("pacasam_spark", "tools", "configs"):
        shutil.copytree(
            ROOT / name, copy / name, ignore=shutil.ignore_patterns("__pycache__")
        )
    (copy / "pacasam_spark" / "__init__.py").write_text(
        "raise ImportError('package of the copied checkout')\n"
    )
    src = str(tmp_path / "src.parquet")
    spark.range(10).withColumnRenamed("id", "patch_id").write.parquet(src)
    out = subprocess.run(
        [
            sys.executable, str(copy / "tools" / "commit_catalogue.py"),
            "--input", src, "--table", str(tmp_path / "table"),
        ],
        capture_output=True, text=True, cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(ROOT)},
    )
    assert out.returncode != 0
    assert "package of the copied checkout" in out.stderr
