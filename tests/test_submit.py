"""North-rule ship shape: the sampling CLI runs under a REAL
``spark-submit --py-files pacasam_spark.zip`` from a cwd outside the
repo — the exact way a multi-executor cluster receives the package
(reference workflow: run_sampling.py as the submitted application).

In-process tests exercise `main()` with the package importable from
source; this one proves the zip alone is enough for BOTH the driver
script's imports and the Python UDF workers.
"""

import json
import os
import pathlib
import subprocess
import sys
import zipfile

import duckdb
import pyspark

from pacasam_spark import session


def _build_pyfiles_zip(dest: pathlib.Path) -> str:
    pkg_dir = pathlib.Path(__file__).resolve().parents[1] / "pacasam_spark"
    zip_path = dest / "pacasam_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
    return str(zip_path)


def test_pyfiles_zip_is_per_session():
    """Each build of the py-files zip lands at its own path, so two
    sessions started at once never overwrite each other's zip (Spark
    fails tasks whose py-file "exists and does not match contents")."""
    a, b = session._build_pyfiles_zip(), session._build_pyfiles_zip()
    assert a != b
    for path in (a, b):
        with zipfile.ZipFile(path) as zf:
            assert "pacasam_spark/session.py" in zf.namelist()


SUBMITTED_SAMPLING = """
import json, sys
from pyspark.sql import SparkSession
from pacasam_spark import run_sampling
run_sampling.main(sys.argv[1:])
spark = SparkSession.getActiveSession()
print(json.dumps({
    "master": spark.sparkContext.master,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
}))
"""


def test_spark_submit_py_files_sampling(tmp_path):
    """run_sampling under spark-submit keeps the launcher's master (here
    one that differs from SPARK_GRAFT_CPUS) and sizes its shuffles from
    it."""
    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    script = tmp_path / "submitted_sampling.py"
    script.write_text(SUBMITTED_SAMPLING)
    out_dir = str(tmp_path / "out")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    # cwd OUTSIDE the repo: nothing importable except through --py-files
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--py-files", _build_pyfiles_zip(tmp_path),
            str(script),
            "--sampler_class", "TargettedSampler",
            "--db-size", "2000",
            "--target", "100",
            "--split", "train",
            "--output", out_dir,
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summaries = [
        json.loads(line)
        for line in proc.stdout.splitlines()
        if line.startswith("{")
    ]
    assert summaries[-2]["n_sampled"] == 100
    assert summaries[-1] == {"master": "local[2]", "shuffle_partitions": "2"}

    path = f"{out_dir}/SyntheticConnector-TargettedSampler-train/*.parquet"
    n, n_ids = duckdb.sql(
        f"select count(*), count(distinct patch_id) from read_parquet('{path}')"
    ).fetchone()
    assert n == 100 and n_ids == 100


PROBE_JVM_ARGS = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pacasam_spark.session import get_spark
spark = get_spark(
    cores=1, extra_conf={"spark.driver.extraJavaOptions": "-Dpacasam.probe=1"}
)
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
print(json.dumps(list(mx.getRuntimeMXBean().getInputArguments())))
"""


def test_get_spark_keeps_compile_thresholds_with_caller_java_options(tmp_path):
    """The JVM that get_spark launches runs with the raised C2 compile
    thresholds, and a caller's own spark.driver.extraJavaOptions is added
    to them rather than replacing them. A fresh process, because only the
    call that launches the JVM can set its flags."""
    proc = subprocess.run(
        [sys.executable, "-c", PROBE_JVM_ARGS,
         str(pathlib.Path(__file__).resolve().parents[1])],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    args = json.loads(proc.stdout.strip().splitlines()[-1])
    for flag in (
        "-XX:Tier4InvocationThreshold=50000",
        "-XX:Tier4MinInvocationThreshold=6000",
        "-XX:Tier4CompileThreshold=150000",
        "-XX:Tier4BackEdgeThreshold=120000",
        "-Dpacasam.probe=1",
    ):
        assert flag in args, args
