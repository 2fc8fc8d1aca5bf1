import pytest

from pacasam_spark.session import get_spark
from pacasam_spark.sources.snapshots import read_snapshot, write_snapshot
from pacasam_spark.sources.synthetic import synthetic_catalogue

# Mirror of the reference e2e config (configs/Synthetic.yml:5-63,
# tests use db_size=200, target=50, frac_validation_set=0.1).
SAMPLING_CONFIG = {
    "target_total_num_patches": 50,
    "frac_validation_set": 0.1,
    "TargettedSampler": {
        "targets": {
            "C0": {"target_min_samples_proportion": 0.20},
            "C1": {"target_min_samples_proportion": 0.05},
            "C2": {"target_min_samples_proportion": 0.05},
            "C3": {"target_min_samples_proportion": 0.2},
        }
    },
    "DiversitySampler": {
        "max_chunk_size_for_fps": 100,
        "normalization": "standardization",
        "n_quantiles": 20,
        "columns": ["nb_sol", "nb_bati", "nb_eau", "nb_vegetation_haute"],
    },
    "OutliersSampler": {
        "columns": ["nb_sol", "nb_bati", "nb_eau", "nb_vegetation_haute"],
    },
}


@pytest.fixture(scope="session")
def spark():
    return get_spark(app_name="pacasam_spark_tests", cores=8, shuffle_partitions=8)


@pytest.fixture(scope="session")
def job_ids(spark):
    """A function returning the ids of every Spark job in the app status
    store, read once the listener bus has delivered all pending events
    (so the jobs of the last action, and of any worker thread, are
    there). Jobs an action submitted: ``{j for j in job_ids() if j > last}``
    with ``last = max(job_ids(), default=-1)`` taken before it."""
    sc = spark.sparkContext._jsc.sc()

    def ids() -> set[int]:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    return ids


@pytest.fixture(scope="session")
def catalogue(spark):
    return synthetic_catalogue(spark, db_size=200).cache()


@pytest.fixture(scope="module")
def bucketed_catalogue(spark, tmp_path_factory):
    """A 2000-row synthetic catalogue committed twice: bucketed by
    file_id into 8 buckets (with normalization partials and per-file
    counts), and plain. Returns (bucketed dir, bucketed read, plain read).
    Module-scoped: a module may drop the bucketed registration."""
    root = tmp_path_factory.mktemp("bucketed_catalogue")
    db = synthetic_catalogue(spark, db_size=2000)
    d = str(root / "bucketed")
    write_snapshot(
        db,
        d,
        bucket_by=("file_id", 8),
        sort_by=("file_id", "patch_id"),
        norm_columns=["nb_sol"],
        count_key="file_id",
    )
    write_snapshot(db, str(root / "plain"))
    return d, read_snapshot(spark, d), read_snapshot(spark, str(root / "plain"))


@pytest.fixture()
def config():
    import copy

    return copy.deepcopy(SAMPLING_CONFIG)
