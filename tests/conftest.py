import pytest

from pacasam_spark.session import get_spark
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
def catalogue(spark):
    return synthetic_catalogue(spark, db_size=200).cache()


@pytest.fixture()
def config():
    import copy

    return copy.deepcopy(SAMPLING_CONFIG)
