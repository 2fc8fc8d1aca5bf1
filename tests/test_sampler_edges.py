"""Edge-config sweep for the quota samplers: the invariants perfbench
checks on every benchmark operation (exact target or the documented
shortfall/overshoot, distinct catalogue ids, quotas met where the data
allows, validation share), over configs the benchmark never runs."""

import copy
import math
import warnings

import pytest
from pyspark.sql import functions as F

from pacasam_spark import schemas as S
from pacasam_spark.samplers import TargettedSampler, TripleSampler
from pacasam_spark.sources.synthetic import synthetic_catalogue

DB_SIZE = 200
ABSENT = object()  # a config change that deletes the key

# name -> (config changes, targets); None keeps the conftest targets.
# With the conftest targets (about 15 targetted rows for a target of 50)
# TargettedSampler runs its completion, so the frac_val_none/absent rows
# cover the completion path without a validation fraction.
EDGE_CONFIGS = {
    "exact_targetted_hit": ({}, {"C3": 1.0}),
    "constraints_above_100pct": ({}, {"C3": 0.9, "C1": 0.5}),
    "target_above_catalogue": ({"target_total_num_patches": 300}, None),
    "frac_val_zero": ({"frac_validation_set": 0}, None),
    "frac_val_none": ({"frac_validation_set": None}, None),
    "frac_val_absent": ({"frac_validation_set": ABSENT}, None),
    "empty_target_leg": ({}, {"C_none": 0.2, "C3": 0.2, "C1": 0.1}),
    "no_targets": ({}, {}),
}


@pytest.fixture(scope="module")
def edge_catalogue(spark):
    """The conftest catalogue plus a target column that is all False."""
    db = (
        synthetic_catalogue(spark, db_size=DB_SIZE)
        .withColumn("C_none", F.lit(False))
        .cache()
    )
    row = db.agg(
        *[F.sum(F.col(c).cast("int")).alias(c) for c in ("C0", "C1", "C2", "C3", "C_none")]
    ).first()
    yield db, {c: int(row[c] or 0) for c in row.asDict()}
    db.unpersist()


def _edge_config(base: dict, name: str) -> dict:
    changes, targets = EDGE_CONFIGS[name]
    cf = copy.deepcopy(base)
    for k, v in changes.items():
        if v is ABSENT:
            del cf[k]
        else:
            cf[k] = v
    if targets is not None:
        cf["TargettedSampler"]["targets"] = {
            c: {"target_min_samples_proportion": p} for c, p in targets.items()
        }
    return cf


@pytest.mark.parametrize("sampler_cls", [TargettedSampler, TripleSampler])
@pytest.mark.parametrize("name", list(EDGE_CONFIGS))
def test_sampler_edge_configs(sampler_cls, name, edge_catalogue, config):
    db, available = edge_catalogue
    cf = _edge_config(config, name)
    target = cf["target_total_num_patches"]
    proportions = {
        c: o["target_min_samples_proportion"]
        for c, o in cf["TargettedSampler"]["targets"].items()
    }
    quotas = {c: min(int(p * target), available[c]) for c, p in proportions.items()}

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        table = sampler_cls(db, cf).get_selection()
    rows = table.to_pylist()
    ids = [r[S.PATCH_ID] for r in rows]
    n = len(ids)
    overshoot = [w for w in caught if issubclass(w.category, UserWarning)]

    if sum(proportions.values()) > 1.0:
        # documented overshoot: the targetted leg alone is returned, with
        # a warning whenever it is larger than the target
        assert {r[S.SAMPLER] for r in rows} == {"TargettedSampler"}
        assert n >= target
        assert bool(overshoot) == (n > target)
    elif target > DB_SIZE:
        # documented shortfall: cannot take more than there is
        assert n == DB_SIZE
    else:
        assert n == target
        assert not overshoot

    id_set = set(ids)
    assert len(id_set) == n
    flags = {
        r[S.PATCH_ID]: r
        for r in db.select(S.PATCH_ID, *proportions).collect()
        if r[S.PATCH_ID] in id_set
    }
    assert len(flags) == n  # every id comes from the catalogue
    for c, want in quotas.items():
        got = sum(bool(flags[i][c]) for i in ids)
        assert got >= want, f"quota {c}: {got} < {want}"

    frac = cf.get("frac_validation_set")
    splits = [r[S.SPLIT] for r in rows]
    if not frac:
        assert set(splits) == {"test"}
        return
    assert set(splits) <= {"train", "val"}
    n_val = splits.count("val")
    if sampler_cls is TargettedSampler and not overshoot:
        # the completion rebalances its fraction to the exact total
        assert n_val == math.floor(frac * n)
    else:
        # one floor per leg, as in the reference (perfbench's bound)
        assert abs(n_val - frac * n) <= 0.01 * n + 3
