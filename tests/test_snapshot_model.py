"""Model-based property test of the snapshot table format: a random
sequence of overwrite commits, plain or bucketed, must behave exactly
like a trivial in-memory model — for the LATEST read, for TIME TRAVEL
to every intermediate version, for total_row_count accounting, for
bounds-pruned reads, and after expiry. This is the test that catches
interaction bugs between the bucketed-scan registration, time travel
and stats pruning that single-scenario tests miss."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pacasam_spark.sources.snapshots import (
    expire_snapshots,
    read_snapshot,
    snapshots,
    write_snapshot,
)

KEYS = st.integers(min_value=0, max_value=29)


def rows_strategy():
    return st.dictionaries(KEYS, st.sampled_from("abcd"), min_size=1, max_size=8)


# "bucketed" is an OVERWRITE committed in the bucketed layout (round 7):
# reads of that version go through the catalog-table branch of
# read_snapshot and must stay row-identical to the model, including
# time travel after later plain commits.
ops_strategy = st.lists(
    st.tuples(st.sampled_from(["overwrite", "bucketed"]), rows_strategy()),
    min_size=2,
    max_size=6,
)


def _table(spark, d, version=None):
    df = read_snapshot(spark, d, version=version)
    return sorted((r["patch_id"], r["v"]) for r in df.collect())


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=ops_strategy)
def test_commit_sequence_matches_model(spark, tmp_path_factory, ops):
    d = str(tmp_path_factory.mktemp("model") / "tbl")
    states: dict[int, list] = {}

    for op, rows in ops:
        model = sorted(rows.items())
        df = spark.createDataFrame(model, "patch_id long, v string").repartition(2)
        bucket_by = ("patch_id", 2) if op == "bucketed" else None
        v = write_snapshot(df, d, stats_columns=["patch_id"], bucket_by=bucket_by)
        states[v] = model
        assert snapshots(d)[-1]["total_row_count"] == len(model)

    # latest read == model
    assert _table(spark, d) == model
    # time travel: every version reads its recorded state
    for v, state in states.items():
        assert _table(spark, d, version=v) == state, f"v{v}"
    # bounds-pruned read == model filter (pruning must stay exact)
    bounds = {"patch_id": (5, 14)}
    pruned = read_snapshot(spark, d, bounds=bounds).filter(
        F.col("patch_id").between(5, 14)
    )
    got = sorted((r["patch_id"], r["v"]) for r in pruned.collect())
    assert got == [r for r in model if 5 <= r[0] <= 14]
    # expiry drops every older version's data, never the latest's
    assert expire_snapshots(d, keep_last=1) == sorted(states)[:-1]
    assert _table(spark, d) == model
