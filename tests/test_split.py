"""Driver-side split assignment against its Spark formulation.

``assign_split`` works on a collected Arrow selection. Its oracle here is
the Spark pipeline it replaced: count the selection, draw the val ids
with ``sample_with_stratification`` and left-join them back. Both must
pick the same val rows, and the numpy hash must equal Spark's
``det_hash`` bit for bit.
"""

import math

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pacasam_spark import schemas as S
from pacasam_spark.operators.hashing import det_hash, det_hash_np
from pacasam_spark.operators.sampling import sample_with_stratification
from pacasam_spark.operators.split import assign_split

# 3_474_701_543 is the largest key whose intermediates fit in int64
EDGE_KEYS = [0, 1, 7, 8191, 8192, 2**31 - 2, 2**31 - 1, 2**31, 3_400_000_000, 3_474_701_543]
SEEDS = [0, 1, 43, 2**31 - 1, 2**31, 10**12 + 7, 2**62 + 3]


def test_det_hash_np_matches_spark_bit_for_bit(spark):
    df = spark.createDataFrame([(k,) for k in EDGE_KEYS], "k long")
    for seed in SEEDS:
        rows = df.select("k", det_hash("k", seed).alias("h")).collect()
        spark_h = {r["k"]: r["h"] for r in rows}
        np_h = dict(zip(EDGE_KEYS, det_hash_np(EDGE_KEYS, seed).tolist()))
        assert np_h == spark_h, seed


def test_det_hash_np_raises_where_spark_overflows():
    with pytest.raises(OverflowError):
        det_hash_np([2**62])


def spark_assign_split(selection, frac, keys, seed):
    """The Spark formulation the driver-side split replaced."""
    if not frac:
        return selection.withColumn(S.SPLIT, F.lit("test"))
    n_val = math.floor(frac * selection.count() + 1e-9)
    val_ids = (
        sample_with_stratification(selection, n_val, keys=keys, seed=seed, salt=0)
        .select(S.PATCH_ID)
        .withColumn("__is_val", F.lit(True))
    )
    return (
        selection.join(F.broadcast(val_ids), on=S.PATCH_ID, how="left")
        .withColumn(
            S.SPLIT, F.when(F.col("__is_val"), F.lit("val")).otherwise(F.lit("train"))
        )
        .drop("__is_val")
    )


SCHEMA = T.StructType(
    [
        T.StructField(S.PATCH_ID, T.LongType(), False),
        T.StructField(S.FILE_ID, T.StringType(), True),
        T.StructField("cluster_id", T.IntegerType(), True),
    ]
)


def _selection(n, null_every=0):
    """n rows over a few unevenly sized files and clusters; every
    ``null_every``-th row has null file and cluster keys."""
    rows = []
    for i in range(n):
        pid = 3 * i * i + 11 * i + 5  # sparse, unordered-looking ids
        null = null_every and i % null_every == 0
        rows.append(
            (
                pid,
                None if null else f"file_{(i * 7) % 13 % (1 + i % 5)}",
                None if null else (i * 5) % 3,
            )
        )
    return rows


CASES = {
    "single_key": (_selection(240), 0.1, [S.FILE_ID]),
    "outliers_keys": (_selection(240), 0.1, ["cluster_id", S.FILE_ID]),
    "null_keys": (_selection(240, null_every=4), 0.25, ["cluster_id", S.FILE_ID]),
    "n_val_zero": (_selection(9), 0.1, [S.FILE_ID]),
    # (15/22) * 22 == 14.999999999999998: must still floor to 15
    "just_below_integer": (_selection(22), 15 / 22, [S.FILE_ID]),
    "no_fraction": (_selection(30), None, [S.FILE_ID]),
    "empty": ([], 0.1, [S.FILE_ID]),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_assign_split_matches_spark_formulation(spark, case):
    rows, frac, keys = CASES[case]
    df = spark.createDataFrame(rows, SCHEMA)
    table = pa.Table.from_pylist(
        [dict(zip(SCHEMA.names, r)) for r in rows],
        schema=pa.schema([(S.PATCH_ID, pa.int64()), (S.FILE_ID, pa.string()),
                          ("cluster_id", pa.int32())]),
    )
    for seed in (0, 44, 10**12 + 7):
        want = sorted(
            (r[S.PATCH_ID], r[S.SPLIT])
            for r in spark_assign_split(df, frac, keys, seed).collect()
        )
        got = assign_split(table, frac, keys=keys, seed=seed)
        assert sorted(zip(got[S.PATCH_ID].to_pylist(), got[S.SPLIT].to_pylist())) == want
        n_val = sum(s == "val" for _, s in want)
        assert n_val == (math.floor(frac * len(rows) + 1e-9) if frac else 0)
    if case == "n_val_zero":
        assert n_val == 0
    if case == "just_below_integer":
        assert n_val == 15
