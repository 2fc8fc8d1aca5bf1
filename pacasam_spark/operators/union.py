"""Order-sensitive union + dedup (SURVEY.md §2.8 U1/U2, §4.3-3).

The reference unions sampler outputs with ``pd.concat`` and relies on
``drop_duplicates`` keeping the FIRST occurrence, giving earlier samplers
precedence (reference: samplers/triple.py:16,29-38, sampler.py:46). Spark's
``dropDuplicates`` keeps an arbitrary row, so precedence is made explicit:
a priority column + row_number over (priority, tiebreak hash).
:func:`union_first_wins` is the driver-side twin for collected selections.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pacasam_spark import schemas as S
from pacasam_spark.operators.hashing import det_hash

_PRIO = "__priority"


def union_dedup_priority(
    dfs: list[DataFrame], key: str = S.PATCH_ID
) -> DataFrame:
    """U2: union inputs; on key collision the row from the EARLIEST input
    wins (list order = precedence, mirroring first-wins concat+dedup)."""
    tagged = [df.withColumn(_PRIO, F.lit(i)) for i, df in enumerate(dfs)]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    w = Window.partitionBy(key).orderBy(F.col(_PRIO), det_hash(key))
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", _PRIO)
    )


def union_first_wins(tables: list[pa.Table], key: str = S.PATCH_ID) -> pa.Table:
    """U2 on the driver: concat Arrow tables and keep the FIRST row of
    each ``key``, exactly ``pd.concat(...).drop_duplicates(key)``. For
    sampler selections, which are capped by their target; data-sized
    inputs use :func:`union_dedup_priority`."""
    out = pa.concat_tables(tables, promote_options="default")
    _, first = np.unique(out[key].to_numpy(), return_index=True)
    return out.take(np.sort(first))
