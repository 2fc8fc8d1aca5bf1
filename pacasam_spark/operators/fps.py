"""Farthest Point Sampling (SURVEY.md §2.11 M3/M4, §4.3-4).

FPS is greedy-sequential, so it cannot be a Catalyst operator. The
reference bounds its O(N*S) cost by running it on consecutive chunks of
the catalogue sorted by (file_id, patch_id), giving each chunk spatial
locality (reference: samplers/diversity.py:59-95, algos.py:94-140,
yield_chunks algos.py:58-62).

Spark design (deterministic at any parallelism):
1. chunk ids are computed from EXPLICIT global ranks — a per-file_id
   window rank plus a cumulative per-file offset computed on the tiny
   distinct-file table and broadcast back. No single-partition global
   window over the data, no sampled range partitioner: chunk membership is
   a pure function of the data, so results are identical on local[8],
   local[32], or 1000 executors.
2. per-chunk quota = ceil(chunk_len * n / N) (reference: diversity.py:81-84).
3. numpy greedy FPS per chunk via the sorted-stream Arrow carver
   (``carve_chunk_runs``: repartition on chunk id, JVM sort, one
   ``mapInArrow`` pass — vectorized distance updates; start index 0 of
   the chunk order like the reference, algos.py:114-115).
4. final trim: order by (chunk_id, fps_rank) and take n — reproducing the
   reference's concat + iloc[:n].
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pacasam_spark import schemas as S
from pacasam_spark.operators.normalize import CatalogueProfile

CHUNK_ID = "__chunk_id"
GLOBAL_RANK = "__global_rank"
FPS_RANK = "__fps_rank"


def fps_numpy(arr: np.ndarray, num_to_sample: int) -> np.ndarray:
    """Greedy max-min FPS over rows of ``arr``; returns selected indices in
    selection order. Vectorized distance updates, O(N * S).

    Same contract as the reference's ``fps`` (samplers/algos.py:94-140):
    seeded at index 0, each step picks the point with the largest minimum
    squared-L2 distance to the selected set.
    """
    arr = np.asarray(arr, dtype=float)
    n = len(arr)
    num_to_sample = min(num_to_sample, n)
    if num_to_sample <= 0:
        return np.empty(0, dtype=int)
    selected = np.empty(num_to_sample, dtype=int)
    selected[0] = 0
    # |x - c|^2 = |x|^2 - 2 x.c + |c|^2 : the naive (arr - c)**2 form
    # materializes two (N, d) temporaries per iteration (~5 MB/iter at
    # chunk 20k) and is memory-bandwidth-bound when many executor workers
    # run concurrently; the matvec form streams only arr once per
    # iteration (~6x less traffic, same O(N*d) flops).
    norms = np.einsum("ij,ij->i", arr, arr)
    d_buf = np.empty(n)
    min_d2 = norms - 2.0 * (arr @ arr[0]) + norms[0]
    min_d2[0] = -1.0  # never re-pick
    for i in range(1, num_to_sample):
        nxt = int(np.argmax(min_d2))
        selected[i] = nxt
        np.matmul(arr, arr[nxt], out=d_buf)
        d_buf *= -2.0
        d_buf += norms
        d_buf += norms[nxt]
        np.minimum(min_d2, d_buf, out=min_d2)
        min_d2[nxt] = -1.0
    return selected


SKEW_THRESHOLD_ROWS = 4_000_000  # per-file rows before the rank is split

_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def add_deterministic_chunk_ids(
    df: DataFrame,
    max_chunk_size: int,
    order_keys: tuple[str, str] = (S.FILE_ID, S.PATCH_ID),
    counts: DataFrame | None = None,
    skew_threshold: int = SKEW_THRESHOLD_ROWS,
    keep_rank: bool = False,
    max_count: int | None = None,
) -> DataFrame:
    """Assign chunk ids = floor(global_rank / max_chunk_size) under the
    (file_id, patch_id) total order, without a global window.
    With ``keep_rank`` the 0-based global rank itself is kept as
    ``GLOBAL_RANK`` — a single long whose order IS the
    (file_id, patch_id) total order, so downstream sorts can use it
    instead of the multi-column (string-comparing) key.

    The per-file offsets come from a window over the DISTINCT-file count
    table (thousands of rows for billions of patches) which is then
    broadcast back — the data itself only shuffles once, on file_id.

    Skew guard (SURVEY §4.3-7): Window.partitionBy(file_id) sorts each
    file in ONE task; a hot file (> skew_threshold rows, detected on the
    tiny counts table) would serialize. For integral ids the rank is then
    split by a MONOTONE value bucket (id >> shift, <= 4096 buckets per
    file): rank(row) = count of rows in lower buckets of the same file
    (tiny offsets table, broadcast) + rank within (file, bucket). Exact
    and order-preserving — identical chunk ids to the unsalted window.
    """
    file_key, id_key = order_keys
    if counts is None:
        counts = df.groupBy(file_key).count()
    w_files = Window.orderBy(file_key).rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = counts.withColumn(
        "__offset", F.coalesce(F.sum("count").over(w_files), F.lit(0))
    ).select(file_key, "__offset")

    id_type = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[
        id_key
    ]
    if max_count is None:
        max_count = counts.agg(F.max("count")).first()[0] or 0
    if max_count > skew_threshold and id_type in _INTEGRAL_TYPES:
        rank_in_file = _bucketed_rank_in_file(df, file_key, id_key)
    else:
        w_in_file = Window.partitionBy(file_key).orderBy(id_key)
        rank_in_file = df.withColumn("__rif", F.row_number().over(w_in_file))
    ranked = (
        rank_in_file.join(F.broadcast(offsets), on=file_key)
        .withColumn(GLOBAL_RANK, F.col("__offset") + F.col("__rif") - 1)
        .withColumn(
            CHUNK_ID, (F.col(GLOBAL_RANK) / max_chunk_size).cast("long")
        )
        .drop("__offset", "__rif")
    )
    return ranked if keep_rank else ranked.drop(GLOBAL_RANK)


def _bucketed_rank_in_file(df: DataFrame, file_key: str, id_key: str) -> DataFrame:
    """Exact rank of id_key within file_key without sorting any file in a
    single task. Bucket = id >> shift is monotone in id, so
    rank = (rows of the file in lower buckets) + rank within the bucket."""
    max_id = df.agg(F.max(F.col(id_key).cast("long"))).first()[0] or 0
    shift = max(0, int(max_id).bit_length() - 12)  # <= 4096 buckets per file
    vb = F.shiftright(F.col(id_key).cast("long"), shift)
    bucketed = df.withColumn("__vb", vb)
    sub_counts = bucketed.groupBy(file_key, "__vb").count()
    w_sub = Window.partitionBy(file_key).orderBy("__vb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    sub_off = sub_counts.withColumn(
        "__suboff", F.coalesce(F.sum("count").over(w_sub), F.lit(0))
    ).select(file_key, "__vb", "__suboff")
    w_in = Window.partitionBy(file_key, "__vb").orderBy(id_key)
    return (
        bucketed.join(F.broadcast(sub_off), on=[file_key, "__vb"])
        .withColumn("__rif", F.col("__suboff") + F.row_number().over(w_in))
        .drop("__vb", "__suboff")
    )


def _make_run_carver(process, chunk_col: str = CHUNK_ID):
    """Build a mapInArrow function that slices a partition's record-batch
    stream (pre-sorted on ``chunk_col``) into contiguous per-chunk runs
    and yields ``process(run_table)`` for each completed run.

    Peak Python memory is one chunk, not one partition: runs flush as
    soon as the next chunk id appears in the stream.
    """
    import pyarrow as pa

    def carve(batches):
        pending: list[pa.Table] = []  # slices of the current chunk

        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            chunk_ids = tbl.column(chunk_col).to_numpy(zero_copy_only=False)
            # run boundaries within this (sorted) batch — inequality, not
            # np.diff: chunk ids may be strings (mosaic carves on image_id)
            cuts = np.flatnonzero(chunk_ids[1:] != chunk_ids[:-1]) + 1
            starts = np.concatenate(([0], cuts))
            ends = np.concatenate((cuts, [len(chunk_ids)]))
            for s, e in zip(starts, ends):
                piece = tbl.slice(s, e - s)
                if pending and pending[0].column(chunk_col)[0].as_py() != chunk_ids[s]:
                    out = process(pa.concat_tables(pending))
                    pending.clear()
                    for ob in out.to_batches():
                        yield ob
                pending.append(piece)
        if pending:
            out = process(pa.concat_tables(pending))
            for ob in out.to_batches():
                yield ob

    return carve


def carve_chunk_runs(
    df: DataFrame,
    process,
    out_schema: str,
    sort_keys: tuple[str, ...],
    chunk_col: str = CHUNK_ID,
) -> DataFrame:
    """Apply ``process(pa.Table) -> pa.Table`` to every chunk of ``df``.

    Execution shape: hash-repartition on the chunk id (each chunk lands
    whole in one partition), JVM-sort the partition by
    (chunk, *sort_keys), then carve chunk runs out of the sorted Arrow
    stream in Python. This replaces groupBy(chunk).applyInPandas:
    Spark's grouped-map runner frames one group per Arrow batch and,
    measured on an 80M-row catalogue at local[16], spends 17x the wall
    time of a plain mapInArrow pass over the same bytes (122 s vs 7 s)
    before the UDF does any work. mapInArrow over sorted-within-
    partition runs moves the identical rows at streaming cost, numpy
    views the value buffers zero-copy, and per-chunk pandas sorts
    disappear (the JVM sort already ordered every run).
    """
    return (
        df.repartition(F.col(chunk_col))
        .sortWithinPartitions(chunk_col, *sort_keys)
        .mapInArrow(_make_run_carver(process, chunk_col), out_schema)
    )


def _make_fps_process(keep: list[str], feature_cols: list[str], proportion: float):
    """Per-chunk FPS: rows arrive pre-sorted by (file, id); only the
    feature columns are materialized as numpy, and keep-columns are
    gathered with ``take`` for the selected rows only."""
    import pyarrow as pa

    def process(tbl):
        feats = np.column_stack(
            [tbl.column(c).to_numpy(zero_copy_only=False) for c in feature_cols]
        )
        quota = math.ceil(len(tbl) * proportion)
        idx = fps_numpy(feats, quota)
        out = tbl.select(keep + [CHUNK_ID]).take(pa.array(idx, type=pa.int64()))
        return out.append_column(
            FPS_RANK, pa.array(np.arange(len(idx), dtype="int32"))
        )

    return process


def chunk_keep_counts(
    total: int, num_to_sample: int, max_chunk_size: int
) -> list[tuple[int, int, int]]:
    """(chunk_id, quota, keep) per chunk — the reference's trim
    semantics (diversity.py:73-74: concat chunk outputs in chunk order,
    keep the first n) computed arithmetically: chunk lengths are known
    (consecutive slices of the total order), quota_i = min(ceil(len_i *
    n/total), len_i), and keep_i spends the remaining budget in chunk
    order. Pure arithmetic — SQL-expressible, and oracle-verified
    end-to-end by driver query q34 (the greedy within-chunk argmax is
    the ONLY FPS stage without a SQL oracle; it stays golden-pinned)."""
    proportion = num_to_sample / total
    out = []
    remaining = num_to_sample
    for i in range(math.ceil(total / max_chunk_size)):
        clen = min(max_chunk_size, total - i * max_chunk_size)
        quota = min(math.ceil(clen * proportion), clen)
        k = max(0, min(quota, remaining))
        remaining -= k
        out.append((i, quota, k))
    return out


def fps_sample(
    df: DataFrame,
    num_to_sample: int,
    feature_cols: list[str],
    max_chunk_size: int = 5000,
    order_keys: tuple[str, str] = (S.FILE_ID, S.PATCH_ID),
    keep_cols: list[str] | None = None,
    profile: CatalogueProfile | None = None,
    skew_threshold: int = SKEW_THRESHOLD_ROWS,
) -> DataFrame:
    """M4: chunked FPS selection of ``num_to_sample`` rows.

    Returns keep_cols (default [patch_id, file_id]) + CHUNK_ID + FPS_RANK,
    trimmed to the global quota.

    ``profile``: the catalogue's :class:`CatalogueProfile` by the file
    key. Its total (quota arithmetic), largest file (skew-guard
    decision) and per-file counts (chunk offsets) cost this function NO
    job when the caller's profile is already built; without one, a plain
    per-file count is aggregated here. ``skew_threshold`` is forwarded to
    the hot-file rank guard (parameterized so tests can force the
    bucketed-rank path on small data)."""
    file_key, id_key = order_keys
    keep = keep_cols or [id_key, file_key]
    if profile is None:
        profile = CatalogueProfile.of(df, key=file_key, persist=False)
    profile.build()
    total, max_count = profile.total_rows, profile.max_rows_per_file
    if total == 0:
        return df.select(*keep).withColumn(CHUNK_ID, F.lit(0)).withColumn(
            FPS_RANK, F.lit(0)
        ).limit(0)
    proportion = num_to_sample / total

    chunked = add_deterministic_chunk_ids(
        df,
        max_chunk_size,
        order_keys,
        counts=profile.per_file.select(file_key, "count"),
        skew_threshold=skew_threshold,
        keep_rank=True,
        max_count=max_count,
    )
    # GLOBAL_RANK replaces (file_key, id_key) as the sort key: one long
    # whose order is exactly the (file, id) total order, so the carve
    # stage's sort is pure 8-byte-prefix comparisons — the 3-column key
    # made every within-chunk comparison (all 20k rows of a chunk tie on
    # the chunk prefix) fall through to the slow string comparator.
    cols = list(dict.fromkeys(keep + feature_cols + [CHUNK_ID, GLOBAL_RANK]))
    chunked = chunked.select(*cols)

    out_schema = ", ".join(
        [f"{c} {dict(zip(df.schema.names, df.schema.fields))[c].dataType.simpleString()}" for c in keep]
        + [f"{CHUNK_ID} long", f"{FPS_RANK} int"]
    )

    selected = carve_chunk_runs(
        chunked,
        _make_fps_process(keep, feature_cols, proportion),
        out_schema,
        sort_keys=(GLOBAL_RANK,),
    )

    # Reference trim semantics: concat chunk outputs in chunk order, keep
    # the first n (diversity.py:73-74). A global orderBy+limit would be a
    # driver-side TakeOrdered merge of every chunk's output — serial and
    # O(n * partitions). Instead the per-chunk keep-counts are computed
    # arithmetically (chunk lengths are known: consecutive slices of the
    # total order), so the trim is a broadcast-joined FILTER — fully
    # distributed, identical result.
    # an Arrow table plans a LocalRelation; a list of tuples would plan a
    # scan of a Python RDD, one more Python worker task per execution
    keep_counts = chunk_keep_counts(total, num_to_sample, max_chunk_size)
    limits = df.sparkSession.createDataFrame(
        pa.table({
            CHUNK_ID: [i for i, _q, _k in keep_counts],
            "__keep": [k for _i, _q, k in keep_counts],
        }),
        f"{CHUNK_ID} long, __keep int",
    )
    return (
        selected.join(F.broadcast(limits), on=CHUNK_ID)
        .filter(F.col(FPS_RANK) < F.col("__keep"))
        .drop("__keep")
    )
