"""Outlier scoring (SURVEY.md §2.11 M5 — documented approximation).

The reference scores outliers with HDBSCAN's GLOSH
(reference: samplers/outliers.py:42-47; config Lipac.yml:55-58). HDBSCAN is
unavailable here and has no distributed builtin, so the engine provides a
pluggable scorer whose default is a chunk-local kNN-density score computed
in vectorized numpy over the shared sorted-stream Arrow carver
(``operators.fps.carve_chunk_runs`` — same fast path as chunked FPS;
grouped-map applyInPandas framing cost ~17x the bytes-moving cost):

    score(x) = rank-normalized mean distance to the k nearest neighbours
               within the chunk; cluster_id = nearest seed under a
               deterministic k-medoid-style assignment.

This satisfies the reference's test contract (schema, non-emptiness, top-k
ordering semantics — tests/tests_pacasam/test_run_sampling.py:37-41) and is
the one knowingly-approximate operator in the engine.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from pacasam_spark import schemas as S
from pacasam_spark.operators.fps import (
    CHUNK_ID,
    GLOBAL_RANK,
    add_deterministic_chunk_ids,
    carve_chunk_runs,
    fps_numpy,
)
from pacasam_spark.operators.normalize import CatalogueProfile

OUTLIER_SCORE = "outlier_score"
CLUSTER_ID = "cluster_id"

KNN_BLOCK_ROWS = 512  # rows-per-block: peak extra memory = block * n doubles


def _gram(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``a @ b.T`` summed feature by feature in a fixed order. Only
    elementwise products and adds, so every entry is the same float
    whichever rows a block holds; a BLAS matmul picks its kernel, and
    with it the summation order, by shape. Features are few (<= 9)."""
    g = np.zeros((len(a), len(b)))
    for f in range(a.shape[1]):
        g += np.multiply.outer(a[:, f], b[:, f])
    return g


def _blockwise_knn_mean(x: np.ndarray, kk: int) -> np.ndarray:
    """Mean squared distance to the kk nearest neighbours of each row,
    computed block-at-a-time (never the full n x n matrix); the result
    does not depend on the block size."""
    n = len(x)
    norms = np.einsum("ij,ij->i", x, x)
    out = np.empty(n)
    for i0 in range(0, n, KNN_BLOCK_ROWS):
        i1 = min(i0 + KNN_BLOCK_ROWS, n)
        d2b = norms[i0:i1, None] - 2.0 * _gram(x[i0:i1], x) + norms[None, :]
        d2b[np.arange(i1 - i0), np.arange(i0, i1)] = np.inf  # exclude self
        part = np.partition(d2b, kk - 1, axis=1)[:, :kk]
        # ascending-order summation: deterministic regardless of the
        # partition pivot path numpy happened to take
        out[i0:i1] = np.sort(part, axis=1).mean(axis=1)
    return out


def _chunked(
    df: DataFrame,
    feature_cols: list[str],
    max_chunk_size: int,
    keep: list[str],
    profile: CatalogueProfile | None,
) -> tuple[DataFrame, str]:
    """The scorers' shared input: ``keep`` + features + chunk id + the
    GLOBAL_RANK order, and the output schema (keep + cluster_id +
    outlier_score). The chunk offsets and the skew-guard decision come
    from ``profile`` (built here when unbuilt; a plain per-file count
    without one), so a built profile costs no job."""
    if profile is None:
        profile = CatalogueProfile.of(df, persist=False)
    profile.build()
    chunked = add_deterministic_chunk_ids(
        df,
        max_chunk_size,
        counts=profile.per_file.select(S.FILE_ID, "count"),
        keep_rank=True,
        max_count=profile.max_rows_per_file,
    )
    cols = list(dict.fromkeys(keep + feature_cols + [CHUNK_ID, GLOBAL_RANK]))
    field_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        [f"{c} {field_types[c]}" for c in keep]
        + [f"{CLUSTER_ID} int", f"{OUTLIER_SCORE} double"]
    )
    return chunked.select(*cols), out_schema


def knn_outlier_scores(
    df: DataFrame,
    feature_cols: list[str],
    k: int = 50,
    n_clusters: int = 8,
    max_chunk_size: int = 5000,
    keep_cols: list[str] | None = None,
    profile: CatalogueProfile | None = None,
) -> DataFrame:
    """Adds (cluster_id, outlier_score in [0,1]) per row, chunk-locally.

    ``profile``: the catalogue's :class:`CatalogueProfile` by file_id,
    as :func:`fps_sample` takes it — a sampler hands in the one its
    ``standardize`` already built, so chunk assignment runs no count or
    maximum job of its own. Within-chunk order is the single-long
    GLOBAL_RANK — the same (file_id, patch_id) total order FPS's carve
    stage uses (one order discipline, 8-byte sort-key comparisons even
    when patch ids are strings)."""
    keep = keep_cols or [S.PATCH_ID, S.FILE_ID]
    chunked, out_schema = _chunked(df, feature_cols, max_chunk_size, keep, profile)

    import pyarrow as pa

    def process(tbl: "pa.Table") -> "pa.Table":
        # rows arrive pre-sorted by GLOBAL_RANK, i.e. the (file_id,
        # patch_id) total order (the JVM partition sort); only the
        # feature columns are materialized as numpy
        x = np.column_stack(
            [
                tbl.column(c).to_numpy(zero_copy_only=False)
                for c in feature_cols
            ]
        ).astype(float, copy=False)
        n = len(x)
        kk = min(k, n - 1) if n > 1 else 1
        # Blockwise kNN: a full n x n distance matrix is 3.2 GB of doubles
        # per task at the reference's production chunk of 20k — guaranteed
        # OOM under concurrent tasks. Each block materializes only
        # (block, n) via the matvec identity |a-b|^2 = |a|^2 - 2ab + |b|^2
        # (O(n * block) memory, d-independent, same O(n^2 d) flops).
        knn_mean = _blockwise_knn_mean(x, kk) if n > 1 else np.zeros(n)
        order = knn_mean.argsort().argsort()  # rank-normalize
        score = order / max(n - 1, 1)
        # deterministic seeds via FPS (well-spread medoids), assign nearest;
        # distances to the <= n_clusters seeds only — (n, seeds), tiny
        seeds = fps_numpy(x, min(n_clusters, n))
        if len(seeds):
            ds = ((x[:, None, :] - x[seeds][None, :, :]) ** 2).sum(-1)
            assign = ds.argmin(axis=1)
        else:
            assign = np.zeros(n, int)
        assign[seeds] = np.arange(len(seeds))
        out = tbl.select(keep)
        out = out.append_column(CLUSTER_ID, pa.array(assign.astype("int32")))
        out = out.append_column(OUTLIER_SCORE, pa.array(score.astype(float)))
        return out

    return carve_chunk_runs(chunked, process, out_schema, sort_keys=(GLOBAL_RANK,))


def glosh_outlier_scores(
    df: DataFrame,
    feature_cols: list[str],
    min_samples: int = 50,
    min_cluster_size: int = 50,
    max_chunk_size: int = 5000,
    keep_cols: list[str] | None = None,
    profile: CatalogueProfile | None = None,
) -> DataFrame:
    """M5 for real: chunk-local HDBSCAN* labels + GLOSH outlier scores
    (operators/hdbscan_np.py — excess-of-mass selection, noise -1),
    the reference's ``HDBSCAN(**kwargs).fit`` + ``outlier_scores_``
    contract (reference: samplers/outliers.py:58-61; config
    Lipac.yml:55-58 pins min_cluster_size=50, min_samples=50, eom).
    Same carver framing, chunk assignment and ``profile`` as the kNN
    scorer, so the two are drop-in interchangeable."""
    keep = keep_cols or [S.PATCH_ID, S.FILE_ID]
    chunked, out_schema = _chunked(df, feature_cols, max_chunk_size, keep, profile)

    import pyarrow as pa

    def process(tbl: "pa.Table") -> "pa.Table":
        from pacasam_spark.operators.hdbscan_np import hdbscan_chunk

        x = np.column_stack(
            [
                tbl.column(c).to_numpy(zero_copy_only=False)
                for c in feature_cols
            ]
        ).astype(float, copy=False)
        labels, score = hdbscan_chunk(
            x, min_samples=min_samples, min_cluster_size=min_cluster_size
        )
        out = tbl.select(keep)
        out = out.append_column(CLUSTER_ID, pa.array(labels.astype("int32")))
        out = out.append_column(OUTLIER_SCORE, pa.array(score.astype(float)))
        return out

    return carve_chunk_runs(chunked, process, out_schema, sort_keys=(GLOBAL_RANK,))
