"""Train/val split assignment (SURVEY.md §2.12 P8).

Reference semantics (samplers/sampler.py:53-65): default split="test";
when frac_validation_set is truthy, all rows start as "train" and
floor(frac * n) patches — chosen by stratified sampling over ``keys`` —
flip to "val".

The split works on the driver's Arrow copy of a selection, like the
reference's pandas frame: a selection is capped by its sampler's target,
so the driver holds at most ``target_total_num_patches`` rows of
``(patch_id, strata keys)`` — the bound joins.py already accepts for a
broadcast selection — and the split runs no Spark job at all. The cut is
the one :func:`pacasam_spark.operators.sampling.sample_with_stratification`
makes in Spark: rank within each stratum by ``(det_hash(patch_id, seed),
patch_id)``, then take the first ``n_val`` rows in ``(rank, hash,
patch_id)`` order (``tests/test_split.py`` keeps that Spark formulation
as the oracle).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pacasam_spark import schemas as S
from pacasam_spark.operators.hashing import det_hash_np


def _strata_codes(table: pa.Table, keys: list[str]) -> np.ndarray:
    """Dense int code per row for the combination of ``keys``; a null
    key value is a stratum of its own, as in Spark's partitionBy."""
    codes = np.zeros(table.num_rows, dtype=np.int64)
    for k in keys:
        enc = pc.dictionary_encode(table[k].combine_chunks(), null_encoding="encode")
        idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        # re-densify after each key so the mixed radix stays below n^2
        _, codes = np.unique(codes * len(enc.dictionary) + idx, return_inverse=True)
    return codes


def _stratified_first(
    ids: np.ndarray, codes: np.ndarray, n: int, seed: int
) -> np.ndarray:
    """Row indices of the first ``n`` rows of the round-robin stratified
    order: rank within each stratum by (hash, id), then order by
    (rank, hash, id)."""
    h = det_hash_np(ids, seed)
    by_stratum = np.lexsort((ids, h, codes))
    sorted_codes = codes[by_stratum]
    starts = np.flatnonzero(np.r_[True, sorted_codes[1:] != sorted_codes[:-1]])
    sizes = np.diff(np.r_[starts, len(ids)])
    rank = np.empty(len(ids), dtype=np.int64)
    rank[by_stratum] = np.arange(len(ids)) - np.repeat(starts, sizes)
    return np.lexsort((ids, h, rank))[:n]


def assign_split(
    selection: pa.Table,
    frac_validation_set: float | None,
    keys: str | list[str] = S.FILE_ID,
    seed: int = 0,
) -> pa.Table:
    """Append the ``split`` column to a collected selection that still
    carries its stratification ``keys``."""
    n = selection.num_rows
    if not frac_validation_set:
        return selection.append_column(S.SPLIT, pa.array(["test"] * n, pa.string()))
    keys = [keys] if isinstance(keys, str) else list(keys)
    # epsilon guards float noise in rebalanced fractions, e.g.
    # (k/n)*n = k - 1e-12 must still floor to k
    n_val = math.floor(frac_validation_set * n + 1e-9)
    ids = selection[S.PATCH_ID].to_numpy()
    is_val = np.zeros(n, dtype=bool)
    is_val[_stratified_first(ids, _strata_codes(selection, keys), n_val, seed)] = True
    split = np.where(is_val, "val", "train")
    return selection.append_column(S.SPLIT, pa.array(split, pa.string()))
