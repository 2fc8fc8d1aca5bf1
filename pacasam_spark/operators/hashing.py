"""Portable deterministic hashing — the engine's randomness source.

The reference (pacasam) seeds numpy/pandas RNGs and relies on *row order*
for reproducibility (reference: samplers/algos.py:12,20,36 `random_state=0`).
Row order has no stable distributed analogue, so every random choice here is
a pure function of the row KEY and a SEED:

    a = (key * 2654435761 + seed * 2246822519) % (2^31-1)
    b = a XOR (a >> 13)                 -- nonlinear: breaks affine order
    c = (b * 48271) % (2^31-1)
    d = c XOR (c >> 17)

i.e. a Knuth multiplicative mix + Lehmer/MINSTD step in the Mersenne-prime
field 2^31-1, interleaved with xorshifts. The xorshifts matter: without
them the hash is AFFINE in (key, seed), so two seeds give almost the same
ordering (a constant rotation mod M preserves relative order except at
wraps) — discovered by a failing determinism test. Properties that matter:

- order- and partition-independent -> bitwise identical results on
  local[8] vs local[32] vs a 1000-executor cluster (north-rule scaling);
- expressible in ANSI SQL integer arithmetic -> the DuckDB oracle can
  reproduce sampling decisions exactly (unlike xxhash64, which DuckDB
  lacks);
- no 64-bit overflow for keys < ~3.4e9 and intermediates < 2^62
  (Spark 4 ANSI mode would raise on overflow rather than wrap).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE31 = 2147483647  # 2^31 - 1
KNUTH = 2654435761  # 2^32 * golden ratio
SEED_MIX = 2246822519  # xxhash PRIME32_2
MINSTD = 48271


def det_hash(key: Column | str, seed: int = 0) -> Column:
    """Deterministic uniform-ish hash of a non-negative integer column.

    Returns a LongType column in [0, 2^31-1). Portable SQL twin:
    :func:`det_hash_sql`. Intermediates stay < 2^62 (ANSI-safe).
    """
    k = F.col(key) if isinstance(key, str) else key
    a = F.pmod(
        k.cast("long") * F.lit(KNUTH) + F.lit(seed * SEED_MIX % MERSENNE31),
        F.lit(MERSENNE31),
    )
    b = a.bitwiseXOR((a / F.lit(8192)).cast("long"))  # a >> 13
    c = F.pmod(b * F.lit(MINSTD), F.lit(MERSENNE31))
    return c.bitwiseXOR((c / F.lit(131072)).cast("long"))  # c >> 17


def det_hash_sql(key_expr: str, seed: int = 0) -> str:
    """The same hash as DuckDB SQL text (xor(); integer // division)."""
    s = seed * SEED_MIX % MERSENNE31
    a = f"((({key_expr}) * {KNUTH} + {s}) % {MERSENNE31})"
    b = f"xor({a}, {a} // 8192)"
    c = f"(({b} * {MINSTD}) % {MERSENNE31})"
    return f"xor({c}, {c} // 131072)"


def det_hash_py(key: int, seed: int = 0) -> int:
    """Pure-Python twin of :func:`det_hash` (same values bit-for-bit) —
    lets oracle-SQL generators regenerate synthetic columns driver-side."""
    a = (key * KNUTH + seed * SEED_MIX % MERSENNE31) % MERSENNE31
    b = a ^ (a // 8192)
    c = (b * MINSTD) % MERSENNE31
    return c ^ (c // 131072)


# largest |key| whose Knuth product plus the seed term fits in int64, the
# bound past which Spark's ANSI arithmetic raises instead of wrapping
_NP_KEY_LIMIT = (2**63 - 1 - MERSENNE31) // KNUTH


def det_hash_np(keys, seed: int = 0) -> np.ndarray:
    """Vectorised numpy twin of :func:`det_hash` (same values bit for
    bit) for driver-side work on collected selections. Keys beyond
    ``_NP_KEY_LIMIT`` raise, as Spark's ANSI overflow does, instead of
    wrapping."""
    k = np.asarray(keys, dtype=np.int64)
    if k.size and (k.max() > _NP_KEY_LIMIT or k.min() < -_NP_KEY_LIMIT):
        raise OverflowError(f"det_hash key outside +-{_NP_KEY_LIMIT}")
    a = (k * KNUTH + int(seed) * SEED_MIX % MERSENNE31) % MERSENNE31
    b = a ^ (a >> 13)
    c = (b * MINSTD) % MERSENNE31
    return c ^ (c >> 17)


def det_int_py(key: int, lo: int, hi: int, seed: int = 0) -> int:
    """Pure-Python twin of :func:`det_int`."""
    return det_hash_py(key, seed) % (hi - lo) + lo


def det_uniform(key: Column | str, seed: int = 0) -> Column:
    """Deterministic uniform double in [0, 1)."""
    return det_hash(key, seed).cast("double") / F.lit(float(MERSENNE31))


def det_int(key: Column | str, lo: int, hi: int, seed: int = 0) -> Column:
    """Deterministic uniform integer in [lo, hi)."""
    return (F.pmod(det_hash(key, seed), F.lit(hi - lo)) + F.lit(lo)).cast("long")


def det_int_sql(key_expr: str, lo: int, hi: int, seed: int = 0) -> str:
    return f"((({det_hash_sql(key_expr, seed)}) % {hi - lo}) + {lo})"

