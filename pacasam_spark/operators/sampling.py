"""Deterministic exact-n sampling operators (SURVEY.md §2.11 M6/M7, §4.3-1).

The reference's sampling uses pandas ``.sample(random_state=0)`` plus a
driver while-loop to hit exact counts (reference: samplers/algos.py:17-56).
Here every draw is ordered by the portable hash of the row key, which makes
the operators:

- exact-n (rank <= k, not fraction-based like ``df.sample``),
- deterministic across partitionings/cluster sizes,
- single-pass (the reference's completion while-loop collapses into a
  round-robin rank — see :func:`sample_with_stratification`),
- ANSI-SQL expressible for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pacasam_spark import schemas as S
from pacasam_spark.operators.hashing import det_hash


def sample_randomly(
    df: DataFrame,
    n: int,
    seed: int = 0,
    key: str = S.PATCH_ID,
    distributed_trim_threshold: int = 20000,
) -> DataFrame:
    """M6: seeded no-replacement sample of min(n, count) rows
    (reference: samplers/algos.py:17-20).

    Physical plan for small n: TakeOrdered(n) — per-partition top-n then
    driver merge. For n above ``distributed_trim_threshold`` the driver
    merge of n rows per partition becomes the bottleneck, so the cut
    switches to a hash-threshold trim (identical result, fully
    distributed — see :func:`_hash_threshold_trim`).
    """
    h = det_hash(key, seed)
    if n <= distributed_trim_threshold:
        return df.orderBy(h, F.col(key)).limit(n)
    return _hash_threshold_trim(df, n, h, key)


_HASH_BUCKET = 1 << 16  # det_hash range is [0, 2^31) -> 32768 buckets

# single source of truth for the auto-salt skew threshold, so callers that
# can BOUND their stratum sizes (e.g. from the catalogue profile) can
# skip the detection job without duplicating the constant
_DEFAULT_SALT_THRESHOLD = 2_000_000


def salt_for_max_stratum(
    mx: int, salt_threshold: int = _DEFAULT_SALT_THRESHOLD
) -> int:
    """The salt the auto path would choose for a known (or upper-bounded)
    max stratum size — exposed so callers with a precomputed bound skip
    the detection job (output is identical for any salt)."""
    return 0 if mx <= salt_threshold else min(256, -(-mx // salt_threshold))


def _hash_threshold_trim(df: DataFrame, n: int, h, key: str) -> DataFrame:
    """The n smallest rows by (hash, key) WITHOUT a driver merge of n rows:
    one aggregation builds a 32k-bucket histogram of the hash values, the
    boundary bucket b* where the cumulative count crosses n is found on
    that tiny table, and the result is
    ``filter(hash < b* * B)  UNION  TakeOrdered(remaining)`` restricted to
    the boundary bucket (at most ~count/32768 rows). Identical to
    ``orderBy(hash, key).limit(n)``: every row below the boundary bucket
    has a strictly smaller hash than any row inside it.
    """
    hashed = df.withColumn("__h", h)
    hist = hashed.groupBy(
        (F.col("__h") / F.lit(_HASH_BUCKET)).cast("long").alias("__b")
    ).count()
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn("__cum", F.coalesce(F.sum("count").over(wb), F.lit(0)))
    boundary = (
        cum.filter((F.col("__cum") < n) & (F.col("__cum") + F.col("count") >= n))
        .select("__b", "__cum")
        .first()
    )
    if boundary is None:  # total count <= n: keep everything
        return df
    b_star, cum_before = int(boundary["__b"]), int(boundary["__cum"])
    remaining = n - cum_before
    base = hashed.filter(F.col("__h") < b_star * _HASH_BUCKET)
    bnd = (
        hashed.filter(
            (F.col("__h") >= b_star * _HASH_BUCKET)
            & (F.col("__h") < (b_star + 1) * _HASH_BUCKET)
        )
        .orderBy("__h", F.col(key))
        .limit(remaining)
    )
    return base.unionByName(bnd).drop("__h")


def sample_n_per_stratum(
    df: DataFrame,
    n_per_stratum: int,
    keys: list[str],
    seed: int = 0,
    id_key: str = S.PATCH_ID,
) -> DataFrame:
    """A2: exact n-per-group sample via window rank
    (reference: samplers/algos.py:36-37)."""
    w = Window.partitionBy(*keys).orderBy(det_hash(id_key, seed), F.col(id_key))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_stratum)
        .drop("__rk")
    )


def sample_with_stratification(
    df: DataFrame,
    num_to_sample: int,
    keys: str | list[str] = S.FILE_ID,
    seed: int = 0,
    id_key: str = S.PATCH_ID,
    distributed_trim_threshold: int = 20000,
    salt: int | str = "auto",
    salt_threshold: int = _DEFAULT_SALT_THRESHOLD,
    counts: DataFrame | None = None,
) -> DataFrame:
    """M7: exact-n sample stratified by ``keys``
    (reference: samplers/algos.py:23-56).

    The reference does floor(n/strata) per stratum (with replacement +
    dedup) then a driver while-loop adding 1 per stratum until n is
    reached. Both phases collapse into one ROUND-ROBIN rank: order rows by
    (rank within stratum, hash) and take the first n. Every stratum
    contributes min(size, fair share), the total is exactly
    min(n, count(df)), and there is no driver loop.

    Physical plan: one shuffle for the per-stratum window (partitioned by
    the strata keys). A hot stratum would sort in ONE task, so with
    ``salt="auto"`` (default) the per-strata counts are aggregated (one
    cheap partial-agg job — pass ``counts`` to reuse an existing table,
    as fps.add_deterministic_chunk_ids does) and the exact salted
    two-level rank kicks in automatically when the largest stratum
    exceeds ``salt_threshold`` rows; output is IDENTICAL either way
    (test-gated). Explicit ``salt=0`` skips detection; an explicit int
    forces that many sub-buckets. The global cut is TakeOrdered(n) for
    small n; for large n that merge is a serial driver bottleneck, so
    the cut switches to a distributed round-threshold trim (identical
    result, see :func:`_round_threshold_trim`).
    """
    if isinstance(keys, str):
        keys = [keys]
    h = det_hash(id_key, seed)
    if salt == "auto":
        if counts is None:
            counts = df.groupBy(*keys).count()
        mx = int(counts.agg(F.max("count")).first()[0] or 0)
        salt = salt_for_max_stratum(mx, salt_threshold)
    if salt > 1:
        df = _salted_rank_candidates(df, num_to_sample, keys, h, id_key, seed, salt)
    # Explicit repartition on the strata keys, hash projected AFTER it:
    # left to ENSURE_REQUIREMENTS, Catalyst computes the window's order
    # expression BELOW the exchange, so every shuffled row carries the
    # 8-byte hash it could recompute on the reduce side (guide §2.3
    # "project before the exchange"). Same partitioning, same rank, same
    # rows — one fewer column of shuffle bytes.
    hc = F.col("__h")
    w = Window.partitionBy(*keys).orderBy(hc, F.col(id_key))
    ranked = (
        df.repartition(*[F.col(k) for k in keys])
        .withColumn("__h", h)
        .withColumn("__rk", F.row_number().over(w))
    )
    if num_to_sample <= distributed_trim_threshold:
        return (
            ranked.orderBy(F.col("__rk"), hc, F.col(id_key))
            .limit(num_to_sample)
            .drop("__rk", "__h")
        )
    return _round_threshold_trim(ranked, num_to_sample, keys, hc, id_key)


def _salted_rank_candidates(df, num_to_sample, keys, h, id_key, seed, salt):
    """Skew guard for the per-stratum window (SURVEY §4.3-7): a hot
    stratum otherwise sorts in ONE task. Rows are first ranked within
    (stratum, salt-bucket) — ``salt`` independent sorts per stratum — and
    only candidates with bucket-rank <= num_to_sample survive to the exact
    window. Sound because a rank over a subset is <= the rank over the
    stratum, and no taken row ever has stratum-rank > num_to_sample; the
    exact window then sees at most salt * num_to_sample rows per stratum.
    Result is IDENTICAL to the unsalted path (test-gated)."""
    bucket = F.pmod(det_hash(id_key, seed + 982451653), F.lit(salt))
    w1 = Window.partitionBy(*keys, "__salt").orderBy(h, F.col(id_key))
    return (
        df.withColumn("__salt", bucket)
        .withColumn("__rk1", F.row_number().over(w1))
        .filter(F.col("__rk1") <= num_to_sample)
        .drop("__salt", "__rk1")
    )


def _round_threshold_trim(ranked, num_to_sample, keys, h, id_key):
    """Take the first n rows of the (round, hash) order WITHOUT a global
    TakeOrdered: find the largest full round r with
    sum(min(count_s, r)) <= n via binary search over the (tiny) per-strata
    counts table, keep every row with rank <= r (a filter), and fill the
    remainder from the boundary round r+1 ordered by hash (a TakeOrdered
    of at most #strata rows). Identical to orderBy(rank, hash).limit(n).
    """
    counts = ranked.groupBy(*keys).agg(F.count("*").alias("__c")).persist()
    max_round_row = counts.agg(
        F.max("__c").alias("mx"), F.sum("__c").alias("total")
    ).first()
    max_round, total = int(max_round_row["mx"] or 0), int(max_round_row["total"] or 0)
    if total <= num_to_sample:
        counts.unpersist()
        return ranked.drop("__rk", "__h")

    def taken_at(r: int) -> int:
        return int(
            counts.agg(F.sum(F.least(F.col("__c"), F.lit(r)))).first()[0] or 0
        )

    lo, hi = 0, max_round  # invariant: taken_at(lo) <= n < taken_at(hi + 1)
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if taken_at(mid) <= num_to_sample:
            lo = mid
        else:
            hi = mid - 1
    r = lo
    remaining = num_to_sample - taken_at(r)
    counts.unpersist()

    base = ranked.filter(F.col("__rk") <= r)
    if remaining == 0:
        return base.drop("__rk", "__h")
    boundary = (
        ranked.filter(F.col("__rk") == r + 1)
        .orderBy(h, F.col(id_key))
        .limit(remaining)
    )
    return base.unionByName(boundary).drop("__rk", "__h")


def stratified_sample_sql(
    source_sql: str,
    num_to_sample: int,
    keys: list[str],
    seed: int = 0,
    id_key: str = S.PATCH_ID,
    columns: str = "*",
) -> str:
    """DuckDB/ANSI oracle text for :func:`sample_with_stratification`."""
    from pacasam_spark.operators.hashing import det_hash_sql

    h = det_hash_sql(id_key, seed)
    part = ", ".join(keys)
    return f"""
    with ranked as (
      select {columns},
             row_number() over (partition by {part}
                                order by {h}, {id_key}) as __rk
      from ({source_sql})
    )
    select * exclude (__rk) from ranked
    order by __rk, {h}, {id_key}
    limit {num_to_sample}
    """


def top_k(df: DataFrame, order_col, k: int) -> DataFrame:
    """O3: global top-k (reference: samplers/outliers.py:46).
    Physical plan: TakeOrdered — no global sort."""
    return df.orderBy(F.desc(order_col) if isinstance(order_col, str) else order_col).limit(k)
