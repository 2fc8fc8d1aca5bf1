"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale design:
- exact dedup: one shuffle on the content hash; keeps min id per group.
- MinHash/LSH: signatures are per-doc aggregations (shuffle on doc_id);
  candidate generation joins on (band, signature) — equi-join, never a
  cartesian; verification is restricted to candidates.
- Jaccard: exact pairwise via shingle equi-join — use ONLY downstream of
  LSH candidates at scale (provided standalone for the oracle gate).
- SimHash: 64-bit signature from per-word md5 bits; near-dup candidates
  join on 16-bit bands (4 sub-bands => Hamming distance <= 3 guaranteed
  recall by pigeonhole), capped per bucket, then exact-filtered on the
  true Hamming distance.
- The bucket cap of every candidate self-join (:func:`bounded_buckets`)
  is a window count over the bucket key: one shuffle of the banded rows,
  which the self-join on the same key reuses.

Everything is md5-based, so the DuckDB oracle reproduces signatures
byte-for-byte (md5 hex is identical across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pacasam_spark.operators.text import word_ngrams, words_col


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by content hash: keep the smallest id per distinct text.
    One shuffle on md5(text)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def bounded_buckets(
    banded: DataFrame, keys: list[str], max_bucket_size: int
) -> DataFrame:
    """Degenerate-bucket guard of every candidate self-join here: keep
    the rows of the ``keys`` buckets holding at most ``max_bucket_size``
    rows. The size is a window count, so the rows are shuffled once on
    the bucket key and the self-join on the same key reuses that
    exchange (a grouped count joined back would be planned once per
    join side)."""
    size = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    return (
        banded.withColumn("__bucket_rows", size)
        .filter(F.col("__bucket_rows") <= max_bucket_size)
        .drop("__bucket_rows")
    )


def dropped_buckets(
    banded: DataFrame, keys: list[str], max_bucket_size: int
) -> DataFrame:
    """The (``keys``..., count) buckets :func:`bounded_buckets` drops."""
    return banded.groupBy(*keys).count().filter(F.col("count") > max_bucket_size)


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) with distinct word n-gram shingles per doc."""
    return (
        df.select(id_col, F.explode(word_ngrams(words_col(F.col(text_col)), n)).alias("shingle"))
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
) -> DataFrame:
    """MinHash signature per (doc, band): the minimum md5 of the doc's
    shingles salted with the band index — one permutation per band
    (the string-min over a salted cryptographic hash IS a valid minhash
    permutation). Output: (id, band, sig)."""
    sh = shingle_table(df, text_col, id_col, n)
    banded = sh.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        "shingle",
    )
    return banded.groupBy(id_col, "band").agg(
        F.min(F.md5(F.concat(F.col("shingle"), F.lit("#"), F.col("band")))).alias("sig")
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    min_shared_bands: int = 2,
    max_bucket_size: int = 10000,
    return_dropped: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Candidate near-dup pairs sharing >= k of the band signatures.
    Equi-join on (band, sig): docs only meet if a signature collides —
    the LSH bucket join; with the bucket cap below, candidate volume is
    bounded by bands * N * max_bucket_size / 2 (linear in N).

    Degenerate-bucket guard: a signature shared by m docs yields m^2 join
    rows, and near-empty/boilerplate docs at corpus scale all hash to the
    SAME few signatures — one such bucket is a quadratic hotspot in one
    task. Buckets larger than ``max_bucket_size`` are dropped before the
    self-join (standard web-dedup practice: a band shared by >10k docs
    identifies boilerplate, not near-duplication; lower the n-gram order
    or raise ``bands`` to split such corpora instead).

    The guard silently loses true pairs inside a dropped bucket, so the
    truncation is surfaced: ``return_dropped=True`` returns
    ``(pairs, dropped)`` where ``dropped`` is the (band, sig, count)
    table of guarded buckets — callers can tell 'no pairs' apart from
    'pairs pruned by the guard' (empty when nothing was cut)."""
    sigs = minhash_signatures(df, text_col, id_col, n, bands)
    bounded = bounded_buckets(sigs, ["band", "sig"], max_bucket_size)
    a = bounded.select(F.col(id_col).alias("id_a"), "band", "sig")
    b = bounded.select(F.col(id_col).alias("id_b"), "band", "sig")
    pairs = (
        a.join(b, on=["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_bands"))
        .filter(F.col("n_shared_bands") >= min_shared_bands)
    )
    if return_dropped:
        return pairs, dropped_buckets(sigs, ["band", "sig"], max_bucket_size)
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.
    |A ∩ B| from the shingle equi-join; |A|, |B| broadcast back."""
    sh = shingle_table(df, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    inter = (
        sh.select(F.col(id_col).alias("id_a"), "shingle")
        .join(sh.select(F.col(id_col).alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
    )


def hamming_near_dup_pairs(
    df: DataFrame,
    hash_col: str = "phash",
    id_col: str = "image_id",
    max_distance: int = 7,
    n_bands: int | None = None,
    bits: int = 64,
    max_bucket_size: int = 10000,
    return_dropped: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Near-dup pairs under Hamming distance over an int64 fingerprint
    column — the image-payload dedup path (BASELINE.json input_hint
    carries ``phash:int64`` per image; pacasam itself has no image
    dedup, reference README.md:198 samples by catalogue attributes only).

    LSH by pigeonhole: the ``bits``-bit hash is cut into ``n_bands``
    contiguous bands (default ``max_distance + 1``); two hashes within
    ``max_distance`` MUST agree on at least one whole band, so an
    equi-join on (band, band_val) finds every true pair — never a
    cartesian, same shape as :func:`lsh_near_dup_pairs`. Candidates are
    then exact-filtered with ``bit_count(xor) <= max_distance``.

    Same degenerate-bucket guard as the MinHash join: a band value
    shared by m rows yields m^2 candidates (black/blank images all hash
    alike at corpus scale); buckets over ``max_bucket_size`` are dropped
    and surfaced via ``return_dropped``.

    Band extraction uses an UNSIGNED right shift, so negative int64
    hashes band correctly; oracle twins on signed engines should keep
    fingerprints in [0, 2^62) (the synthetic phash does).
    """
    if not 0 <= max_distance < bits:
        raise ValueError(
            f"max_distance must be in [0, {bits}) for a {bits}-bit hash, "
            f"got {max_distance} (>= bits would need more bands than bits)"
        )
    if n_bands is None:
        # smallest divisor of `bits` with n_bands >= max_distance + 1
        # (pigeonhole needs one more band than flipped bits)
        n_bands = next(
            d for d in (1, 2, 4, 8, 16, 32, 64) if d >= max_distance + 1
        )
    band_bits = bits // n_bands
    assert band_bits * n_bands == bits, "bits must divide evenly into bands"
    mask = (1 << band_bits) - 1

    banded = df.select(
        id_col,
        hash_col,
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn(
        "band_val",
        # SQL form: the Python shiftrightunsigned() only takes a literal
        # shift, but the shift varies per band row
        F.expr(f"shiftrightunsigned({hash_col}, band * {band_bits}) & {mask}"),
    )
    bounded = bounded_buckets(banded, ["band", "band_val"], max_bucket_size)
    a = bounded.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("hash_a"), "band", "band_val"
    )
    b = bounded.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("hash_b"), "band", "band_val"
    )
    pairs = (
        a.join(b, on=["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "hash_a", "hash_b")
        .distinct()  # a pair can agree on several bands
        .withColumn(
            "hamming", F.bit_count(F.col("hash_a").bitwiseXOR(F.col("hash_b")))
        )
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )
    if return_dropped:
        return pairs, dropped_buckets(banded, ["band", "band_val"], max_bucket_size)
    return pairs


_HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")
# hex digits with bit 2 (value 4) set: 4..7 and c..f
_HEX_BIT2 = ("4", "5", "6", "7", "c", "d", "e", "f")


def _simhash64_sums(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc ±1 bit sums for a 64-bit SimHash: two bits per md5 hex
    digit — bit 2j from digit j's high bit (value 8), bit 2j+1 from its
    bit 2 (value 4). md5 hex is engine-identical, so the DuckDB oracle
    reproduces every sum byte-for-byte."""
    tokens = (
        df.select(id_col, F.explode(words_col(F.col(text_col))).alias("w"))
        .distinct()
        .withColumn("h", F.md5("w"))
    )
    aggs = []
    for j in range(64):
        digit = F.substring("h", j // 2 + 1, 1)
        bit = digit.isin(*(_HEX_HIGH if j % 2 == 0 else _HEX_BIT2))
        aggs.append(F.sum(F.when(bit, 1).otherwise(-1)).alias(f"b{j}"))
    return tokens.groupBy(id_col).agg(*aggs)


def _simhash64_expr():
    """Signed int64 signature expression over the b0..b63 sign-sum
    columns. Bit 63 is the two's-complement sign bit, added as -(2^63)
    so the running sum never leaves the int64 range (ANSI mode raises on
    overflow; 1 << 63 alone would)."""
    sim = None
    for j in range(63):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return sim.cast("long") + F.when(
        F.col("b63") > 0, F.lit(-(1 << 63))
    ).otherwise(F.lit(0))


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per doc (two bits per md5 hex digit). The 32-bit
    variant's four 8-bit bands have a 256-value vocabulary — Θ(N²/256)
    candidate pairs, quadratic; 64 bits give four 16-bit bands (65,536
    values each), the band width real web-dedup SimHash deployments use
    (Manku et al., WWW'07 use 64-bit signatures for the same reason)."""
    return _simhash64_sums(df, text_col, id_col).select(
        id_col, _simhash64_expr().alias("simhash")
    )


def simhash_band_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    max_bucket_size: int = 10000,
    return_dropped: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """SimHash near-dup pairs: candidates share one of the four 16-bit
    bands of the 64-bit signature (pigeonhole guarantees every pair with
    Hamming distance <= 3 collides on a whole band), then candidates are
    exact-filtered on ``bit_count(xor) <= max_distance`` — every emitted
    row is a TRUE near-dup, same contract as
    :func:`hamming_near_dup_pairs`. Output: (id_a, id_b, hamming).

    Band values are rebuilt from the per-bit sign sums (no signed-shift
    extraction, so the DuckDB oracle needs no unsigned casts), and
    buckets above ``max_bucket_size`` are dropped before the self-join —
    the same degenerate-bucket guard as every other candidate generator
    here (boilerplate corpora collapse onto a few signatures; without
    the cap one hot band value is a quadratic hotspot in one task).
    ``return_dropped=True`` surfaces the guarded (band, band_val, count)
    buckets so truncation is visible."""
    if not 0 <= max_distance <= 3:
        raise ValueError(
            "pigeonhole recall over 4 bands holds only for max_distance <= 3, "
            f"got {max_distance}; use hamming_near_dup_pairs(n_bands=...) "
            "for larger radii"
        )
    sums = _simhash64_sums(df, text_col, id_col)
    band_vals = [
        sum(
            F.when(F.col(f"b{16 * k + i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(16)
        )
        for k in range(4)
    ]
    banded = sums.select(
        id_col,
        _simhash64_expr().alias("simhash"),
        F.posexplode(F.array(*band_vals)).alias("band", "band_val"),
    )
    bounded = bounded_buckets(banded, ["band", "band_val"], max_bucket_size)
    a = bounded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "band", "band_val"
    )
    b = bounded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "band", "band_val"
    )
    pairs = (
        a.join(b, on=["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()  # a pair can agree on several bands
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )
    if return_dropped:
        return pairs, dropped_buckets(banded, ["band", "band_val"], max_bucket_size)
    return pairs
