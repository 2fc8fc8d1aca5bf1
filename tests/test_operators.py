"""Operator unit tests (SURVEY.md §2.3/2.8/2.11 semantics)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pacasam_spark import schemas as S
from pacasam_spark.operators.asof import asof_nearest_join, distinct_on
from pacasam_spark.operators.filters import (
    UnexpectedNaNValuesError,
    assert_no_nan,
    dedup_by_patch_id,
    exclude_ids,
    filter_by_boolean_descriptor,
    filter_split,
)
from pacasam_spark.operators.fps import fps_numpy, fps_sample
from pacasam_spark.operators.normalize import EPSILON, quantile_transform, standardize
from pacasam_spark.operators.sampling import (
    sample_n_per_stratum,
    sample_randomly,
    sample_with_stratification,
)
from pacasam_spark.operators.union import union_dedup_priority, union_first_wins


def test_sample_randomly_distributed_trim_identity(spark):
    """Large-n random sampling must not driver-merge n rows per partition:
    the hash-threshold trim is a filter + boundary-bucket TakeOrdered, and
    its result is IDENTICAL to the TakeOrdered path."""
    df = spark.range(300000).select(F.col("id").alias(S.PATCH_ID))
    trimmed = sample_randomly(df, 150000, seed=5)  # distributed path
    reference = sample_randomly(
        df, 150000, seed=5, distributed_trim_threshold=10**9
    )  # forced TakeOrdered path
    assert trimmed.count() == 150000
    assert trimmed.exceptAll(reference).count() == 0
    assert reference.exceptAll(trimmed).count() == 0
    # the big-side subplan must not TakeOrdered the full n — only the
    # boundary bucket is ever sorted
    plan = trimmed._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject(limit=150000" not in plan
    # n >= total: keep everything
    assert sample_randomly(df, 400000, seed=5).count() == 300000


def test_filter_split_truth_table(catalogue):
    """reference: tests/tests_pacasam/connectors/test_lipac.py:13-36 —
    NaN => train; test = strictly true; any = all; invalid raises."""
    total = catalogue.count()
    n_test = filter_split(catalogue, "test").count()
    n_train = filter_split(catalogue, "train").count()
    assert n_test == int(0.2 * 200)
    assert n_train == total - n_test  # NULL => train
    assert filter_split(catalogue, "any").count() == total
    with pytest.raises(ValueError):
        filter_split(catalogue, "validation")


def test_boolean_descriptor_filter_counts(catalogue):
    # exact prevalences: ceil(p * 200)
    for name, p in [("C0", 0.005), ("C1", 0.2), ("C2", 0.2), ("C3", 0.7)]:
        assert filter_by_boolean_descriptor(catalogue, name).count() == math.ceil(p * 200)
    with pytest.raises(TypeError):
        filter_by_boolean_descriptor(catalogue, "nb_total")


def test_exclude_ids_anti_join(spark, catalogue):
    excl = catalogue.filter(F.col(S.PATCH_ID) < 50).select(S.PATCH_ID)
    out = exclude_ids(catalogue, excl)
    assert out.count() == 150
    assert out.filter(F.col(S.PATCH_ID) < 50).count() == 0


def test_dedup(spark, catalogue):
    doubled = catalogue.unionByName(catalogue)
    assert dedup_by_patch_id(doubled).count() == 200


def test_sample_randomly_exact_and_capped(catalogue):
    assert sample_randomly(catalogue, 10).count() == 10
    assert sample_randomly(catalogue, 10_000).count() == 200


def test_sample_n_per_stratum(spark):
    df = spark.range(1000).select(
        F.col("id").alias("patch_id"), F.pmod("id", F.lit(10)).alias("k")
    )
    out = sample_n_per_stratum(df, 3, keys=["k"], id_key="patch_id")
    counts = out.groupBy("k").count().collect()
    assert all(r["count"] == 3 for r in counts) and len(counts) == 10


def test_stratified_round_robin_fairness(spark):
    """Every stratum contributes min(size, fair share): 10 strata x 100
    rows, n=55 => five strata give 6, five give 5."""
    df = spark.range(1000).select(
        F.col("id").alias("patch_id"), F.pmod("id", F.lit(10)).alias(S.FILE_ID)
    )
    out = sample_with_stratification(df, 55, keys=S.FILE_ID)
    counts = sorted(r["count"] for r in out.groupBy(S.FILE_ID).count().collect())
    assert sum(counts) == 55
    assert counts == [5] * 5 + [6] * 5


def test_stratified_small_strata_exhausted_first(spark):
    """A stratum smaller than its fair share contributes all it has."""
    df = spark.range(100).select(
        F.col("id").alias("patch_id"),
        F.when(F.col("id") < 3, "tiny").otherwise("big").alias(S.FILE_ID),
    )
    out = sample_with_stratification(df, 50, keys=S.FILE_ID)
    counts = {r[S.FILE_ID]: r["count"] for r in out.groupBy(S.FILE_ID).count().collect()}
    assert counts["tiny"] == 3
    assert counts["big"] == 47


def test_stratified_distributed_trim_equivalence(spark):
    """The round-threshold trim must equal the TakeOrdered path bitwise
    (it replaces the driver merge for large n)."""
    df = spark.range(5000).select(
        F.col("id").alias("patch_id"), F.pmod("id", F.lit(37)).alias(S.FILE_ID)
    )
    for n in (100, 2500, 4999):
        a = sorted(
            r["patch_id"]
            for r in sample_with_stratification(
                df, n, distributed_trim_threshold=10**9
            ).collect()
        )
        b = sorted(
            r["patch_id"]
            for r in sample_with_stratification(
                df, n, distributed_trim_threshold=0
            ).collect()
        )
        assert a == b and len(a) == n


def test_union_dedup_priority_first_wins(spark):
    a = spark.createDataFrame([(1, "a"), (2, "a")], ["patch_id", "tag"])
    b = spark.createDataFrame([(2, "b"), (3, "b")], ["patch_id", "tag"])
    out = {r["patch_id"]: r["tag"] for r in union_dedup_priority([a, b]).collect()}
    assert out == {1: "a", 2: "a", 3: "b"}
    # the driver-side twin on the same inputs, as Arrow tables
    t = union_first_wins([a.toArrow(), b.toArrow()])
    assert t["patch_id"].to_pylist() == [1, 2, 3]
    assert t["tag"].to_pylist() == ["a", "a", "b"]


def test_asof_nearest(spark):
    left = spark.createDataFrame([(1, 10), (2, 100)], ["k", "lv"])
    right = spark.createDataFrame(
        [(1, 8, "x"), (1, 13, "y"), (2, 99, "z"), (2, 101, "w")], ["k", "rv", "tag"]
    )
    out = {r["k"]: r["tag"] for r in asof_nearest_join(left, right, "k", "lv", "rv").collect()}
    assert out == {1: "x", 2: "z"}  # |8-10|=2 < |13-10|=3 ; tie 99/101 -> lower rv


def test_distinct_on(spark):
    df = spark.createDataFrame(
        [(1, 2, "b"), (1, 1, "a"), (2, 5, "c")], ["k", "o", "v"]
    )
    out = {r["k"]: r["v"] for r in distinct_on(df, ["k"], ["o"]).collect()}
    assert out == {1: "a", 2: "c"}


def test_standardize_zero_ignoring_and_min_fill(spark):
    df = spark.createDataFrame(
        [(1, 0.0), (2, 10.0), (3, 20.0), (4, 30.0)], ["patch_id", "x"]
    )
    out = {r["patch_id"]: r["x"] for r in standardize(df, ["x"]).collect()}
    # stats over non-zeros {10,20,30}: mean=20, std=10
    assert out[2] == pytest.approx((10 - 20) / (10 + EPSILON))
    assert out[3] == pytest.approx(0.0, abs=1e-6)
    assert out[4] == pytest.approx((30 - 20) / (10 + EPSILON))
    # zero filled with min of normalized values
    assert out[1] == out[2]


def test_standardize_refuses_ansi_off(spark):
    """The split-long statistics are exact only because ANSI mode raises
    on overflow; with it off they would silently lose rows."""
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["patch_id", "x"])
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(ValueError, match="spark.sql.ansi.enabled"):
            standardize(df, ["x"])
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    standardize(df, ["x"]).collect()


def test_standardize_nan_guard(spark):
    df = spark.createDataFrame([(1, 1.0), (2, None)], ["patch_id", "x"])
    with pytest.raises(UnexpectedNaNValuesError):
        assert_no_nan(df, ["x"])
    with pytest.raises(UnexpectedNaNValuesError):
        standardize(df, ["x"])


@pytest.mark.parametrize("column", ["big", "dbl"])
def test_exact_decimal_fallback_matches_python_oracle(spark, column):
    """Features whose fast split-long partials overflow take the exact
    decimal fallback: a bigint beyond |x| ~ 3.04e9 (its square overflows
    a long) and a double beyond 1e6 (its square overflows decimal(18,6)).
    The global statistics and the catalogue profile's per-file merge
    both equal a Python Decimal oracle. The doubles and their squares
    have short exact decimal forms, so the decimal cast does not round."""
    from decimal import Decimal

    from pacasam_spark.operators.normalize import CatalogueProfile, _global_stats

    values, sql_type = {
        "big": ([4_000_000_001, -5_000_000_000, 0, 7_000_000_000_000, 4_000_000_001], "bigint"),
        "dbl": ([1500000.5, 0.0, -2500000.5, 3000000.0, 2000000.5], "double"),
    }[column]
    df = spark.createDataFrame(
        [(i, i % 2, v) for i, v in enumerate(values)],
        f"patch_id long, file_id long, {column} {sql_type}",
    )
    nonzero = [v for v in values if v != 0]
    exact = Decimal if column == "big" else (lambda v: Decimal(repr(v)))
    want = {
        "cnt": len(nonzero),
        "min": min(float(v) for v in nonzero),
        "nan": 0,
        "s": sum(exact(v) for v in nonzero),
        "ssq": sum(exact(v * v) for v in nonzero),
    }
    profile = CatalogueProfile.of(df, [column]).build()
    try:
        for stats in (_global_stats(df, [column]), profile.stats):
            assert {k: stats[f"{k}_{column}"] for k in want} == want
    finally:
        profile.release()
    assert profile.total_rows == len(values)
    assert standardize(df, [column], stats=profile).count() == len(values)


def test_quantile_transform_range_and_order(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], ["patch_id", "x"]
    )
    out = quantile_transform(df, ["x"], n_quantiles=10).collect()
    vals = {r["patch_id"]: r["x"] for r in out}
    assert vals[1] == pytest.approx(0.0)
    assert vals[100] == pytest.approx(1.0)
    assert vals[25] < vals[50] < vals[75]


def test_fps_numpy_maxmin_property():
    import numpy as np

    # two far clusters + one outlier: FPS must visit all three groups fast
    rng = [[0.0, 0.0], [0.1, 0.0], [10.0, 10.0], [10.1, 10.0], [100.0, 0.0]]
    idx = fps_numpy(np.array(rng), 3)
    assert idx[0] == 0  # seeded at first row
    picked = {tuple(rng[i]) for i in idx}
    assert (100.0, 0.0) in picked  # the farthest point is picked early
    assert any(p[0] >= 10.0 and p[0] < 100 for p in picked)


def test_run_carver_slices_chunks_across_batches():
    """_make_run_carver must call ``process`` exactly once per chunk id
    even when a chunk's rows span several Arrow batches, and must skip
    empty batches. Pure-Python: no Spark session involved."""
    import numpy as np
    import pyarrow as pa

    from pacasam_spark.operators.fps import _make_run_carver

    seen: list[tuple[int, int]] = []  # (chunk_id, rows handed to process)

    def process(tbl: pa.Table) -> pa.Table:
        cid = tbl.column("c")[0].as_py()
        assert all(v.as_py() == cid for v in tbl.column("c"))  # one chunk only
        seen.append((cid, len(tbl)))
        return tbl.select(["c"])

    def batch(chunks):
        return pa.record_batch(
            [pa.array(chunks, type=pa.int64()), pa.array(range(len(chunks)))],
            names=["c", "v"],
        )

    batches = [
        batch([0, 0, 1]),          # chunk 0 complete, chunk 1 opens
        pa.record_batch([pa.array([], pa.int64()), pa.array([], pa.int64())],
                        names=["c", "v"]),  # empty batch: ignored
        batch([1, 1]),             # chunk 1 continues across batches
        batch([2]),                # closes 1, opens 2
    ]
    out = list(_make_run_carver(process, "c")(iter(batches)))
    assert seen == [(0, 2), (1, 3), (2, 1)]
    got = np.concatenate([b.column(0).to_numpy() for b in out])
    assert got.tolist() == [0, 0, 1, 1, 1, 2]


def test_fps_sample_spark_deterministic(catalogue):
    sel1 = sorted(
        r[S.PATCH_ID]
        for r in fps_sample(
            catalogue.select(S.PATCH_ID, S.FILE_ID, "nb_sol", "nb_bati"),
            20,
            ["nb_sol", "nb_bati"],
            max_chunk_size=50,
        ).collect()
    )
    sel2 = sorted(
        r[S.PATCH_ID]
        for r in fps_sample(
            catalogue.repartition(7).select(S.PATCH_ID, S.FILE_ID, "nb_sol", "nb_bati"),
            20,
            ["nb_sol", "nb_bati"],
            max_chunk_size=50,
        ).collect()
    )
    assert sel1 == sel2
    assert len(sel1) == 20


def test_blockwise_knn_matches_full_matrix():
    """_blockwise_knn_mean (O(n*block) memory) must equal the full n x n
    computation — blocking cannot change the result. Both sum the Gram
    matrix feature by feature in a fixed order: no BLAS matmul is
    block-invariant (the full x @ x.T and a row block of it take
    different kernels and differ in the last bit)."""
    import numpy as np

    from pacasam_spark.operators.outliers import _blockwise_knn_mean

    rng = np.random.default_rng(7)
    x = rng.normal(size=(1300, 4))  # > 2 blocks of 512
    kk = 20
    norms = np.einsum("ij,ij->i", x, x)
    gram = sum(np.multiply.outer(x[:, f], x[:, f]) for f in range(x.shape[1]))
    d2 = norms[:, None] - 2.0 * gram + norms[None, :]
    np.fill_diagonal(d2, np.inf)
    full = np.sort(np.partition(d2, kk - 1, axis=1)[:, :kk], axis=1).mean(axis=1)
    block = _blockwise_knn_mean(x, kk)
    assert np.array_equal(full, block)


def test_knn_outlier_scores_deterministic_across_partitionings(catalogue):
    from pacasam_spark.operators.normalize import standardize
    from pacasam_spark.operators.outliers import knn_outlier_scores

    cols = ["nb_sol", "nb_bati", "nb_eau", "nb_vegetation_haute"]
    db = standardize(catalogue.select(S.PATCH_ID, S.FILE_ID, *cols), cols)
    a = sorted(
        (r[S.PATCH_ID], r["cluster_id"], r["outlier_score"])
        for r in knn_outlier_scores(db, cols, k=10, max_chunk_size=60).collect()
    )
    b = sorted(
        (r[S.PATCH_ID], r["cluster_id"], r["outlier_score"])
        for r in knn_outlier_scores(
            db.repartition(13), cols, k=10, max_chunk_size=60
        ).collect()
    )
    assert a == b
    assert len(a) == 200


def test_stratified_salted_identical_on_skew(spark):
    """100x-skewed stratum: the salted two-level rank must produce the
    IDENTICAL sample while never sorting the hot stratum in one task."""
    df = spark.range(10100).select(
        F.col("id").alias("patch_id"),
        F.when(F.col("id") < 10000, "hot").otherwise(
            F.concat(F.lit("s"), (F.col("id") % 5).cast("string"))
        ).alias(S.FILE_ID),
    )
    for n in (60, 900):
        plain = sorted(
            r["patch_id"] for r in sample_with_stratification(df, n, seed=3).collect()
        )
        salted = sorted(
            r["patch_id"]
            for r in sample_with_stratification(df, n, seed=3, salt=8).collect()
        )
        assert plain == salted and len(plain) == n


def test_bucketed_rank_identical_chunk_ids(spark):
    """Hot-file skew guard: value-bucketed ranks give the same chunk ids
    as the single-task window."""
    from pacasam_spark.operators.fps import CHUNK_ID, add_deterministic_chunk_ids

    df = spark.range(5000).select(
        (F.col("id") * 37 % 99991).alias("patch_id"),  # non-dense ids
        F.when(F.col("id") < 4500, "hot").otherwise("cold").alias(S.FILE_ID),
    ).distinct()
    plain = add_deterministic_chunk_ids(df, 256, skew_threshold=10**9)
    bucketed = add_deterministic_chunk_ids(df, 256, skew_threshold=1000)
    a = sorted((r["patch_id"], r[CHUNK_ID]) for r in plain.collect())
    b = sorted((r["patch_id"], r[CHUNK_ID]) for r in bucketed.collect())
    assert a == b


def test_fps_sample_identical_through_skew_guard(spark):
    """End-to-end: fps_sample with the hot-file guard FORCED ON (one file
    holds 90% of the rows, threshold lowered below it) selects the
    IDENTICAL patches as the unsalted single-task-window path — the skew
    guard is a physical-plan choice, never a result change."""
    from pacasam_spark.operators.fps import fps_sample

    df = spark.range(5000).select(
        (F.col("id") * 37 % 99991).alias("patch_id"),
        F.when(F.col("id") < 4500, "hot").otherwise("cold").alias(S.FILE_ID),
        (F.col("id") % 97).cast("double").alias("f1"),
        (F.col("id") % 31).cast("double").alias("f2"),
    ).distinct()
    kw = dict(feature_cols=["f1", "f2"], max_chunk_size=400)
    plain = fps_sample(df, 200, skew_threshold=10**9, **kw)
    guarded = fps_sample(df, 200, skew_threshold=1000, **kw)
    a = sorted((r["patch_id"], r[S.FILE_ID]) for r in plain.collect())
    b = sorted((r["patch_id"], r[S.FILE_ID]) for r in guarded.collect())
    assert a == b and len(a) == 200


def test_lsh_degenerate_bucket_guard(spark):
    """A signature bucket above max_bucket_size (boilerplate hotspot) is
    dropped before the self-join; genuine duplicate pairs survive."""
    from pacasam_spark.operators.dedup import lsh_near_dup_pairs

    boiler = [(i, "lorem ipsum dolor sit amet") for i in range(30)]
    dups = [(100, "a unique document about spark engines and scaling"),
            (101, "a unique document about spark engines and scaling")]
    df = spark.createDataFrame(boiler + dups, "doc_id long, text string")

    unguarded = lsh_near_dup_pairs(df)
    assert unguarded.count() == 30 * 29 // 2 + 1  # boilerplate explosion

    guarded = lsh_near_dup_pairs(df, max_bucket_size=10)
    rows = [(r["id_a"], r["id_b"]) for r in guarded.collect()]
    assert rows == [(100, 101)]  # hotspot pruned, true dup kept


def test_lsh_guard_surfaces_dropped_buckets(spark):
    """return_dropped exposes the guarded (band, sig, count) buckets so a
    caller can tell 'no pairs' from 'pairs pruned by the guard'."""
    from pacasam_spark.operators.dedup import lsh_near_dup_pairs

    boiler = [(i, "lorem ipsum dolor sit amet") for i in range(30)]
    dups = [(100, "a unique document about spark engines and scaling"),
            (101, "a unique document about spark engines and scaling")]
    df = spark.createDataFrame(boiler + dups, "doc_id long, text string")

    pairs, dropped = lsh_near_dup_pairs(df, max_bucket_size=10, return_dropped=True)
    assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(100, 101)]
    d = dropped.collect()
    assert len(d) == 4  # all 4 bands of the 30-doc boilerplate bucket
    assert all(r["count"] == 30 for r in d)

    _, none_dropped = lsh_near_dup_pairs(df, return_dropped=True)
    assert none_dropped.count() == 0


def test_ngram_jaccard_pairs_match_brute_force(spark):
    """Exact 3-gram Jaccard pairs == python-set Jaccard over the same
    corpus (round-5 verdict #4: the operator lost its q24 driver gate
    when the registry was consolidated; this is its direct gate now).
    Near-dup copies (one word appended) plant true pairs; docs shorter
    than the shingle order contribute no shingles and so no pairs."""
    from pacasam_spark.operators.dedup import ngram_jaccard_pairs

    base = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    corpus = base.unionByName(
        base.select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended")).alias("text"),
        )
    ).unionByName(
        spark.createDataFrame([(2000, "too short")], "doc_id long, text string")
    )

    def shingles(text: str, n: int = 3) -> set[str]:
        w = [t for t in text.split(" ") if t]
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    docs = {r["doc_id"]: shingles(r["text"]) for r in corpus.collect()}
    ids = sorted(docs)
    brute = sorted(
        (a, b, len(docs[a] & docs[b]), len(docs[a]), len(docs[b]))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if docs[a] & docs[b]
        and len(docs[a] & docs[b]) / len(docs[a] | docs[b]) >= 0.3
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["inter"], r["sz_a"], r["sz_b"])
        for r in ngram_jaccard_pairs(corpus, threshold=0.3).collect()
    )
    assert got == brute and len(got) >= 40  # every planted near-dup pair


def test_stratified_auto_salt_detects_hot_stratum(spark, monkeypatch):
    """salt='auto' must take the salted path exactly when the largest
    stratum exceeds salt_threshold — with output identical to salt=0."""
    import pacasam_spark.operators.sampling as samp

    df = spark.range(10100).select(
        F.col("id").alias("patch_id"),
        F.when(F.col("id") < 10000, "hot").otherwise(
            F.concat(F.lit("s"), (F.col("id") % 5).cast("string"))
        ).alias(S.FILE_ID),
    )
    calls = []
    orig = samp._salted_rank_candidates

    def spy(*a, **k):
        calls.append(a[-1])  # the salt factor
        return orig(*a, **k)

    monkeypatch.setattr(samp, "_salted_rank_candidates", spy)

    plain = sorted(
        r["patch_id"]
        for r in samp.sample_with_stratification(df, 900, seed=3, salt=0).collect()
    )
    assert calls == []

    auto = sorted(
        r["patch_id"]
        for r in samp.sample_with_stratification(
            df, 900, seed=3, salt="auto", salt_threshold=1000
        ).collect()
    )
    assert calls == [10]  # ceil(10000 / 1000) sub-buckets
    assert auto == plain and len(auto) == 900

    # below the threshold: auto stays on the unsalted single-window path
    samp.sample_with_stratification(
        df, 900, seed=3, salt="auto", salt_threshold=50000
    ).collect()
    assert calls == [10]


def test_merge_asof_groups_backward_semantics(spark):
    """Backward as-of: latest right row at-or-before each left row, per
    group; unmatched left rows keep NULLs; duplicate right timestamps
    resolve deterministically (keep-first by remaining cols)."""
    from pacasam_spark.operators.asof import merge_asof_groups

    left = spark.createDataFrame(
        [("u1", 10, "a"), ("u1", 20, "b"), ("u2", 5, "c"), ("u3", 9, "d")],
        "user string, t long, tag string",
    )
    right = spark.createDataFrame(
        [("u1", 10, 100), ("u1", 10, 99), ("u1", 15, 101), ("u2", 7, 102)],
        "user string, t long, rid int",
    )
    got = {
        (r["user"], r["t"]): r["rid"]
        for r in merge_asof_groups(left, right, by="user", on="t").collect()
    }
    assert got == {
        ("u1", 10): 99,   # exact match allowed; tie at t=10 -> min rid
        ("u1", 20): 101,  # latest at-or-before 20
        ("u2", 5): None,  # right exists later only -> no backward match
        ("u3", 9): None,  # group absent on the right
    }
    fwd = {
        (r["user"], r["t"]): r["rid"]
        for r in merge_asof_groups(
            left, right, by="user", on="t", direction="forward"
        ).collect()
    }
    assert fwd[("u2", 5)] == 102 and fwd[("u1", 20)] is None


def test_hamming_near_dup_recall_and_precision(spark):
    """Pigeonhole recall: every pair within max_distance=7 is found
    (8 bands of 8 bits -> at least one band must agree); precision is
    exact via bit_count(xor). Planted dups at distance 2; decoys at
    large distance must not pair."""
    from pacasam_spark.operators.dedup import hamming_near_dup_pairs

    rows = [(i, (i * 0x9E3779B97F4A7C15) & ((1 << 62) - 1)) for i in range(300)]
    rows += [(1000 + i, rows[i][1] ^ 0b101) for i in range(60)]  # dist 2
    df = spark.createDataFrame(rows, "id long, phash long")
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_near_dup_pairs(df, "phash", "id", max_distance=7).collect()
    )
    assert got == [(i, 1000 + i, 2) for i in range(60)]


def test_hamming_near_dup_negative_hashes(spark):
    """Unsigned band extraction: negative int64 fingerprints band
    correctly (the sign bit is just bit 63)."""
    from pacasam_spark.operators.dedup import hamming_near_dup_pairs

    a = -(1 << 63) + 12345  # top bit set
    df = spark.createDataFrame(
        [(1, a), (2, a ^ 3), (3, 0x0F0F0F0F0F0F0F0F)], "id long, phash long"
    )
    got = [(r["id_a"], r["id_b"], r["hamming"])
           for r in hamming_near_dup_pairs(df, "phash", "id").collect()]
    assert got == [(1, 2, 2)]


def test_hamming_bucket_guard_surfaces_dropped(spark):
    from pacasam_spark.operators.dedup import hamming_near_dup_pairs

    # 50 identical hashes -> every band bucket holds 50 rows
    df = spark.createDataFrame([(i, 42) for i in range(50)], "id long, phash long")
    pairs, dropped = hamming_near_dup_pairs(
        df, "phash", "id", max_bucket_size=10, return_dropped=True
    )
    assert pairs.count() == 0
    assert dropped.count() == 8  # all 8 bands guarded
    full = hamming_near_dup_pairs(df, "phash", "id")
    assert full.count() == 50 * 49 // 2


def test_hamming_bucket_guard_matches_brute_force(spark):
    """With one band bucket above max_bucket_size, the guarded pairs are
    exactly a numpy brute force's: every pair within max_distance that
    agrees on at least one band whose bucket is within the cap. The hot
    bucket holds pairs that agree on it alone (distance 7, pruned) and
    pairs that also agree elsewhere (kept); the dropped table lists the
    one hot bucket."""
    from pacasam_spark.operators.dedup import hamming_near_dup_pairs

    rng = np.random.default_rng(12)
    base = rng.integers(0, 1 << 62, 200, dtype=np.int64)
    hot = (rng.integers(0, 1 << 54, 40, dtype=np.int64) << 8) | 0x5A  # band 0 = 0x5A
    only_hot = hot[:10] ^ sum(1 << (8 * b + 3) for b in range(1, 8))
    also_other = hot[10:20] ^ (1 << 20)
    near = base[:30] ^ 0b101
    h = np.concatenate([base, hot, only_hot, also_other, near])
    ids = np.arange(len(h))
    df = spark.createDataFrame(
        [(int(i), int(v)) for i, v in zip(ids, h)], "id long, phash long"
    )
    max_distance, cap = 7, 25
    pairs, dropped = hamming_near_dup_pairs(
        df, "phash", "id", max_distance=max_distance, max_bucket_size=cap,
        return_dropped=True,
    )
    got = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in pairs.collect())

    u = h.view(np.uint64)
    bands = np.stack([(u >> np.uint64(8 * b)) & np.uint64(0xFF) for b in range(8)])
    sizes = [dict(zip(*np.unique(bv, return_counts=True))) for bv in bands]
    want = []
    for i in range(len(h)):
        for j in range(i + 1, len(h)):
            d = bin(int(u[i] ^ u[j])).count("1")
            shared = [
                b for b in range(8)
                if bands[b, i] == bands[b, j] and sizes[b][bands[b, i]] <= cap
            ]
            if d <= max_distance and shared:
                want.append((int(ids[i]), int(ids[j]), d))
    assert got == sorted(want)
    assert len(want) == 40  # 30 planted + 10 sharing a band besides the hot one
    assert [(r["band"], r["band_val"]) for r in dropped.collect()] == [(0, 0x5A)]

    unguarded = hamming_near_dup_pairs(df, "phash", "id", max_distance=max_distance)
    assert unguarded.count() == 50  # the 10 hot-only pairs come back


def test_connected_components_matches_union_find(spark):
    """Alternating large-star/small-star vs a driver-side union-find on a
    random graph plus long chains (multi-hop convergence)."""
    import random

    from pacasam_spark.operators.components import connected_components

    random.seed(11)
    edges = [(i, i + 1) for i in range(100) if (i + 1) % 25 != 0]  # chains of 25
    edges += [
        (random.randrange(200, 320), random.randrange(200, 320)) for _ in range(120)
    ]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {(r["id"], r["component"]) for r in connected_components(e).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            parent[find(a)] = find(b)
    nodes = {n for ab in edges if ab[0] != ab[1] for n in ab}
    roots: dict[int, list[int]] = {}
    for n in nodes:
        roots.setdefault(find(n), []).append(n)
    expect = {(n, min(roots[find(n)])) for n in nodes}
    assert got == expect


@pytest.fixture()
def spark_rounds(monkeypatch):
    """Lower the driver hand-off bound so connected_components runs its
    Spark rounds first and hands the shrunken edge set to the driver."""
    from pacasam_spark.operators import components

    monkeypatch.setattr(components, "DRIVER_EDGES", 4)


def test_connected_components_matches_union_find_spark_rounds(spark, spark_rounds):
    test_connected_components_matches_union_find(spark)


def test_dedup_by_components_keeps_component_minimum(spark):
    from pyspark.sql import functions as F

    from pacasam_spark.operators.components import dedup_by_components

    docs = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    # components {0..9} via a chain, {20, 21} via one pair
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(20, 21)], "id_a long, id_b long"
    )
    kept = sorted(r["doc_id"] for r in dedup_by_components(docs, pairs).collect())
    assert kept == [0] + list(range(10, 21)) + list(range(22, 60))


def test_near_dedup_documents_pipeline(spark):
    """One-call near-dedup: duplicated + slightly-mutated docs collapse
    to one survivor (the min id) per cluster; unrelated docs survive.
    Jaccard verification keeps false LSH collisions from chaining
    clusters."""
    from pacasam_spark.operators.components import near_dedup_documents

    base = [
        (i, " ".join(f"tok{i}w{j}" for j in range(30))) for i in range(20)
    ]
    dups = [(100 + i, t) for i, t in base[:8]]  # exact copies
    mutated = [
        (200 + i, t.replace(f"tok{i}w5", "CHANGED")) for i, t in base[:5]
    ]  # near copies (29/31 shingle overlap)
    df = spark.createDataFrame(base + dups + mutated, "doc_id long, text string")
    kept = sorted(
        r["doc_id"] for r in near_dedup_documents(df, jaccard_threshold=0.6).collect()
    )
    # survivors: the 20 base docs only (copies + mutations clustered in)
    assert kept == [i for i in range(20)]


def test_connected_components_hypothesis_property(spark):
    """Property-based adversarial graphs (hypothesis): arbitrary edge
    lists — self-loops, duplicates, stars, long chains, disconnected
    blobs — always produce exactly the union-find components."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pacasam_spark.operators.components import connected_components

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.lists(
            st.tuples(st.integers(0, 40), st.integers(0, 40)),
            min_size=1,
            max_size=60,
        )
    )
    def run(edges):
        e = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            (r["id"], r["component"])
            for r in connected_components(e, max_rounds=30).collect()
        }
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            if a != b:
                parent[find(a)] = find(b)
        # contract: EVERY id in the pair table gets a row — ids that only
        # appear in self-pairs are their own singleton component
        nodes = {n for ab in edges for n in ab}
        comp: dict[int, list[int]] = {}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        expect = {(n, min(comp[find(n)])) for n in nodes}
        assert got == expect

    run()


def test_connected_components_hypothesis_property_spark_rounds(spark, spark_rounds):
    test_connected_components_hypothesis_property(spark)


def test_simhash_band_pairs_match_brute_force(spark):
    """64-bit SimHash banded pairs == brute-force bit_count(xor) <= 3
    over the signatures (pigeonhole recall over four 16-bit bands,
    exact Hamming filter => precision 1), and the banded candidate
    volume stays far below the all-pairs join it replaces."""
    from pacasam_spark.operators.dedup import simhash64, simhash_band_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 300)
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    ids = sorted(sigs)
    brute = sorted(
        (a, b, bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 3
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_band_pairs(docs).collect()
    )
    assert got == brute and len(got) > 0

    # candidate bound (the round-3 verdict's defect in the 32-bit/8-bit
    # variant: 256-value bands made candidates ~N^2/64): count banded
    # collisions independently in python
    def bands(s):
        u = s & ((1 << 64) - 1)
        return [(k, (u >> (16 * k)) & 0xFFFF) for k in range(4)]

    from collections import Counter

    buckets = Counter(bv for s in sigs.values() for bv in bands(s))
    candidates = sum(m * (m - 1) // 2 for m in buckets.values())
    all_pairs = len(ids) * (len(ids) - 1) // 2
    assert candidates < all_pairs / 2


def test_simhash_bucket_guard_surfaces_dropped(spark):
    """Identical docs collapse onto one signature; the degenerate-bucket
    cap drops the hot band buckets and surfaces them."""
    from pacasam_spark.operators.dedup import simhash_band_pairs

    df = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(50)],
        "doc_id long, text string",
    )
    pairs, dropped = simhash_band_pairs(
        df, max_bucket_size=10, return_dropped=True
    )
    assert pairs.count() == 0
    assert dropped.count() == 4  # all four bands guarded
    full = simhash_band_pairs(df)
    assert full.count() == 50 * 49 // 2  # distance 0 without the cap


def test_simhash_and_hamming_distance_validation(spark):
    from pacasam_spark.operators.dedup import (
        hamming_near_dup_pairs,
        simhash_band_pairs,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_band_pairs(df, max_distance=4)
    hdf = spark.createDataFrame([(1, 42)], "image_id long, phash long")
    with pytest.raises(ValueError, match="max_distance"):
        hamming_near_dup_pairs(hdf, max_distance=64)
    with pytest.raises(ValueError, match="max_distance"):
        hamming_near_dup_pairs(hdf, max_distance=-1)


def test_connected_components_self_loop_only_nodes(spark):
    """Ids appearing ONLY as (x, x) self-pairs still get an output row
    (their own singleton component)."""
    from pacasam_spark.operators.components import connected_components

    e = spark.createDataFrame(
        [(7, 7), (2, 3), (3, 9)], "id_a long, id_b long"
    )
    got = {
        (r["id"], r["component"]) for r in connected_components(e).collect()
    }
    assert got == {(7, 7), (2, 2), (3, 2), (9, 2)}


def test_connected_components_self_loop_only_nodes_spark_rounds(spark, spark_rounds):
    test_connected_components_self_loop_only_nodes(spark)


def _spy_persists(monkeypatch) -> tuple[list[int], list[int]]:
    # patch the concrete class — pyspark 4's pyspark.sql.DataFrame is an
    # abstract facade; instances resolve persist() on classic.DataFrame
    from pyspark.sql.classic.dataframe import DataFrame

    persisted, unpersisted = [], []
    orig_persist, orig_unpersist = DataFrame.persist, DataFrame.unpersist

    def spy_persist(self, *a, **k):
        persisted.append(id(self))
        return orig_persist(self, *a, **k)

    def spy_unpersist(self, *a, **k):
        unpersisted.append(id(self))
        return orig_unpersist(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", spy_persist)
    monkeypatch.setattr(DataFrame, "unpersist", spy_unpersist)
    return persisted, unpersisted


def test_connected_components_releases_every_persist(spark, monkeypatch, spark_rounds):
    """Every DataFrame the Spark rounds persist is unpersisted before the
    (eagerly materialized) result returns — long-lived sessions running
    many dedup batches must not accumulate executor storage."""
    from pacasam_spark.operators.components import connected_components

    persisted, unpersisted = _spy_persists(monkeypatch)
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "id_a long, id_b long"
    )
    out = connected_components(e)
    assert out.count() == 40
    assert set(persisted) <= set(unpersisted)
    assert len(persisted) >= 3  # raw, edges, nodes all pinned during the run


def test_connected_components_driver_path_persists_nothing(spark, monkeypatch):
    """A pair table within the bound is finished on the driver: no
    DataFrame is persisted and no RDD block is left pinned."""
    from pacasam_spark.operators.components import connected_components

    persisted, _ = _spy_persists(monkeypatch)
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "id_a long, id_b long"
    )
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = connected_components(e)
    assert out.count() == 40
    assert persisted == []
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


@pytest.mark.parametrize("bound", [None, 4], ids=["driver", "spark_rounds"])
def test_connected_components_string_ids(spark, monkeypatch, bound):
    """String ids keep their type and the component is the minimum in
    Spark's order (binary UTF-8: 'Z' < 'a' < 'é' < 'Ā')."""
    from pacasam_spark.operators import components

    if bound is not None:
        monkeypatch.setattr(components, "DRIVER_EDGES", bound)
    e = spark.createDataFrame(
        [("é1", "a2"), ("a2", "Z3"), ("Ā4", "é5"), ("é5", "é6"), ("q", "q"),
         ("b7", "b8"), ("b8", "b9"), ("b9", "b10")],
        "id_a string, id_b string",
    )
    out = components.connected_components(e)
    assert out.schema.simpleString() == "struct<id:string,component:string>"
    got = {(r["id"], r["component"]) for r in out.collect()}
    assert got == {
        ("é1", "Z3"), ("a2", "Z3"), ("Z3", "Z3"),
        ("Ā4", "é5"), ("é5", "é5"), ("é6", "é5"),
        ("q", "q"),
        ("b7", "b10"), ("b8", "b10"), ("b9", "b10"), ("b10", "b10"),
    }


def test_connected_components_empty_pairs(spark):
    from pacasam_spark.operators.components import connected_components

    e = spark.createDataFrame([], "id_a long, id_b long")
    out = connected_components(e)
    assert out.schema.simpleString() == "struct<id:bigint,component:bigint>"
    assert out.collect() == []


def test_connected_components_hands_off_after_spark_rounds(spark, monkeypatch):
    """A graph whose first signature count is above the bound runs Spark
    rounds, and the first round whose count falls to the bound finishes
    on the driver: a 1000-node chain plus a dense random blob over 200
    nodes has ~3,800 distinct edges; one round collapses the blob to a
    star while the chain keeps ~1,000 edges, below the bound of 1,500."""
    import random

    from pacasam_spark.operators import components

    rounds, to_driver = [], []
    large_star, min_labels = components._large_star, components._min_labels

    def counting_large_star(*a, **k):
        rounds.append(1)
        return large_star(*a, **k)

    def spy_min_labels(t):
        to_driver.append(t.num_rows)
        return min_labels(t)

    monkeypatch.setattr(components, "_large_star", counting_large_star)
    monkeypatch.setattr(components, "_min_labels", spy_min_labels)
    monkeypatch.setattr(components, "DRIVER_EDGES", 1500)
    random.seed(5)
    edges = [(i, i + 1) for i in range(999)]
    edges += [
        (random.randrange(2000, 2200), random.randrange(2000, 2200))
        for _ in range(3000)
    ]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r["id"], r["component"])
        for r in components.connected_components(e).collect()
    }
    assert len(rounds) >= 1
    assert len(to_driver) == 1 and to_driver[0] <= 1500
    nodes = {n for ab in edges for n in ab}
    blob = {n for n in nodes if n >= 2000}
    assert got == {(n, 0) for n in range(1000)} | {(n, min(blob)) for n in blob}


def test_dedup_by_components_job_budget(spark, job_ids):
    """dedup_by_components over the extract benchmark's near-dup graph
    (500 synthetic images, phash, Hamming <= 7) submits at most 5 Spark
    jobs: the pair table is far below the driver bound, so it is one
    collect of the pairs plan (it was 21 while every graph ran Spark
    rounds), and the bucket guard shuffles the banded rows once (7 jobs
    while a grouped band count was joined back to each join side).
    Counted in the app status store."""
    from pacasam_spark.extract.images import compute_phash
    from pacasam_spark.operators.components import dedup_by_components
    from pacasam_spark.operators.dedup import hamming_near_dup_pairs
    from pacasam_spark.sources.images import synthetic_images

    hashed = compute_phash(synthetic_images(spark, n=500, size=64, lossy_every=4))
    hashed = hashed.persist()
    try:
        hashed.count()
        pairs = hamming_near_dup_pairs(
            hashed, hash_col="phash", id_col="image_id", max_distance=7
        )
        last = max(job_ids(), default=-1)
        survivors = dedup_by_components(hashed, pairs, id_col="image_id")
        jobs = len({j for j in job_ids() if j > last})
        assert 0 < survivors.count() < 500
    finally:
        hashed.unpersist()
    assert jobs <= 5, f"{jobs} Spark jobs"


def test_gopher_quality_flags_each_rule(spark):
    """Each Gopher rule trips on its crafted offender and only that
    offender's flag goes false; the clean doc keeps everything."""
    from pacasam_spark.operators.text import gopher_quality_flags

    clean = "the quick brown fox is happy and it runs to the forest for fun"
    rows = [
        (1, clean),                                     # keeps
        (2, "the of and"),                              # too few words
        (3, " ".join(["supercalifragilistic"] * 12)),   # mean len + stopwords
        (4, "\n".join(["- item the of it is"] * 10)),   # bullets + repetition
        (5, "\n".join(f"the line number {i} is..." for i in range(10))),  # ellipsis
        (6, "the 1 2 3 4 5 6 7 8 9 0 1 2 3 4 is of"),   # alpha frac
        (7, ""),                                        # empty: fails, no NULLs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_quality_flags(df, min_words=5, max_words=100).collect()
    }
    assert got[1]["keep"] is True
    assert got[2]["ok_n_words"] is False
    assert got[3]["ok_mean_len"] is False and got[3]["ok_stopwords"] is False
    assert got[4]["ok_bullets"] is False and got[4]["ok_repetition"] is False
    assert got[5]["ok_ellipsis"] is False
    assert got[6]["ok_alpha"] is False
    # empty doc: every field is a real boolean (no NULL/NaN leakage)
    assert got[7]["keep"] is False and got[7]["ok_n_words"] is False
    for k, v in got[7].items():
        assert v is not None, k


def test_star_round_flag_equivalence(spark):
    """Round-8 optimization invariant: dropping the intermediate
    distincts (large-star dedup, small-star orientation) changes no
    round's edge SET — duplicates cannot move group mins and the
    round-final distinct removes them, while every large-star output row
    already satisfies u > v so orientation is a no-op."""
    from pyspark.sql import functions as F

    from pacasam_spark.operators.components import _large_star, _small_star

    edges = spark.createDataFrame(
        [(a, b) for a, b in [(1, 2), (2, 3), (3, 4), (9, 4), (7, 8), (8, 9),
                             (12, 11), (11, 10), (5, 6), (6, 7), (2, 5)]],
        "u long, v long",
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    ls_slow = _large_star(sym, dedup=True)
    ls_fast = _large_star(sym, dedup=False)
    # large-star fast output: same SET, and strictly u > v on every row
    assert {tuple(r) for r in ls_fast.distinct().collect()} == {
        tuple(r) for r in ls_slow.collect()
    }
    assert ls_fast.filter(F.col("u") <= F.col("v")).count() == 0
    slow = {tuple(r) for r in _small_star(ls_slow, oriented=False).collect()}
    fast = {tuple(r) for r in _small_star(ls_fast, oriented=True).collect()}
    assert slow == fast
