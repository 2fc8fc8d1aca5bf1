"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: exact baseline. The query side is small and
  broadcast; dot products are pure column expressions (zip_with +
  aggregate = left fold, bitwise-reproducible and identical to DuckDB's
  list_reduce fold — no UDF, no Python).
- LSH-bucketed variant (scale path): deterministic random-hyperplane
  signs derived from md5 bits of the dimension index; candidates meet in
  bucket equi-joins instead of a full cross product.

At 100 TB the brute-force path is O(Q x N) on the cluster — fine for
small Q (its job is ground truth); the LSH path is the production ANN.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pacasam_spark.operators.dedup import bounded_buckets, dropped_buckets


def _dot(a: Column, b: Column) -> Column:
    """Exact left-fold double dot product (matches DuckDB list_reduce)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.
    queries: (q_id, q_vec) — small, broadcast; emb: the big side."""
    joined = emb.join(F.broadcast(queries)).filter(F.col("q_id") != F.col(id_col))
    cos = _dot(F.col(vec_col), F.col("q_vec")) / (
        _norm(F.col(vec_col)) * _norm(F.col("q_vec"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), id_col)
    return (
        joined.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col(id_col).alias("neighbor_id"), "cos", "rank")
    )


def cosine_pairs_above(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup detection).
    Exact O(N^2) — the oracle-checkable baseline; at scale run it on LSH
    candidates from :func:`hyperplane_lsh_buckets` instead."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    joined = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        joined.withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def hyperplane_signs(plane: int, dim: int) -> list[float]:
    """The +-1 entries of hyperplane ``plane`` as Python floats — the same
    md5 rule as :func:`_hyperplane_sign` (which Catalyst constant-folds to
    these values). Used to generate the DuckDB oracle's sign literals."""
    import hashlib

    return [
        1.0
        if hashlib.md5(f"p{plane}d{d}".encode()).hexdigest()[0] >= "8"
        else -1.0
        for d in range(dim)
    ]


def ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF coarse centroids: the ``n_centroids`` vectors
    with the smallest det_hash(id) — a seeded uniform draw, reproducible
    at any partitioning and expressible in the DuckDB oracle (unlike
    k-means, whose iteration order isn't). TakeOrdered of a handful of
    rows; the centroid table broadcasts everywhere downstream."""
    from pacasam_spark.operators.hashing import det_hash

    return (
        emb.orderBy(det_hash(id_col, seed), F.col(id_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    )


def ivf_centroids_pp(
    emb: DataFrame,
    n_centroids: int = 16,
    seed: int = 7,
    n_candidates: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """kmeans++-style deterministic seeding: hash-sample a candidate set
    (``n_candidates``, default 4k, smallest det_hash — a seeded uniform
    draw like :func:`ivf_centroids`), take the first candidate, then
    greedily add the candidate FARTHEST (max-min cosine distance, ties
    to the smaller id) from the chosen set — the derandomized k-means++
    variant (greedy farthest-point over a sampled candidate pool; the
    classic algorithm's D²-weighted random draw replaced by argmax so
    the pick is a pure function of the candidate set).

    Scale + determinism: the candidate pull is a TakeOrdered of 4k rows
    (bounded driver barrier, k*dim doubles — same class as the Lloyd
    barrier in operators/kmeans.py); the FPS loop then runs driver-side
    over those rows using sequential left-fold double arithmetic, which
    is bit-identical to the _dot/_norm column expressions AND to the
    DuckDB oracle's list_reduce fold — so the chosen seeds (and every
    downstream Lloyd round) replay exactly in SQL (q53's oracle unrolls
    these same greedy steps)."""
    import math

    from pacasam_spark.operators.hashing import det_hash

    if n_candidates is None:
        n_candidates = 4 * n_centroids
    rows = (
        emb.orderBy(det_hash(id_col, seed), F.col(id_col))
        .limit(n_candidates)
        .select(id_col, vec_col)
        .collect()
    )
    cands = [(int(r[id_col]), [float(x) for x in r[vec_col]]) for r in rows]
    if len(cands) < n_centroids:
        raise ValueError(
            f"need >= {n_centroids} candidate vectors, got {len(cands)}"
        )

    def cosd(a: list[float], b: list[float]) -> float:
        # sequential left folds: same rounding as F.aggregate / DuckDB
        # list_reduce (0.0 + x == x exactly, so the missing init of
        # list_reduce changes nothing)
        dot = 0.0
        for x, y in zip(a, b):
            dot = dot + x * y
        na = 0.0
        for x in a:
            na = na + x * x
        nb = 0.0
        for y in b:
            nb = nb + y * y
        return 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))

    first_id, first_vec = cands[0]
    chosen = [(first_id, first_vec)]
    # min distance to the chosen set per remaining candidate; the
    # incremental min equals SQL's min() over the full chosen set
    dmin = {cid: cosd(vec, first_vec) for cid, vec in cands[1:]}
    vecs = dict(cands)
    while len(chosen) < n_centroids:
        # argmax min-distance, ties to the smaller id (oracle:
        # ORDER BY dmin DESC, vec_id LIMIT 1)
        pick = max(dmin, key=lambda cid: (dmin[cid], -cid))
        chosen.append((pick, vecs[pick]))
        del dmin[pick]
        for cid in dmin:
            d = cosd(vecs[cid], vecs[pick])
            if d < dmin[cid]:
                dmin[cid] = d
    return emb.sparkSession.createDataFrame(
        chosen, "c_id long, c_vec array<double>"
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell id per vector = argmax-cosine centroid (ties -> smaller c_id).
    One broadcast join + a map-side max-struct aggregation."""
    cos = _dot(F.col(vec_col), F.col("c_vec")) / (
        _norm(F.col(vec_col)) * _norm(F.col("c_vec"))
    )
    joined = emb.join(F.broadcast(centroids)).withColumn("__cos", cos)
    # min(vec) not first(vec): groups are single-vector (one row per
    # centroid of the SAME vector), so any pick is equal — but first() is
    # formally non-deterministic and would turn fragile under refactor.
    best = joined.groupBy(id_col).agg(
        F.max(F.struct(F.col("__cos"), (-F.col("c_id")).alias("__nci"))).alias("__b"),
        F.min(vec_col).alias(vec_col),
    )
    return best.select(id_col, vec_col, (-F.col("__b.__nci")).alias("cell"))


def ivf_cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> DataFrame:
    """IVF ANN top-k: vectors meet their queries in a cell equi-join
    (each query probes its ``nprobe`` highest-cosine centroids), exact
    re-rank inside. With nprobe = n_centroids this is EXACTLY the brute
    force result (every cell probed) — the property the pytest gate uses.
    100 TB shape: centroid table broadcast, one shuffle on cell id.

    ``refine_iters > 0`` runs that many Lloyd rounds over the seed draw
    (operators/kmeans.py) before building the index — the FAISS-style
    coarse-quantizer training that tightens cells and evens their sizes;
    the exhaustive-probe == brute-force identity holds for ANY codebook,
    so the correctness gate is codebook-independent."""
    if refine_iters > 0:
        from pacasam_spark.operators.kmeans import kmeans_fit

        cent = kmeans_fit(emb, n_centroids, refine_iters, seed, id_col, vec_col)
    else:
        cent = ivf_centroids(emb, n_centroids, seed, id_col, vec_col)
    data_cells = ivf_assign(emb, cent, id_col, vec_col)

    qcos = _dot(F.col("q_vec"), F.col("c_vec")) / (
        _norm(F.col("q_vec")) * _norm(F.col("c_vec"))
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("__qcos"), "c_id")
    probes = (
        queries.join(F.broadcast(cent))
        .withColumn("__qcos", qcos)
        .withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= nprobe)
        .select("q_id", "q_vec", F.col("c_id").alias("cell"))
    )

    cand = data_cells.join(F.broadcast(probes), on="cell").filter(
        F.col("q_id") != F.col(id_col)
    )
    cos = _dot(F.col(vec_col), F.col("q_vec")) / (
        _norm(F.col(vec_col)) * _norm(F.col("q_vec"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), id_col)
    return (
        cand.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col(id_col).alias("neighbor_id"), "cos", "rank")
    )


def _hyperplane_sign(vec: Column, plane: int, dim: int) -> Column:
    """Sign of <vec, h_plane> where h_plane has deterministic ±1 entries:
    entry d = +1 iff the first hex digit of md5('p{plane}d{d}') >= '8'.
    No stored planes, no RNG state — reproducible anywhere."""
    signs = F.array(
        *[
            F.when(
                F.substring(F.md5(F.lit(f"p{plane}d{d}")), 1, 1).isin(
                    "8", "9", "a", "b", "c", "d", "e", "f"
                ),
                F.lit(1.0),
            ).otherwise(F.lit(-1.0))
            for d in range(dim)
        ]
    )
    dot = F.aggregate(
        F.zip_with(vec, signs, lambda x, s: x.cast("double") * s),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (dot >= 0).cast("int")


def _bucket_expr(vec: Column, n_planes: int, dim: int, table: int = 0) -> Column:
    """n_planes sign bits packed into an int; plane ids are offset by the
    table index so every table is an independent hash family."""
    bucket = None
    for p in range(n_planes):
        bit = _hyperplane_sign(vec, table * n_planes + p, dim) * (1 << p)
        bucket = bit if bucket is None else bucket + bit
    return bucket


def hyperplane_lsh_buckets(
    emb: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: int = 0,
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector: n_planes sign bits
    packed into an int. Vectors with high cosine collide with high
    probability; ANN = groupBy/join on bucket, then exact re-rank."""
    bucket = _bucket_expr(F.col(vec_col), n_planes, dim, table)
    return emb.select(id_col, vec_col, bucket.alias("bucket"))


def lsh_table_buckets(
    df: DataFrame,
    n_planes: int,
    n_tables: int,
    dim: int,
    keep_cols: list[str],
    vec_col: str,
    multi_probe: bool = False,
) -> DataFrame:
    """One row per (vector, table[, probe]) with that table's bucket id.

    All L*r plane dots are computed in ONE ``transform`` over the literal
    sign matrix: the lambda is code-generated once and looped, instead of
    inlining L*r copies of a 64-element fold (which blows past the JIT
    method limit and falls back to interpreted evaluation — measured 5x
    slower). Fold order per plane is identical to _hyperplane_sign —
    bitwise-same buckets. With ``multi_probe`` each table also emits the
    n_planes flip-one-bit probe buckets (query side of ANN)."""
    planes = [
        hyperplane_signs(t * n_planes + p, dim)
        for t in range(n_tables)
        for p in range(n_planes)
    ]
    smat = F.array(*[F.array(*[F.lit(s) for s in row]) for row in planes])
    dots = F.transform(
        smat,
        lambda srow: F.aggregate(
            F.zip_with(F.col(vec_col), srow, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )

    # The probe structs are built by LOOPED lambdas with the bucket value
    # LET-BOUND per table (the one-element-array transform trick), so:
    # (a) each table's bucket is computed exactly once per row — naive
    #     per-struct expressions recompute it (or, worse, the whole dots
    #     array after projection collapse: measured 3.5x slower), and
    # (b) generated code stays loop-shaped and small — inlining the
    #     bucket fold into each of the L*(r+1) explode structs produced a
    #     ~12k-line generate_doConsume that janino REJECTS (method too
    #     large) and the stage silently fell back to interpreted eval.
    def bucket_of(t: Column) -> Column:
        # MSB-first integer fold: acc*2 + bit  ==  sum(bit_p << p).
        # The accumulator is a LONG: an int fold overflows (ANSI raises)
        # once n_planes reaches 32, and auto-derived plane counts grow
        # with corpus size.
        return F.aggregate(
            F.sequence(F.lit(n_planes - 1), F.lit(0), F.lit(-1)),
            F.lit(0).cast("long"),
            lambda acc, p: acc * 2
            + (F.element_at(F.col("__dots"), t * n_planes + p + 1) >= 0).cast(
                "long"
            ),
        )

    if multi_probe:
        # per table: [base, flip bit 0, ..., flip bit r-1]
        def table_probes(t: Column) -> Column:
            return F.flatten(
                F.transform(
                    F.array(bucket_of(t)),  # let-binds b = bucket(t)
                    lambda b: F.transform(
                        F.sequence(F.lit(-1), F.lit(n_planes - 1)),
                        lambda i: F.struct(
                            t.alias("tbl"),
                            F.when(i < 0, b)
                            .otherwise(
                                b.bitwiseXOR(
                                    F.pow(F.lit(2.0), i.cast("double")).cast("long")
                                )
                            )
                            .alias("bucket"),
                        ),
                    ),
                )
            )

    else:
        def table_probes(t: Column) -> Column:
            return F.array(
                F.struct(t.alias("tbl"), bucket_of(t).alias("bucket"))
            )

    probe_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_tables - 1)), table_probes
        )
    )
    return (
        df.withColumn("__dots", dots)
        .select(*keep_cols, F.explode(probe_arr).alias("__tb"))
        .select(
            *keep_cols,
            F.col("__tb.tbl").alias("tbl"),
            F.col("__tb.bucket").alias("bucket"),
        )
    )


def lsh_cosine_pairs_above(
    emb: DataFrame,
    threshold: float,
    n_planes: int | str = "auto",
    n_tables: int = 24,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 10000,
    target_bucket_size: int = 1024,
    return_dropped: bool = False,
    corpus_count: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs at scale: candidates share a (table,
    bucket) — the LSH replacement for :func:`cosine_pairs_above`'s exact
    O(N^2) join. Exact cosine filter on candidates, so every emitted pair
    is a TRUE >= threshold pair (precision 1); recall per true pair with
    per-plane disagreement p is 1 - (1 - (1-p)^r)^L.

    Candidate volume is quadratic PER BUCKET (a bucket of m vectors emits
    m^2/2 join rows), so bounding it needs both knobs this function has:

    - ``n_planes="auto"`` derives r = ceil(log2(N / target_bucket_size)),
      so the expected bucket occupancy N/2^r stays near
      ``target_bucket_size`` at ANY corpus size (r grows with the data —
      a fixed small r degenerates to ~L*N^2/2^{r+1} candidates, worse
      than the exact join it replaces). N comes from ``corpus_count``
      when the caller already knows it (skipping a full count job over a
      possibly-uncached plan), else from one ``emb.count()``. r is
      capped at 62 — the bucket id is a signed-long bit fold, and
      2^62 buckets is already far beyond any real corpus (10^12 rows /
      target 1 ⇒ r = 40).
    - ``max_bucket_size`` drops over-full buckets BEFORE the self-join
      (same guard as dedup.lsh_near_dup_pairs): boilerplate/duplicate-
      heavy corpora hash huge clusters into one bucket regardless of r.
      With the cap, candidates <= L * N * max_bucket_size / 2 — linear
      in N, never quadratic.

    Dropping a hot bucket silently loses its true pairs, so the
    truncation is surfaced: with ``return_dropped=True`` returns
    ``(pairs, dropped)`` where ``dropped`` is the (tbl, bucket, count)
    table of guarded buckets (empty when nothing was cut).

    Memory shape note: the ``.distinct()`` dedup of multi-table
    collisions is itself a shuffle over ALL candidate rows (incl. both
    vectors) — the price of not re-scoring a pair L times. If candidate
    volume ever dominates, trade it for recompute by deduping on
    (id_a, id_b) only and re-joining the vectors."""
    if n_planes == "auto":
        import math

        n = corpus_count if corpus_count is not None else emb.count()
        n_planes = min(
            62, max(1, math.ceil(math.log2(max(2.0, n / target_bucket_size))))
        )
    tb = lsh_table_buckets(emb, n_planes, n_tables, dim, [id_col, vec_col], vec_col)
    bounded = bounded_buckets(tb, ["tbl", "bucket"], max_bucket_size)
    a = bounded.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "tbl", "bucket"
    )
    b = bounded.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "tbl", "bucket"
    )
    cand = (
        a.join(b, on=["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb")
        .distinct()  # a pair can collide in several tables
    )
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    pairs = (
        cand.withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
    if return_dropped:
        return pairs, dropped_buckets(tb, ["tbl", "bucket"], max_bucket_size)
    return pairs


def lsh_cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: bool = True,
) -> DataFrame:
    """ANN top-k: multi-table, multi-probe hyperplane LSH + exact cosine
    re-rank of the candidates. The production shape for 100 TB: every
    candidate meets in a (table, bucket) EQUI-join — never a cross
    product.

    Recall for a neighbour whose per-plane disagreement probability is p:
    per table P(hamming <= 1) = (1-p)^r + r*p*(1-p)^(r-1) with multi-probe
    (flip-one-bit), and 1 - (1 - that)^L over L tables — tune (r, L) to
    the data. Defaults hit recall >= 0.9 even on near-random vectors
    (p ~ 0.4, the hardest case; clustered production embeddings prune far
    better). Deterministic: planes derive from md5 bits, no RNG state.
    """
    data_tb = lsh_table_buckets(emb, n_planes, n_tables, dim, [id_col, vec_col], vec_col)
    q_tb = lsh_table_buckets(
        queries, n_planes, n_tables, dim, ["q_id", "q_vec"], "q_vec",
        multi_probe=multi_probe,
    )

    cand = (
        data_tb.join(F.broadcast(q_tb), on=["tbl", "bucket"])
        .filter(F.col("q_id") != F.col(id_col))
        .select("q_id", "q_vec", id_col, vec_col)
        .distinct()  # a pair can collide in several tables/probes;
        # this dedup shuffles the full candidate set (vectors included) —
        # bounded by Q * per-query collisions, cheap for ANN's small Q
    )
    cos = _dot(F.col(vec_col), F.col("q_vec")) / (
        _norm(F.col(vec_col)) * _norm(F.col("q_vec"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), id_col)
    return (
        cand.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col(id_col).alias("neighbor_id"), "cos", "rank")
    )
