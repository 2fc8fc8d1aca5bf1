"""Connected components over a pair table — near-dup PAIRS become dedup
GROUPS (keep one doc per component), the step every web-scale dedup
pipeline runs after LSH candidate generation. pacasam itself never
clusters (reference README.md:198 — per-patch decisions only); this is
engine surface the training-data axes require.

Two phases, split by the edge count:

- **Spark rounds**, only while the edge set holds more than
  ``DRIVER_EDGES`` rows: alternating large-star / small-star (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SOCC'14), each
  phase one groupBy(min) + one equi-join. It converges in O(log^2 n)
  rounds on ANY graph shape (vs O(diameter) for naive min-label
  propagation) and the edge count never exceeds O(n + m). Every round
  preserves connectivity, so any round's edge set has the components
  of the input.
- **Driver finish**, once the edge set holds at most ``DRIVER_EDGES``
  rows: the edges are collected as Arrow and labelled by a vectorised
  numpy union-find (hook-to-min plus pointer jumping) over the ids
  factorised in sorted order, so the smallest index is the smallest id
  in Spark's order (binary UTF-8 for strings). A pair table that small
  from the start — a near-dup graph over a few thousand images — costs
  one collect of the pairs plan and a ``createDataFrame``, no round at
  all; the round's signature job already yields the count that decides
  the hand-off.

Result contract: (id, component) for every non-null id that appears in
the pair table, component = MIN id reachable, with the id's type —
deterministic at any partitioning, so it is DuckDB-oracle-checkable with
a recursive CTE (driver q48/q49).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Edge sets up to this many rows finish on the driver: 2^20 pairs of
# 64-bit ids are 16 MB of Arrow plus a few int64 work arrays.
DRIVER_EDGES = 1 << 20


def _large_star(sym: DataFrame, dedup: bool = True) -> DataFrame:
    """sym: symmetric (u, v) edges, u != v. Connect each node's strictly
    larger neighbors to min(neighborhood ∪ {u}).

    ``dedup=False`` skips the trailing ``distinct`` (one whole shuffle):
    duplicate (u, v) rows — several neighbors of u sharing the same min —
    change nothing downstream (mins are duplicate-insensitive, small-star
    ends in its own distinct) and the intermediate stays bounded by |sym|,
    so the round-final distinct is the only dedup the round needs."""
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    out = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    return out.distinct() if dedup else out


def _small_star(edges: DataFrame, oriented: bool = False) -> DataFrame:
    """edges: undirected pair list. Orient each edge large->small, then
    connect each node and its smaller neighbors to the minimum.

    ``oriented=True`` declares the input already satisfies u > v — true
    for every :func:`_large_star` output row, whose u is a strictly
    larger neighbor and whose v is a neighborhood minimum — skipping the
    orientation projection AND its distinct (a whole shuffle; duplicate
    rows cannot change the group mins or the final distinct output)."""
    if oriented:
        directed = edges
    else:
        directed = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    to_min = directed.join(mins, "u")
    part1 = to_min.select(F.col("v").alias("u"), F.col("m").alias("v"))
    part2 = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        part1.unionByName(part2).filter(F.col("u") != F.col("v")).distinct()
    )


def _min_labels(edges: pa.Table) -> pa.Table:
    """(id, component) for every non-null id in the Arrow edge table
    ``edges(u, v)``, component = min id reachable.

    The ids are factorised in sorted order (Arrow sorts strings by their
    UTF-8 bytes, as Spark does), so a smaller index is a smaller id.
    Union-find by hook-to-min: every edge whose endpoints sit in
    different trees hooks the larger root under the smaller one, then
    pointer jumping flattens every tree onto its root. Roots only ever
    hook under smaller roots, so a root is the minimum of its tree, and
    once no edge crosses two trees the trees are the components."""
    ends = pa.chunked_array(edges["u"].chunks + edges["v"].chunks, edges["u"].type)
    ids = pc.unique(ends).drop_null()
    ids = ids.take(pc.array_sort_indices(ids))
    pos = pc.fill_null(pc.index_in(ends, value_set=ids), -1).to_numpy()
    a, b = np.split(pos, 2)
    keep = (a >= 0) & (b >= 0)  # an edge with a null end links nothing
    a, b = a[keep], b[keep]
    parent = np.arange(len(ids))
    while True:
        ra, rb = parent[a], parent[b]
        cross = ra != rb
        if not cross.any():
            break
        a, b, ra, rb = a[cross], b[cross], ra[cross], rb[cross]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
    return pa.table({"id": ids, "component": ids.take(pa.array(parent))})


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """(id, component) for every id in ``pairs`` — including ids that
    only ever appear in self-pairs (u = v), which form singleton
    components; component is the min reachable id.

    A pair table of at most ``DRIVER_EDGES`` rows is collected once and
    finished on the driver (:func:`_min_labels`); the result is a
    ``createDataFrame`` of the driver's table and nothing is persisted.
    A larger one runs large-star/small-star rounds until the edge count
    falls to the bound (then that round's edges finish on the driver) or
    the edge set is a fixed point (checked by count + order-independent
    checksum — two scalars per round). That result is materialized
    (eager localCheckpoint) before returning and every intermediate
    persist is released here — nothing leaks into long-lived sessions
    running many dedup batches (the result's own blocks are reclaimed by
    the ContextCleaner when the caller drops the DataFrame)."""
    spark = pairs.sparkSession
    raw = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    id_type = raw.schema["u"].dataType
    schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )

    def on_driver(edges: pa.Table) -> DataFrame:
        return spark.createDataFrame(_min_labels(edges), schema)

    # one collect reads the whole pair table when it fits the bound (a
    # count first would cost jobs of its own)
    head = raw.limit(DRIVER_EDGES + 1).toArrow()
    if head.num_rows <= DRIVER_EDGES:
        return on_driver(head)

    # the upstream pairs plan (often a full LSH candidate pipeline) is
    # read twice — once for edges, once for nodes — so pin it rather
    # than recompute it
    raw = raw.persist()
    edges = (
        raw.filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    # from RAW pairs, before the self-loop filter: ids appearing only as
    # (x, x) still get an output row (their own singleton component)
    nodes = (
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id")))
        .filter(F.col("id").isNotNull())
        .distinct()
        .persist()
    )

    def signature(e: DataFrame):
        row = e.select(
            F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")
        ).agg(
            F.count("*").alias("n"),
            # bit_xor: order-independent and cannot overflow (ANSI mode
            # raises on a plain sum of 64-bit hashes)
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    sig = signature(edges)
    for _ in range(max_rounds):
        if sig[0] <= DRIVER_EDGES:
            assign = on_driver(edges.toArrow())
            break
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # localCheckpoint truncates the logical plan each round — without
        # it Catalyst re-analyzes a plan that DOUBLES per iteration and
        # round wall-time explodes (3.8s -> 23s -> minutes by round 3).
        # Blocks live on executors (ContextCleaner reclaims dropped
        # rounds); for fault-tolerant long chains on a real cluster, set
        # a checkpoint dir and swap for .checkpoint() — same contract.
        # Measured dead end, do not retry: fusing TWO star pairs per
        # checkpoint to halve the barriers runs ~3x SLOWER — each star
        # phase references its input subtree several times (mins + join
        # + both small-star branches), and an UNmaterialized first pair
        # gets re-executed once per reference; the per-round checkpoint
        # is precisely what makes multi-reference rounds cheap.
        # For the same reason the LARGE-star output is checkpointed
        # WITHIN the round (lazily — no extra job): small-star references
        # it three times (mins build, to_min probe, part2), and without
        # materialization each reference re-executed the whole large-star
        # subtree (3 extra exchange pairs per round in the plan).
        # dedup/oriented flags: both intermediate distincts are provably
        # redundant (see the star helpers) — round cost drops from ~8
        # shuffle stages to ~5 with an identical fixed point.
        ls = _large_star(sym, dedup=False).localCheckpoint(eager=False)
        nxt = _small_star(ls, oriented=True).localCheckpoint(eager=False)
        nxt_sig = signature(nxt)
        edges.unpersist()
        edges = nxt
        if nxt_sig == sig:
            # fixed point is a forest of stars (child -> component min)
            assign = edges.select(
                F.col("u").alias("id"), F.col("v").alias("component")
            )
            break
        sig = nxt_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )

    # ids outside the last edge set (roots of the star forest, self-pair
    # only ids) are their own component
    out = (
        nodes.join(assign, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
        .localCheckpoint(eager=True)
    )
    # release the blocks the iteration pinned: the loop unpersists each
    # round's predecessor, so only `nodes` (and, if the loop never ran,
    # the initial `edges`) are still cached; checkpointed rounds are
    # RDD blocks the ContextCleaner reclaims once unreferenced
    edges.unpersist()
    nodes.unpersist()
    raw.unpersist()
    return out


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one row per near-dup component: the component minimum (plus
    every row that is in no pair). The standard LSH-dedup tail."""
    comp = connected_components(pairs, src, dst)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def near_dedup_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    min_shared_bands: int = 2,
    jaccard_threshold: float | None = 0.7,
    max_bucket_size: int = 10000,
) -> DataFrame:
    """The full web-corpus near-dedup pipeline in one call:
    MinHash-LSH candidates -> (optional) exact n-gram-Jaccard verify on
    the candidate pairs only -> connected components -> keep the minimum
    id per duplicate cluster. Every stage is the bounded-join shape the
    individual operators guarantee (candidates linear in N via the
    bucket cap, Jaccard computed ONLY on candidates, clustering in
    O(log^2 n) rounds) — the composition stays 100 TB-safe.

    jaccard_threshold=None skips verification and clusters raw LSH
    candidates (recall-leaning); with a threshold, false LSH collisions
    cannot chain unrelated documents into one cluster (precision-leaning
    — the mode real pipelines run)."""
    from pacasam_spark.operators.dedup import lsh_near_dup_pairs, shingle_table

    pairs = lsh_near_dup_pairs(
        df,
        text_col,
        id_col,
        n=n,
        bands=bands,
        min_shared_bands=min_shared_bands,
        max_bucket_size=max_bucket_size,
    )
    if jaccard_threshold is not None:
        sh = shingle_table(df, text_col, id_col, n)
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
        inter = (
            pairs.select("id_a", "id_b")
            .join(sh.select(F.col(id_col).alias("id_a"), "shingle"), "id_a")
            .join(sh.select(F.col(id_col).alias("id_b"), "shingle"), ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
        pairs = (
            inter.join(
                sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")),
                "id_a",
            )
            .join(
                sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")),
                "id_b",
            )
            .filter(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                >= jaccard_threshold
            )
        )
    return dedup_by_components(df, pairs, id_col=id_col)
