"""Round-8 optimization profiler (guide §1): stage-level decomposition of
the expensive bench entries, with noop-sink isolation where applicable.

Does NOT replace bench.py (frozen). Run:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py [section ...]
Sections: triple q49 q06 q11 q16. Default: all.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class T:
    """Named wall-clock section timer."""

    def __init__(self):
        self.rows: list[tuple[str, float]] = []

    def __call__(self, name):
        self.name, self.t0 = name, time.perf_counter()
        return self

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        dt = time.perf_counter() - self.t0
        self.rows.append((self.name, dt))
        print(f"    {self.name:45s} {dt:7.3f}s", flush=True)


def profile_triple(spark, sf_dir):
    """The TripleSampler pipeline, stage by stage, mirroring bench.py:
    each leg collects its selection as a driver-side Arrow table."""
    from pacasam_spark.operators.union import union_first_wins
    from pacasam_spark.samplers.diversity import DiversitySampler
    from pacasam_spark.samplers.spatial import SpatialSampler
    from pacasam_spark.samplers.targetted import TargettedSampler
    from pacasam_spark.samplers.triple import diversity_budget
    from pacasam_spark.sources.synthetic import synthetic_catalogue

    cfg = {
        "target_total_num_patches": 20000,
        "frac_validation_set": 0.1,
        "TargettedSampler": {
            "targets": {
                "C0": {"target_min_samples_proportion": 0.20},
                "C1": {"target_min_samples_proportion": 0.05},
                "C2": {"target_min_samples_proportion": 0.05},
                "C3": {"target_min_samples_proportion": 0.2},
            }
        },
        "DiversitySampler": {
            "max_chunk_size_for_fps": 20000,
            "normalization": "standardization",
            "columns": [
                "nb_sol", "nb_bati", "nb_vegetation_basse",
                "nb_vegetation_moyenne", "nb_vegetation_haute",
                "nb_pont", "nb_eau", "nb_sursol_perenne", "nb_non_classes",
            ],
        },
    }
    db = synthetic_catalogue(spark, db_size=400000, exact_counts=False)
    db.cache().count()
    t = T()
    print("  [triple] stage decomposition (1 run, warm cache)")
    t_all0 = time.perf_counter()
    with t("targetted: build+collect"):
        ts = TargettedSampler(
            db, cfg, seed=42, complete_with_spatial_sampling=False
        )
        targetted = ts.get_selection()
    num_diverse = diversity_budget(20000, targetted.num_rows)
    ds = DiversitySampler(db, cfg, seed=43)
    with t(f"diversity({num_diverse}): build+collect"):
        diverse = ds.get_selection(num_to_sample=num_diverse)
    with t("union(t,d) on the driver"):
        selection = union_first_wins([targetted, diverse])
    with t("spatial completion"):
        ss = SpatialSampler(db, cfg, seed=44)
        others = ss.get_selection(
            num_to_sample=20000 - selection.num_rows,
            current_selection_ids=selection,
        )
        final = union_first_wins([selection, others])
    n = final.num_rows
    print(f"    TOTAL {time.perf_counter() - t_all0:7.3f}s  n={n}")
    db.unpersist()
    spark.catalog.clearCache()


def profile_triple_sub(spark, sf_dir):
    """Sub-stage detail: one targetted branch + diversity internals."""
    from pacasam_spark.operators.fps import fps_sample
    from pacasam_spark.operators.normalize import CatalogueProfile, standardize
    from pacasam_spark.operators.sampling import sample_with_stratification
    from pacasam_spark.operators.split import assign_split
    from pacasam_spark.sources.synthetic import synthetic_catalogue

    cols = [
        "nb_sol", "nb_bati", "nb_vegetation_basse", "nb_vegetation_moyenne",
        "nb_vegetation_haute", "nb_pont", "nb_eau", "nb_sursol_perenne",
        "nb_non_classes",
    ]
    db = synthetic_catalogue(spark, db_size=400000, exact_counts=False)
    db.cache().count()
    t = T()
    print("  [triple-sub] one targetted branch (C1, quota=1000)")
    matching = db.filter(F.col("C1")).select("patch_id", "file_id")
    with t("stratified sample: construct (salt probe)"):
        sel = sample_with_stratification(matching, 1000, keys="file_id", seed=42)
    with t("stratified sample: noop run"):
        noop(sel)
    with t("collect + assign_split on the driver"):
        assign_split(sel.toArrow(), 0.1, keys="file_id", seed=43)
    spark.catalog.clearCache()
    db.cache().count()
    print("  [triple-sub] diversity internals (n=8000)")
    sub = db.select("patch_id", "file_id", *cols)
    profile = CatalogueProfile.of(sub, cols)
    with t("standardize profile pass (stats .first)"):
        normed = standardize(sub, cols, stats=profile)
    with t("fps_sample: construct (profile totals)"):
        fps = fps_sample(
            normed, 8000, feature_cols=cols, max_chunk_size=20000, profile=profile
        )
    with t("fps_sample: noop run (carve+trim)"):
        noop(fps)
    with t("collect fps sel + assign_split on the driver"):
        assign_split(fps.select("patch_id", "file_id").toArrow(), 0.1, seed=44)
    profile.release()
    db.unpersist()
    spark.catalog.clearCache()


def profile_q49(spark, sf_dir):
    from pacasam_spark.operators import components as C

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 300)
        .select("doc_id")
    )
    chains = ids.filter(
        (F.pmod(F.col("doc_id") + 1, F.lit(10)) != 0) & (F.col("doc_id") + 1 < 300)
    ).select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
    links = ids.filter(
        (F.pmod("doc_id", F.lit(40)) == 7) & (F.col("doc_id") + 40 < 300)
    ).select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 40).alias("id_b"))
    pairs = chains.unionByName(links)

    # time connected_components wholesale on each path, plus a manual
    # round replay: the pair table is far below DRIVER_EDGES, so the
    # default bound finishes on the driver; a bound of 0 runs the Spark
    # rounds to their fixed point
    t = T()
    n_pairs = pairs.count()
    default = C.DRIVER_EDGES
    try:
        for bound in (default, 0):
            C.DRIVER_EDGES = bound
            path = "driver finish" if n_pairs <= bound else "Spark rounds"
            with t(f"connected_components end-to-end ({path}, bound {bound})"):
                n = C.connected_components(pairs).count()
            print(f"    pairs={n_pairs} rows={n}")
    finally:
        C.DRIVER_EDGES = default

    raw = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).persist()
    edges = raw.filter(F.col("u") != F.col("v")).distinct().persist()
    edges.count()
    for rnd in range(3):
        with t(f"round {rnd}: star pair + signature"):
            sym = edges.unionByName(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            nxt = C._small_star(C._large_star(sym)).localCheckpoint(eager=False)
            row = nxt.agg(F.count("*")).first()
        edges = nxt
    raw.unpersist()


def profile_q06(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    t = T()
    joined = orders.join(li, orders.o_orderkey == li.l_orderkey).withColumn(
        "day_dist", F.abs(F.datediff("l_shipdate", "o_orderdate") - F.lit(45))
    )
    cur = joined.groupBy("o_orderkey").agg(
        F.min(F.struct("day_dist", "l_linenumber")).alias("__b")
    ).select(
        "o_orderkey",
        F.col("__b.l_linenumber").alias("l_linenumber"),
        F.col("__b.day_dist").alias("day_dist"),
    )
    with t("q06 current (min struct -> SortAggregate)"):
        noop(cur)
    packed = joined.groupBy("o_orderkey").agg(
        F.min(F.col("day_dist") * 8 + F.col("l_linenumber")).alias("__p")
    ).select(
        "o_orderkey",
        F.pmod("__p", F.lit(8)).cast("int").alias("l_linenumber"),
        (F.col("__p") / 8).cast("int").alias("day_dist"),
    )
    with t("q06 packed long (HashAggregate)"):
        noop(packed)
    with t("q06 current again (order check)"):
        noop(cur)
    with t("q06 packed again"):
        noop(packed)


def profile_q11(spark, sf_dir):
    from pacasam_spark.operators.sampling import sample_with_stratification

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("li_id"),
        "l_suppkey",
    )
    t = T()
    with t("salt probe alone (groupBy count + max)"):
        mx = li.groupBy("l_suppkey").count().agg(F.max("count")).first()[0]
    print(f"    max stratum = {mx}")
    with t("q11 with salt=0 (no probe)"):
        noop(
            sample_with_stratification(
                li, 500, keys="l_suppkey", seed=11, id_key="li_id", salt=0
            )
        )
    with t("q11 with salt=auto (probe + run)"):
        noop(
            sample_with_stratification(
                li, 500, keys="l_suppkey", seed=11, id_key="li_id"
            )
        )


def profile_q16(spark, sf_dir):
    from pacasam_spark.operators.normalize import standardize

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    t = T()
    with t("q16 stats pass (construct)"):
        normed = standardize(
            li.select("l_orderkey", "l_linenumber", *cols), cols
        )
    with t("q16 transform pass (noop)"):
        noop(normed)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from pacasam_spark.session import get_spark

    spark = get_spark(app_name="bench_extra", cores=cpus)
    # warm like bench.py
    for tbl in ("lineitem", "orders", "events", "documents"):
        spark.read.parquet(f"{sf_dir}/{tbl}.parquet").select(F.count("*")).first()

    sections = sys.argv[1:] or ["triple", "triple-sub", "q49", "q06", "q11", "q16"]
    fns = {
        "triple": profile_triple,
        "triple-sub": profile_triple_sub,
        "q49": profile_q49,
        "q06": profile_q06,
        "q11": profile_q11,
        "q16": profile_q16,
    }
    for s in sections:
        print(f"== {s} @ {sf_dir}")
        spark.sparkContext.setJobDescription(f"bench_extra:{s}")
        fns[s](spark, sf_dir)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
