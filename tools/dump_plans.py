"""Dump .explain("formatted") for every headline query (and the sampler
sub-plans the bench exercises) into plans/r08/<name>_<tag>.txt.

Usage: python tools/dump_plans.py before|after [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


HEADLINE = [
    "q01_pricing_summary",
    "q03_extraction_join",
    "q06_asof_nearest",
    "q08_bool_rollup",
    "q10_random_sample",
    "q11_stratified_sample",
    "q12_union_dedup_priority",
    "q14_cell_index",
    "q16_standardize",
    "q17_percent_rank",
    "q48_phash_near_dup",
    "q50_session_window",
]


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_dir = os.path.join(ROOT, "plans", "r08")
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as E
    from pacasam_spark.session import get_spark

    spark = get_spark(app_name="dump_plans", cores=8)
    queries = E.queries()
    for name in HEADLINE:
        df = queries[name](spark, sf)
        with open(f"{out_dir}/{name}_{tag}.txt", "w") as f:
            f.write(plan_of(df))
        print(f"wrote {name}_{tag}.txt")

    # q49 is iterative (driver loop) — capture one large-star/small-star
    # round's plan over the initial edge set instead of the final result.
    from pyspark.sql import functions as F

    from pacasam_spark.operators import components as C

    ids = spark.read.parquet(f"{sf}/documents.parquet").filter(
        F.col("doc_id") < 300
    ).select("doc_id")
    chains = ids.filter(
        (F.pmod(F.col("doc_id") + 1, F.lit(10)) != 0) & (F.col("doc_id") + 1 < 300)
    ).select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
    # mirror the production loop: the round's INPUT edge set is always a
    # localCheckpoint (LogicalRDD), so the captured plan is one round's
    # true executed shape, not the unbounded lazy recursion
    edges = (
        chains.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    if tag == "before":
        round_df = C._small_star(C._large_star(sym, dedup=True), oriented=False)
    else:
        ls = C._large_star(sym, dedup=False).localCheckpoint(eager=True)
        round_df = C._small_star(ls, oriented=True)
    with open(f"{out_dir}/q49_round_{tag}.txt", "w") as f:
        f.write(plan_of(round_df))
    print(f"wrote q49_round_{tag}.txt")

    # Triple-sampler: the pipeline has driver barriers, so capture the
    # plans of its dominant lazy sub-stages: one targetted-leg selection
    # and the diversity FPS carve input.
    from pacasam_spark.operators.fps import add_deterministic_chunk_ids
    from pacasam_spark.operators.normalize import CatalogueProfile, standardize
    from pacasam_spark.operators.sampling import sample_with_stratification
    from pacasam_spark.sources.synthetic import synthetic_catalogue

    db = synthetic_catalogue(spark, db_size=50000, exact_counts=False)
    sel = sample_with_stratification(
        db.filter(F.col("C1")).select("patch_id", "file_id"), 1000,
        keys="file_id", seed=42,
    )
    with open(f"{out_dir}/triple_targetted_leg_{tag}.txt", "w") as f:
        f.write(plan_of(sel))
    cols = ["nb_sol", "nb_bati", "nb_vegetation_basse"]
    profile = CatalogueProfile.of(db, cols)
    normed = standardize(db.select("patch_id", "file_id", *cols), cols, stats=profile)
    counts = profile.per_file.select("file_id", "count")
    chunked = add_deterministic_chunk_ids(normed, 20000, counts=counts, keep_rank=True)
    with open(f"{out_dir}/triple_fps_chunked_{tag}.txt", "w") as f:
        f.write(plan_of(chunked))
    print("wrote triple sampler sub-plans")


if __name__ == "__main__":
    main()
