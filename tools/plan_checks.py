"""Physical-plan quality gate: assert the plans we WANT, not just plans
that pass — pushdown reaching parquet, pruned read schemas, broadcast
joins where a side is small, TakeOrdered for top-k, no stray shuffles.

Run: python tools/plan_checks.py
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def count_nodes(trees: list[str], node: str) -> int:
    """The plan nodes whose name matches the regex ``node`` in ``trees``."""
    return sum(
        len(set(re.findall(rf"\b(?:{node})\s+\((\d+)\)", tree))) for tree in trees
    )


def plans_run(spark, action) -> list[str]:
    """Call ``action()`` and return the plans of the SQL executions it
    submitted, as the app status store records them. Only the tree of
    the plan that ran is kept: an adaptive plan also lists its initial
    plan, whose nodes above a query stage carry new ids."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions() -> dict:
        sc.listenerBus().waitUntilEmpty()
        xs = store.executionsList()
        return {
            xs.apply(i).executionId(): xs.apply(i).physicalPlanDescription()
            for i in range(xs.size())
        }

    before = set(executions())
    action()
    return [ran_tree(plan) for eid, plan in executions().items() if eid not in before]


def ran_tree(plan: str) -> str:
    """The node tree of the plan that ran, from a formatted or a
    ``toString`` plan: an adaptive plan's final plan, without the
    initial plan and the per-node details after it."""
    return plan.split("== Initial Plan ==")[0].split("\n\n")[0]


# physical nodes that hand rows to a Python worker
PYTHON_NODES = r"\w*(?:Python|InPandas|InArrow)\w*"
# the scan of an RDD, such as the Python RDD that createDataFrame builds
# from a list: each execution runs a Python worker task to read it
RDD_SCANS = r"Scan \w*RDD"


def check(name: str, cond: bool, detail: str = "") -> bool:
    print(f"{'PASS' if cond else 'FAIL'}: {name}" + (f" — {detail}" if detail else ""))
    return cond


def main() -> int:
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    from pacasam_spark.session import get_spark

    spark = get_spark(cores=8)
    sf = "/root/testdata/sf0.01"
    # this run's fixture tables, removed at exit
    tmp = tempfile.mkdtemp(prefix="plan_checks_")
    atexit.register(shutil.rmtree, tmp, True)
    ok = True

    # q02: filters + projection must reach the parquet scan
    p = plan_of(E.q02_derived_predicates(spark, sf))
    ok &= check("q02 predicate pushdown", "PushedFilters: [" in p and "l_quantity" in p.split("PushedFilters")[1][:200])
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p)
    ok &= check(
        "q02 column pruning",
        rs is not None and "l_shipdate" not in rs.group(1) and "l_tax" not in rs.group(1),
        rs.group(1) if rs else "no ReadSchema",
    )

    # q03: selection side must broadcast
    p = plan_of(E.q03_extraction_join(spark, sf))
    ok &= check("q03 broadcast hash join", "BroadcastHashJoin" in p)

    # q04/q05: anti/semi join strategies
    p = plan_of(E.q04_anti_join(spark, sf))
    ok &= check("q04 anti join", "LeftAnti" in p)
    p = plan_of(E.q05_semi_join(spark, sf))
    ok &= check("q05 semi join", "LeftSemi" in p)

    # q09: global top-k must be TakeOrdered (no total sort)
    p = plan_of(E.q09_topk(spark, sf))
    ok &= check("q09 TakeOrderedAndProject", "TakeOrderedAndProject" in p)
    ok &= check("q09 no global Sort", "Sort [" not in p)

    # q11: exactly one exchange (the stratification window shuffle)
    p = plan_of(E.q11_stratified_sample(spark, sf))
    n_ex = p.count("Exchange")
    ok &= check("q11 single shuffle", n_ex <= 2, f"{n_ex} Exchange nodes")

    # q01: partial aggregation (map-side combine) present
    p = plan_of(E.q01_pricing_summary(spark, sf))
    ok &= check("q01 partial agg", "partial" in p.lower())
    # AQE wraps the plan before execution, hiding WholeStageCodegen spans
    # in formatted output; Batched:true certifies the vectorized scan.
    ok &= check("q01 vectorized scan", "Batched: true" in p)

    # q33: zone join must be broadcast (cell-coarse), not cartesian
    p = plan_of(E.q33_zone_join(spark, sf))
    ok &= check("q33 broadcast zone join", "BroadcastHashJoin" in p)
    ok &= check("q33 no cartesian", "Cartesian" not in p)

    # q06: as-of rank-1 must be a hash aggregation with map-side partial
    # min (not a sort-window over the joined rows)
    p = plan_of(E.q06_asof_nearest(spark, sf))
    ok &= check("q06 partial min agg", "partial_min" in p or "partial" in p.lower())
    ok &= check("q06 no window sort", "Window" not in p)

    # q41: ANN candidates meet in equi-joins — no cartesian, broadcast
    # query side, no Python UDF (pure-expr buckets)
    p = plan_of(E.q41_lsh_ann_topk(spark, sf))
    ok &= check("q41 no cartesian", "Cartesian" not in p and "NestedLoop" not in p)
    ok &= check("q41 broadcast probes", "BroadcastHashJoin" in p)
    ok &= check("q41 no Python UDF", "Python" not in p)

    # q42: quantile interp stays in codegen (no Python eval node)
    p = plan_of(E.q42_quantile_transform(spark, sf))
    ok &= check("q42 no Python UDF", "Python" not in p)

    # q48: phash near-dup candidates meet in a (band, band_val) equi-join
    # — no cartesian, everything codegen (no Python UDF)
    q48 = E.q48_phash_near_dup(spark, sf)
    p = plan_of(q48)
    ok &= check("q48 no cartesian", "Cartesian" not in p and "NestedLoop" not in p)
    ok &= check("q48 no Python UDF", "Python" not in p)
    # the bucket guard is a window count over (band, band_val): the banded
    # rows are shuffled once and the self-join's other side reuses that
    # exchange — no grouped band count joined back per side (LeftSemi)
    q48.collect()
    ep = q48._jdf.queryExecution().executedPlan().toString()
    n_band = len(re.findall(r"^[\s:|+-]*Exchange hashpartitioning\(band#", ran_tree(ep), re.M))
    ok &= check(
        "q48 banded rows shuffled once",
        n_band == 1 and "LeftSemi" not in ep,
        f"{n_band} band exchanges, LeftSemi {'present' if 'LeftSemi' in ep else 'absent'}",
    )

    # extraction: decode/crop/encode and the file writes run in ONE
    # Python node (a second one is a second worker per task)
    from pacasam_spark.run_extraction import build_parser, run
    from pacasam_spark.sources.images import synthetic_images

    ip, sp = os.path.join(tmp, "images.parquet"), os.path.join(tmp, "sampling")
    synthetic_images(spark, n=64, size=32).write.parquet(ip)
    spark.read.parquet(ip).select("image_id").limit(32).withColumn(
        "split", F.lit("train")
    ).write.parquet(sp)
    argv = ["-s", sp, "--images_path", ip, "-d", os.path.join(tmp, "dataset"),
            "--crop", "4,4,16,16"]
    trees = plans_run(spark, lambda: run(build_parser().parse_args(argv)))
    n_py = count_nodes(trees, PYTHON_NODES)
    ok &= check("extraction one Python node", n_py == 1, f"{n_py} Python nodes executed")

    # q50: native session_window is a hash aggregation with map-side
    # partial merging — NOT a per-user sort window
    p = plan_of(E.q50_session_window(spark, sf))
    ok &= check("q50 partial session agg", "partial_count" in p or "partial" in p.lower())
    ok &= check("q50 no window sort", "Window" not in p)

    # bucketed snapshot catalogue: the chunk-rank stage plans ZERO exchanges
    from pacasam_spark.operators.fps import add_deterministic_chunk_ids
    from pacasam_spark.sources.snapshots import read_snapshot, write_snapshot
    from pacasam_spark.sources.synthetic import synthetic_catalogue

    bt = os.path.join(tmp, "bucketed")
    write_snapshot(synthetic_catalogue(spark, db_size=2000), bt, bucket_by=("file_id", 8))
    # count hash-partitioning exchanges on the EXECUTED plan: the formatted
    # explain also lists the broadcast exchange and the SinglePartition
    # exchange of the tiny distinct-file offsets window (documented driver
    # barrier) — the claim is that no FULL-DATA shuffle remains
    chunked = add_deterministic_chunk_ids(read_snapshot(spark, bt), 100)
    ep = chunked._jdf.queryExecution().executedPlan().toString()
    ok &= check(
        "bucketed chunk-rank zero data shuffles",
        ep.count("Exchange hashpartitioning") == 0 and "Bucketed: true" in ep,
        f"{ep.count('Exchange hashpartitioning')} hash exchanges",
    )

    # fused Diversity pipeline: normalize stats + per-file counts ride
    # ONE grouped aggregation (the catalogue profile), so the end-to-end
    # FPS plan reads the catalogue exactly twice — the profile scan
    # (cached; offsets window reuses it via InMemoryTableScan) and the
    # main window->carve pass. A third scan = the fusion regressed.
    from pacasam_spark.operators.fps import fps_sample
    from pacasam_spark.operators.normalize import CatalogueProfile, standardize

    fp = os.path.join(tmp, "fused.parquet")
    synthetic_catalogue(spark, db_size=5000).select(
        "patch_id", "file_id", "nb_sol", "nb_bati"
    ).write.parquet(fp)
    cat = spark.read.parquet(fp)
    profile = CatalogueProfile.of(cat, ["nb_sol", "nb_bati"])
    normed = standardize(cat, ["nb_sol", "nb_bati"], stats=profile)
    p = plan_of(fps_sample(normed, 100, ["nb_sol", "nb_bati"], profile=profile))
    profile.release()
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    ok &= check(
        "fused diversity: two catalogue scans",
        n_scans <= 2,
        f"{n_scans} parquet scan nodes",
    )
    ok &= check(
        "fused diversity: counts reused from cache",
        "InMemoryTableScan" in p,
    )

    # manifest-fed Diversity over a snapshot-table catalogue (round-7):
    # normalization stats + per-file counts come from the manifests
    # (write_snapshot(norm_columns=, count_key=)), so the selection reads
    # the data exactly ONCE — the carve pass. A second scan = a stats
    # aggregation crept back in. The scans are counted over the SQL
    # executions get_selection() ran: its result is a collected Arrow
    # table, whose DataFrame plan holds no scan at all.
    from pacasam_spark.samplers import DiversitySampler

    st = os.path.join(tmp, "snapcat")
    write_snapshot(
        synthetic_catalogue(spark, db_size=5000).select(
            "patch_id", "file_id", "nb_sol", "nb_bati"
        ),
        st,
        norm_columns=["nb_sol", "nb_bati"],
        count_key="file_id",
    )
    dcfg = {
        "target_total_num_patches": 100,
        "frac_validation_set": 0.1,
        "DiversitySampler": {
            "max_chunk_size_for_fps": 1000,
            "columns": ["nb_sol", "nb_bati"],
            "manifest_stats": {"dir": st},
        },
    }
    sampler = DiversitySampler(read_snapshot(spark, st), dcfg)
    trees = plans_run(spark, sampler.get_selection)
    n_scans = count_nodes(trees, "Scan parquet")
    ok &= check(
        "manifest-fed diversity: ONE catalogue scan",
        n_scans == 1,
        f"{n_scans} parquet scan nodes executed",
    )
    # the driver-built tables (per-file counts, FPS keep counts) are
    # Arrow LocalRelations: the selection runs no Python task to read them
    n_rdd = count_nodes(trees, RDD_SCANS)
    ok &= check(
        "diversity: driver tables scan no Python RDD",
        n_rdd == 0,
        f"{n_rdd} RDD scan nodes executed",
    )

    # large-n random sample: the distributed trim must not TakeOrdered n
    from pacasam_spark.operators.sampling import sample_randomly

    big = spark.range(300000).select(F.col("id").alias("patch_id"))
    p = plan_of(sample_randomly(big, 150000, seed=5))
    ok &= check(
        "large-n sample no driver merge",
        "TakeOrderedAndProject(limit=150000" not in p,
    )

    # synthetic exact_counts: NO global window over the row stream — every
    # row_number window must be partitioned by the hash bucket (__b); the
    # only unpartitioned windows are the 32k-row histogram cumulatives
    p = plan_of(synthetic_catalogue(spark, db_size=100000, exact_counts=True))
    rn_specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", p)
    ok &= check(
        "synthetic exact-counts bucketed rank",
        len(rn_specs) == 5 and all("__b" in s for s in rn_specs),
        f"{len(rn_specs)} row_number windows",
    )

    print("\nALL PASS" if ok else "\nSOME CHECKS FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
