"""End-to-end sampling entrypoint (reference: src/pacasam/run_sampling.py).

The reference's query IS the YAML config: a connector class, a sampler
class, and per-sampler blocks (reference run_sampling.py:23-41,
configs/Synthetic.yml). This CLI reproduces that workflow Spark-first:

  python -m pacasam_spark.run_sampling --config configs/synthetic.yml \
      --connector_class SyntheticConnector --sampler_class TripleSampler \
      --output /tmp/sampling

catalogue (connector) -> sampler -> extraction join back to the
catalogue -> atomic parquet sampling + comparison reports + a copy of
the config next to the outputs (provenance, reference run_sampling.py:44).
The legacy flag-driven mode (--db-size/--target, no --config) is kept for
quick synthetic runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

from pyspark.sql import functions as F

from pacasam_spark.config import CONNECTORS_REGISTRY, load_sampling_config
from pacasam_spark.plans.stats import write_comparison_reports
from pacasam_spark.samplers import SAMPLER_REGISTRY
from pacasam_spark.session import get_spark
from pacasam_spark.sources.files import save_sampling
from pacasam_spark.sources.synthetic import synthetic_catalogue

DEFAULT_CONFIG = {
    "target_total_num_patches": 500,
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
        "max_chunk_size_for_fps": 5000,
        "normalization": "standardization",
        "columns": [
            "nb_sol", "nb_bati", "nb_vegetation_basse", "nb_vegetation_moyenne",
            "nb_vegetation_haute", "nb_pont", "nb_eau", "nb_sursol_perenne",
            "nb_non_classes",
        ],
    },
    "OutliersSampler": {
        "columns": [
            "nb_sol", "nb_bati", "nb_vegetation_basse", "nb_vegetation_moyenne",
            "nb_vegetation_haute", "nb_pont", "nb_eau", "nb_sursol_perenne",
            "nb_non_classes",
        ],
    },
}


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser()
    p.add_argument("--config", default=None, help="YAML sampling config (reference workflow)")
    p.add_argument(
        "--connector_class", default="SyntheticConnector",
        choices=sorted(CONNECTORS_REGISTRY),
    )
    p.add_argument(
        "--sampler_class", "--sampler", dest="sampler_class",
        default="TripleSampler", choices=sorted(SAMPLER_REGISTRY),
    )
    p.add_argument("--output", required=True)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--checkpoint-dir", default=None,
                   help="stage-checkpoint dir: a killed run resumes from "
                        "its last committed stage (bitwise-identical). "
                        "Each stage is <dir>/<stage>/data.parquet plus a "
                        "_meta.json fingerprint marker written after it "
                        "(no marker or another run's fingerprint: the "
                        "stage is rebuilt); every commit appends a row "
                        "to <dir>/_lineage. Plain files, no Spark jobs")
    p.add_argument("--snapshot-dir", default=None,
                   help="versioned snapshot table: each run commits the "
                        "selection as the next snapshot (atomic manifest, "
                        "per-partition lineage, time-travel reads via "
                        "sources.snapshots.read_snapshot)")
    p.add_argument("--zorder", default=None, metavar="XCOL,YCOL",
                   help="cluster the snapshot on a Morton curve of these "
                        "two coordinate columns (e.g. geom_xmin,geom_ymin) "
                        "and record per-file min/max stats in the manifest, "
                        "so later box queries prune whole files via "
                        "read_snapshot(bounds=...)")
    p.add_argument("--zorder-files", type=int, default=32,
                   help="target file count for the z-ordered snapshot")
    p.add_argument("--catalogue-table", default=None,
                   help="read the catalogue from a versioned snapshot "
                        "table instead of a connector; when its manifests "
                        "carry normalization partials + per-file_id counts "
                        "(write_snapshot(norm_columns=, count_key=)), the "
                        "Diversity/Outliers stats scan is skipped and the "
                        "whole FPS pipeline reads the data ONCE")
    # legacy flag-driven mode (no --config)
    p.add_argument("--db-size", type=int, default=10000)
    p.add_argument("--target", type=int, default=500)
    p.add_argument("--split", default="train", choices=["train", "test", "any"])
    return p


def run(args: argparse.Namespace) -> dict:
    spark = get_spark(app_name=f"run_sampling_{args.sampler_class}")

    if args.catalogue_table:
        from pacasam_spark.sources.snapshots import read_snapshot, snapshots

        if args.config:
            cfg = load_sampling_config(args.config)
        else:
            cfg = json.loads(json.dumps(DEFAULT_CONFIG))
            cfg["target_total_num_patches"] = args.target
        db = read_snapshot(spark, args.catalogue_table)
        split_name = "any"
        # auto-wire manifest-fed statistics: when the table was written
        # with norm_columns covering a sampler's feature columns (and
        # count_key=file_id), that sampler plans ZERO stats scans (the
        # latest version's manifest describes its whole table)
        latest = snapshots(args.catalogue_table)[-1]
        have = set(latest.get("norm_stats", {}) and next(
            iter(latest["norm_stats"].values())
        ))
        keyed = (latest.get("key_counts") or {}).get("column") == "file_id"
        for block in ("DiversitySampler", "OutliersSampler"):
            bcf = cfg.get(block)
            if bcf and keyed and set(bcf.get("columns", [])) <= have:
                bcf["manifest_stats"] = {"dir": args.catalogue_table}
    elif args.config:
        cfg = load_sampling_config(args.config)
        connector_kwargs = dict(cfg.get("connector_kwargs") or {})
        connector = CONNECTORS_REGISTRY[args.connector_class]
        db = connector(spark, seed=args.seed, **connector_kwargs).cache()
        split_name = connector_kwargs.get("split", "any")
    else:
        from pacasam_spark.operators.filters import filter_split

        cfg = json.loads(json.dumps(DEFAULT_CONFIG))
        cfg["target_total_num_patches"] = args.target
        db = filter_split(
            synthetic_catalogue(spark, db_size=args.db_size, exact_counts=False),
            args.split,
        ).cache()
        split_name = args.split

    if args.checkpoint_dir:
        cfg["checkpoint_dir"] = args.checkpoint_dir
    sampler = SAMPLER_REGISTRY[args.sampler_class](db, cfg, seed=args.seed)
    sampling = sampler.get_patches().persist()
    n = sampling.count()

    # extraction join back to the full catalogue (J1;
    # reference: connectors/connector.py:48-51, run_sampling.py:58) —
    # broadcast size-gated: a sampler selection is small by construction,
    # but the gate keeps the plan safe for arbitrary targets
    from pacasam_spark.operators.joins import selection_join

    extracted = selection_join(db, sampling, "patch_id", selection_rows=n)
    task_name = f"{args.connector_class}-{args.sampler_class}-{split_name}"
    sampling_path = f"{args.output}/{task_name}"
    save_sampling(extracted, sampling_path)
    reports = write_comparison_reports(db, extracted, f"{args.output}/stats")

    if args.config:  # provenance copy (reference run_sampling.py:44-46)
        os.makedirs(args.output, exist_ok=True)
        shutil.copy(args.config, os.path.join(args.output, os.path.basename(args.config)))

    snapshot_version = None
    if args.snapshot_dir:
        from pacasam_spark.sources.snapshots import write_snapshot

        to_commit, stats_columns = extracted, None
        if args.zorder:
            from pacasam_spark.spatial.zorder import cluster_by_zorder

            xcol, ycol = (c.strip() for c in args.zorder.split(","))
            to_commit = cluster_by_zorder(
                extracted, xcol, ycol, n_files=args.zorder_files
            )
            stats_columns = [xcol, ycol]
        snapshot_version = write_snapshot(
            to_commit,
            args.snapshot_dir,
            metadata={
                "task": task_name,
                "sampler": args.sampler_class,
                "seed": args.seed,
                "config_fingerprint": sampler._run_fingerprint(),
                "layout": f"zorder({args.zorder})" if args.zorder else "unspecified",
            },
            stats_columns=stats_columns,
        )

    summary = {
        "sampler": args.sampler_class,
        "connector": args.connector_class,
        "n_sampled": n,
        "sampling_path": sampling_path,
        "reports": reports,
        "snapshot_version": snapshot_version,
    }
    print(json.dumps(summary))
    return summary


def main(argv: list[str] | None = None) -> None:
    run(build_parser().parse_args(argv))


if __name__ == "__main__":
    main()
