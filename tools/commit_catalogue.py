"""Ingest a catalogue into a snapshot table with a chosen physical
layout — the once-per-ingest step that buys every later sampling run its
speed (BENCH.md "combined snapshot layout": bucketed data files remove
the bucket-key exchanges, manifest stats remove the stats scans;
measured 2.02x on the TripleSampler pipeline at sf0.1).

  python tools/commit_catalogue.py --input cat.parquet --table /data/cat \
      --bucket-key file_id --buckets 32 \
      --norm-columns nb_sol,nb_bati --count-key file_id

  # GeoPackage input (the reference's catalogue format), Z-order layout
  python tools/commit_catalogue.py --input cat.gpkg --table /data/cat \
      --zorder geom_xmin,geom_ymin --stats-columns geom_xmin,geom_ymin

At 10^12 rows the same commit is an Iceberg bucket(N, key) partition
transform; here the manifest carries the layout and ``read_snapshot``
serves a zero-exchange bucketed scan (sources/snapshots.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--input", required=True, help="parquet dir/file or .gpkg")
    p.add_argument("--table", required=True, help="snapshot table dir")
    p.add_argument("--mode", default="overwrite",
                   choices=["overwrite", "append"])
    p.add_argument("--bucket-key", default=None,
                   help="bucket the data files by this column")
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--sort-by", default=None,
                   help="comma-separated per-file sort (default: bucket key"
                        " + patch_id when present)")
    p.add_argument("--zorder", default=None, metavar="XCOL,YCOL",
                   help="Morton-cluster the files instead of bucketing")
    p.add_argument("--zorder-files", type=int, default=32)
    p.add_argument("--norm-columns", default=None,
                   help="comma-separated: record exact normalization "
                        "partials per file (manifest-fed sampling)")
    p.add_argument("--count-key", default=None,
                   help="record per-file row counts grouped by this column")
    p.add_argument("--stats-columns", default=None,
                   help="comma-separated: per-file min/max bounds "
                        "(file pruning for range queries)")
    args = p.parse_args(argv)

    if args.bucket_key and args.zorder:
        p.error("--bucket-key and --zorder are competing layouts — pick one")

    from pacasam_spark.session import get_spark
    from pacasam_spark.sources.snapshots import snapshots, write_snapshot

    spark = get_spark(app_name="commit_catalogue")
    if args.input.endswith(".gpkg"):
        from pacasam_spark.sources.geopkg import read_gpkg

        df = read_gpkg(spark, args.input)
    else:
        df = spark.read.parquet(args.input)

    split = lambda s: [c.strip() for c in s.split(",")] if s else None
    stats_columns = split(args.stats_columns)
    if args.zorder:
        from pacasam_spark.spatial.zorder import cluster_by_zorder

        x, y = split(args.zorder)
        df = cluster_by_zorder(df, x, y, n_files=args.zorder_files)
        stats_columns = stats_columns or [x, y]

    bucket_by = None
    sort_by = split(args.sort_by)
    if args.bucket_key:
        bucket_by = (args.bucket_key, args.buckets)
        if sort_by is None:
            cols = {f.name for f in df.schema.fields}
            sort_by = (args.bucket_key,) + (
                ("patch_id",) if "patch_id" in cols else ()
            )

    version = write_snapshot(
        df,
        args.table,
        metadata={"ingested_from": args.input},
        stats_columns=stats_columns,
        norm_columns=split(args.norm_columns),
        count_key=args.count_key,
        mode=args.mode,
        bucket_by=bucket_by,
        sort_by=tuple(sort_by) if sort_by else None,
    )
    m = snapshots(args.table)[-1]
    print(json.dumps({
        "table": args.table,
        "version": version,
        "rows": m["total_row_count"],
        "files": len(m["files"]),
        "layout": m.get("layout"),
        "manifest_stats": bool(m.get("norm_stats")),
        "key_counts": (m.get("key_counts") or {}).get("column"),
    }))


if __name__ == "__main__":
    sys.exit(main())
