"""Dataset extraction entrypoint (reference: src/pacasam/run_extraction.py).

sampling parquet -> resume anti-join -> decode/crop/re-encode and write,
in one Python pass -> one {SPLIT}-{id}.{fmt} file per patch under
dataset_root/split/ (fmt: the patch's codec), plus a manifest of the
extracted ids (checkpoint) under dataset_root/_manifest.

  python -m pacasam_spark.run_extraction \
      --sampling_path /tmp/s/sampling --images_path /tmp/images.parquet \
      --dataset_root_path /tmp/dataset --extractor_class ImagePatchExtractor

The reference parallelizes with --num_jobs processes
(run_extraction.py:43); here parallelism is the cluster itself — task
fan-out follows the images scan.

The sampling (capped by the sample target) and the manifest are read on
the driver, as the reference loads its sampling into memory
(extractor.py:45-49): a resume with nothing left to extract submits no
Spark job.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import uuid

import pyarrow.parquet as pq

from pacasam_spark.session import get_spark
from pacasam_spark.sources.files import load_sampling


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser()
    p.add_argument("-s", "--sampling_path", required=True,
                   help="sampling parquet with (patch_id|image_id, split)")
    p.add_argument("--images_path", required=True,
                   help="image catalogue parquet (image_id, bytes, w, h, fmt, caption)")
    p.add_argument("-d", "--dataset_root_path", required=True)
    p.add_argument("--extractor_class", default="ImagePatchExtractor",
                   choices=["ImagePatchExtractor"])
    p.add_argument("--out_fmt", default=None, help="re-encode codec (default: keep)")
    p.add_argument("--crop", default=None, help="x0,y0,w,h crop window")
    p.add_argument("--resize", default=None,
                   help="w,h bilinear/block-mean resample after the crop")
    return p


def run(args: argparse.Namespace) -> dict:
    from pacasam_spark.extract.filesink import write_patch_files
    from pacasam_spark.extract.images import (
        extract_batch,
        extraction_join,
        resume_filter,
    )
    from pacasam_spark.samplers.base import _replace_into

    manifest_dir = os.path.join(args.dataset_root_path, "_manifest")
    todo = resume_filter(load_sampling(args.sampling_path), manifest_dir)
    n_written = n_files = 0
    if todo.num_rows:
        spark = get_spark(app_name=f"run_extraction_{args.extractor_class}")
        crop = tuple(int(v) for v in args.crop.split(",")) if args.crop else None
        resize = tuple(int(v) for v in args.resize.split(",")) if args.resize else None
        joined = extraction_join(
            spark.read.parquet(args.images_path), spark.createDataFrame(todo),
            sampling_rows=todo.num_rows,
        )
        kernel = functools.partial(
            extract_batch, crop=crop, resize=resize, out_fmt=args.out_fmt
        )
        # ONE action: the writer is side-effecting, so a second action
        # would run it again and find every file already on disk
        files = write_patch_files(joined, args.dataset_root_path, kernel).toArrow()
        n_written = sum(files["written"].to_pylist())
        n_files = files.num_rows
        if n_files:
            os.makedirs(manifest_dir, exist_ok=True)
            done = files.select(["image_id"])
            _replace_into(
                manifest_dir,
                f"part-{uuid.uuid4().hex}.parquet",
                lambda f: pq.write_table(done, f),
            )

    summary = {
        "extractor": args.extractor_class,
        "written": n_written,
        "skipped_existing_files": n_files - n_written,
        # sampling rows whose image_id has no catalogue match never reach
        # the manifest (inner join) — surfaced here instead of silently
        # re-attempted on every resume forever
        "unmatched_ids": todo.num_rows - n_files,
        "dataset_root": args.dataset_root_path,
    }
    print(json.dumps(summary))
    return summary


def main(argv: list[str] | None = None) -> None:
    run(build_parser().parse_args(argv))


if __name__ == "__main__":
    main()
