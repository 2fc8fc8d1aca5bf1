"""The benchmark's workloads: set-up, one operation, and the checks on
its outputs.

Every call into ``pacasam_spark`` goes through a module attribute looked
up at call time (``joins.selection_join(...)``), so the traced run's
wrappers see it. Inputs are a pure function of the workload seed; each
operation derives its own sampler seed from it, so no cached plan or
result of one operation can serve the next.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from pacasam_spark import imaging, run_extraction
from pacasam_spark.extract import images as extract_images
from pacasam_spark.operators import components, dedup, joins
from pacasam_spark.plans import stats
from pacasam_spark.samplers import triple
from pacasam_spark.sources import files, images, snapshots, synthetic

FEATURES = [
    "nb_sol", "nb_bati", "nb_vegetation_basse", "nb_vegetation_moyenne",
    "nb_vegetation_haute", "nb_pont", "nb_eau", "nb_sursol_perenne",
    "nb_non_classes",
]
TARGETS = {"C0": 0.20, "C1": 0.05, "C2": 0.05, "C3": 0.2}
FRAC_VAL = 0.1
HAMMING = 7
IMAGE_PX = 64
CROP = (0, 0, 32, 32)
RESIZE = (16, 16)


@dataclass(frozen=True)
class Size:
    catalogue_rows: int
    target: int
    images: int


SIZES = {
    "full": Size(catalogue_rows=10_000, target=500, images=500),
    "tiny": Size(catalogue_rows=2_000, target=100, images=200),
}


def op_seed(seed: int, i: int) -> int:
    """Sampler seed of operation ``i`` of a run seeded with ``seed``."""
    return (seed * 7919 + 104729 * (i + 1)) % 1_000_003


@dataclass
class OpResult:
    items: int = 0
    errors: list[str] = field(default_factory=list)
    ratios: dict[str, float] = field(default_factory=dict)


class Workload:
    name = ""
    warm_ops = 1  # at least this many warm operations per run

    def __init__(self, spark, size: Size, seed: int, work: Path, state: Path):
        self.spark = spark
        self.size = size
        self.seed = seed
        self.work = work
        self.state = state

    def build_fixture(self) -> None:
        """The timed fixture build."""
        raise NotImplementedError

    def after_setup(self) -> None:
        """Untimed: facts the checks need."""

    def isolate(self) -> None:
        """Untimed, before each operation: nothing cached or pending from
        the previous one, written files included."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        os.sync()

    def run_op(self, i: int, out: Path):
        raise NotImplementedError

    def check(self, i: int, out: Path, ctx) -> OpResult:
        raise NotImplementedError

    def after_ops(self, out: Path) -> None:
        """Traced runs only, untimed, once after the operations, on the
        last operation's outputs in ``out``: layer calls too costly to
        run in every operation."""

    def setup_ratios(self) -> dict[str, float]:
        return {}


# --- triple_flat / triple_snapshot ---------------------------------------


def sampling_config(size: Size) -> dict:
    """bench.py's TripleSampler config at this size."""
    return {
        "target_total_num_patches": size.target,
        "frac_validation_set": FRAC_VAL,
        "TargettedSampler": {
            "targets": {
                k: {"target_min_samples_proportion": p} for k, p in TARGETS.items()
            }
        },
        "DiversitySampler": {
            "max_chunk_size_for_fps": size.target,
            "normalization": "standardization",
            "columns": list(FEATURES),
        },
    }


def selection_digest(patch_ids, splits, samplers) -> str:
    rows = sorted(zip((int(p) for p in patch_ids), splits, samplers))
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()


class TripleFlat(Workload):
    """run_sampling's path over a catalogue held in Spark's memory cache."""

    name = "triple_flat"

    def _catalogue(self):
        return synthetic.synthetic_catalogue(
            self.spark, db_size=self.size.catalogue_rows, seed=self.seed,
            exact_counts=False,
        )

    def build_fixture(self) -> None:
        self.db = self._catalogue().cache()
        self.db.count()

    def after_setup(self) -> None:
        row = self.db.agg(
            *[F.sum(F.col(c).cast("int")).alias(c) for c in TARGETS]
        ).first()
        self.available = {c: int(row[c] or 0) for c in TARGETS}

    def isolate(self) -> None:
        super().isolate()
        self.db.cache().count()  # refill, untimed

    def catalogue(self):
        return self.db

    def config(self) -> dict:
        return sampling_config(self.size)

    def run_op(self, i: int, out: Path):
        db = self.catalogue()
        sampling = (
            triple.TripleSampler(db, self.config(), seed=op_seed(self.seed, i))
            .get_patches()
            .persist()
        )
        n = sampling.count()
        extracted = joins.selection_join(db, sampling, "patch_id", selection_rows=n)
        files.save_sampling(extracted, str(out / "sampling"))
        sampling.unpersist()
        return n

    def after_ops(self, out: Path) -> None:
        """run_sampling's last step, on the saved selection."""
        extracted = self.spark.read.parquet(str(out / "sampling"))
        stats.write_comparison_reports(self.catalogue(), extracted, str(out / "stats"))

    def check(self, i: int, out: Path, n_sampled) -> OpResult:
        t = pq.read_table(
            out / "sampling", columns=["patch_id", "split", "sampler", *TARGETS]
        ).to_pydict()
        ids, target = t["patch_id"], self.size.target
        errors = []
        if n_sampled != target or len(ids) != target:
            errors.append(f"selected {n_sampled}, saved {len(ids)}, want {target}")
        if len(set(ids)) != len(ids):
            errors.append("duplicate patch_id in the selection")
        if any(not 0 <= p < self.size.catalogue_rows for p in ids):
            errors.append("selected id outside the catalogue")
        for c, p in TARGETS.items():
            want = min(int(p * target), self.available[c])
            got = sum(bool(v) for v in t[c])
            if got < want:
                errors.append(f"quota {c}: {got} < {want}")
        n_val = sum(s == "val" for s in t["split"])
        if abs(n_val - FRAC_VAL * target) > 0.01 * target + 3:  # per-sampler floors
            errors.append(f"{n_val} val rows, want about {FRAC_VAL * target:.0f}")
        digest = selection_digest(ids, t["split"], t["sampler"])
        errors += self._agree(i, digest)
        return OpResult(
            items=len(ids),
            errors=errors,
            ratios={"samplers.input_rows_per_selected": self.size.catalogue_rows / max(1, len(ids))},
        )

    def _agree(self, i: int, digest: str) -> list[str]:
        """Every run with this seed and size — flat or snapshot, traced
        or not — must select the same rows for operation ``i``."""
        path = self.state / f"triple-{self.size.catalogue_rows}-seed{self.seed}.json"
        known = json.loads(path.read_text()) if path.exists() else {}
        prev = known.get(str(i))
        if prev is not None and prev["digest"] != digest:
            return [f"selection digest differs from {prev['by']}'s for op {i}"]
        if prev is None:
            known[str(i)] = {"digest": digest, "by": self.name}
            tmp = path.with_suffix(f".tmp{os.getpid()}")
            tmp.write_text(json.dumps(known, indent=1))
            os.replace(tmp, path)
        return []


class TripleSnapshot(TripleFlat):
    """The same sampling over a bucketed snapshot table with
    manifest-carried normalization statistics, read from disk by each
    operation."""

    name = "triple_snapshot"

    def build_fixture(self) -> None:
        super().build_fixture()
        self.table = self.work / "fixture" / "catalogue"
        snapshots.write_snapshot(
            self.db,
            str(self.table),
            norm_columns=list(FEATURES),
            count_key="file_id",
            bucket_by=("file_id", 32),
            sort_by=("file_id", "patch_id"),
        )

    def after_setup(self) -> None:
        super().after_setup()
        self.db.unpersist(blocking=True)

    def isolate(self) -> None:
        Workload.isolate(self)

    def catalogue(self):
        return snapshots.read_snapshot(self.spark, str(self.table))

    def config(self) -> dict:
        cfg = sampling_config(self.size)
        cfg["DiversitySampler"]["manifest_stats"] = {"dir": str(self.table)}
        return cfg

    def setup_ratios(self) -> dict[str, float]:
        data = [p for p in self.table.rglob("*.parquet")]
        size = sum(p.stat().st_size for p in data)
        return {"sources.snapshots.bytes_per_row": size / self.size.catalogue_rows}


# --- extract_dedup -------------------------------------------------------


def near_pairs_exist(hashes: list[int], max_distance: int) -> bool:
    """True when two of the 64-bit ``hashes`` are within ``max_distance``
    bits. Pigeonhole: such a pair agrees on one of ``max_distance + 1``
    byte bands, so only hashes sharing a band value are compared."""
    h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
    popcount8 = np.array([bin(v).count("1") for v in range(256)], dtype=np.uint8)
    n_bands = max_distance + 1
    assert n_bands <= 8, "byte bands cover max_distance <= 7"
    for band in range(n_bands):
        key = (h >> np.uint64(8 * band)) & np.uint64(0xFF)
        order = np.argsort(key, kind="stable")
        bounds = np.flatnonzero(np.diff(key[order])) + 1
        for group in np.split(order, bounds):
            if len(group) < 2:
                continue
            x = h[group]
            xor = (x[:, None] ^ x[None, :]).view(np.uint8).reshape(len(x), len(x), 8)
            dist = popcount8[xor].sum(axis=2, dtype=np.int64)
            np.fill_diagonal(dist, 64)
            if (dist <= max_distance).any():
                return True
    return False


class ExtractDedup(Workload):
    """Perceptual-hash near-dedup of an image catalogue, then file
    extraction of a seeded half of the survivors and its resume re-run.

    The whole catalogue is deduplicated, not a seeded pick of it: the
    number of connected-component rounds, each a handful of jobs,
    depends on the near-dup graph (9 or 14 jobs, 3.7 or 5.6 s, for two
    seeded picks of 500 images), which would make ``op_s_p50`` bimodal
    across seeds. The seed picks which survivors are extracted, always
    ceil(S/2) of the S survivors, and their splits, so every seed
    extracts the same number of images."""

    name = "extract_dedup"
    # its operations are short (about 10 s), so one warm operation is too
    # few to be steady; a triple operation is steady alone and a second
    # one (about 18 s) does not fit the gated runs' time budget
    warm_ops = 2

    def build_fixture(self) -> None:
        self.images_path = self.work / "fixture" / "images.parquet"
        images.synthetic_images(
            self.spark, n=self.size.images, size=IMAGE_PX, lossy_every=4
        ).write.mode("overwrite").parquet(str(self.images_path))

    def run_op(self, i: int, out: Path):
        s = op_seed(self.seed, i)
        catalogue = self.spark.read.parquet(str(self.images_path))
        hashed = extract_images.compute_phash(catalogue).persist()
        hashed.count()
        pairs = dedup.hamming_near_dup_pairs(
            hashed, hash_col="phash", id_col="image_id", max_distance=HAMMING
        )
        survivors = components.dedup_by_components(hashed, pairs, id_col="image_id")
        # the lowest ceil(S/2) survivors by seeded hash
        rank = F.row_number().over(Window.orderBy(F.xxhash64("image_id", F.lit(s)), "image_id"))
        n = F.count(F.lit(1)).over(Window.partitionBy())
        picked = (
            survivors.withColumn("_rank", rank).withColumn("_n", n)
            .filter(2 * F.col("_rank") <= F.col("_n") + 1)
            .drop("_rank", "_n")
        )
        split = F.when(
            F.pmod(F.xxhash64("image_id", F.lit(s + 1)), F.lit(10)) == 0, "val"
        ).otherwise("train")
        files.save_sampling(picked.withColumn("split", split), str(out / "sampling"))
        hashed.unpersist()
        argv = [
            "--sampling_path", str(out / "sampling"),
            "--images_path", str(self.images_path),
            "--dataset_root_path", str(out / "dataset"),
            "--crop", ",".join(map(str, CROP)),
            "--resize", ",".join(map(str, RESIZE)),
            "--out_fmt", "png",
        ]
        with contextlib.redirect_stdout(io.StringIO()):
            first = run_extraction.run(run_extraction.build_parser().parse_args(argv))
            again = run_extraction.run(run_extraction.build_parser().parse_args(argv))
        return first, again

    def check(self, i: int, out: Path, ctx) -> OpResult:
        first, again = ctx
        t = pq.read_table(out / "sampling", columns=["image_id", "phash"]).to_pydict()
        survivors = set(t["image_id"])
        written = []
        for split_dir in (out / "dataset").iterdir():
            if split_dir.name.startswith("_"):
                continue
            written += [p for p in split_dir.iterdir() if p.suffix == ".png"]
        ids = {p.stem.split("-", 1)[1] for p in written}
        errors = []
        if len(written) != len(survivors) or ids != survivors:
            errors.append(f"{len(written)} files written for {len(survivors)} survivors")
        if first["written"] != len(survivors):
            errors.append(f"extraction reported {first['written']} written")
        if again["written"] != 0:
            errors.append(f"resume re-run wrote {again['written']} files")
        if near_pairs_exist(t["phash"], HAMMING):
            errors.append(f"two survivors within Hamming distance {HAMMING}")
        for p in sorted(written)[:8]:
            shape = imaging.decode(p.read_bytes(), "png").shape[:2]
            if shape != (RESIZE[1], RESIZE[0]):
                errors.append(f"{p.name} decodes to {shape}")
                break
        total_bytes = sum(p.stat().st_size for p in written)
        return OpResult(
            items=len(written),
            errors=errors,
            ratios={
                "extract.bytes_out_per_image": total_bytes / max(1, len(written)),
                "extract.resume_rows_rewritten": float(again["written"]),
            },
        )


WORKLOADS = {w.name: w for w in (TripleFlat, TripleSnapshot, ExtractDedup)}
