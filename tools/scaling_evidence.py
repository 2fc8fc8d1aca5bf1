"""North-rule scaling evidence: the same sampling job on the same input at
two parallelism levels (local[8] = N, local[32] = 4N), reporting
throughput at both and the scaling efficiency.

Each level runs in its own subprocess (one JVM per parallelism level).
Results go to stdout as JSON; BENCH.md quotes them verbatim.

Usage: python tools/scaling_evidence.py [db_size] [target] [variant]

``variant`` (default TripleSampler) is a sampler name from
SAMPLER_REGISTRY over a cached synthetic catalogue, or one of
DiversityParquet (a parquet catalogue), DiversitySnapshot (a snapshot
table with manifest statistics), DiversitySnapBucket (the same table
bucketed by file_id), extract or tile (image extraction and tiling
over a parquet image table), or dedup (phash near-dup pairs and
components over db_size synthetic 64-bit hashes, 10 % planted near-dups;
target is unused). SCALING_N sets N (default 4) and SCALING_TRIALS the
trials per level (default 3).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Parquet-backed like the Diversity twin: an in-JVM CACHED image table
# (900k x ~10 KB bytes ≈ GBs pinned in heap) re-creates the round-1
# "heap wall" — cache + broadcast + Python I/O sharing one JVM heap.
# Both levels scan the SAME on-disk files (identical input bytes).
EXTRACT_WORKER = r"""
import sys, time
cores, n_images, target, _ = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
import os
path = os.environ["SCALING_IMAGES"]
from pacasam_spark.session import get_spark
from pacasam_spark.extract.images import extract_patches
from pyspark.sql import functions as F

spark = get_spark(app_name=f"scaling_x_{cores}", cores=int(cores))
images = spark.read.parquet(path)
modulus = int(round(n_images / target))

def selection(residue):
    return (
        spark.read.parquet(path).select("image_id")
        .filter(F.pmod(F.crc32("image_id"), F.lit(modulus)) == residue)
        .withColumn("split", F.lit("train"))
    )

# warm-up on a DIFFERENT residue class (CacheManager donates equal
# plans), then release plan caches + the warm-up's shuffle files
extract_patches(images, selection(1), crop=(8, 8, 64, 64), out_fmt="q6").count()
spark.catalog.clearCache()
spark.sparkContext._jvm.System.gc()

t0 = time.perf_counter()
out = extract_patches(images, selection(0), crop=(8, 8, 64, 64), out_fmt="q6")
row = out.agg(
    F.count("*").alias("n"),
    F.sum(F.crc32("bytes")).alias("bsum"),
    F.sum(F.length("bytes")).alias("blen"),
).first()
dt = time.perf_counter() - t0
import hashlib
h = hashlib.md5(f"{row['n']}|{row['bsum']}|{row['blen']}".encode()).hexdigest()
emit(spark, cores, dt, row["n"], h)
"""

# Tile-fingerprint-index twin (image payload): decode every image, cut
# an overlapping 32x32/stride-16 tile grid, batch-phash each tile, and
# return only (image_id, tile coords, phash) — the shift-robust tile-
# level dedup index build. Zero shuffles; output bytes are negligible,
# so the measured shape is scan -> Python decode+DCT -> tiny agg.
TILE_WORKER = r"""
import sys, time
cores, n_images, target, _ = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
import os
path = os.environ["SCALING_IMAGES"]
from pacasam_spark.session import get_spark
from pacasam_spark.extract.tiles import tile_images
from pyspark.sql import functions as F

spark = get_spark(app_name=f"scaling_t_{cores}", cores=int(cores))
images = spark.read.parquet(path)
# warm-up: same shape, different grid (no persisted plans to donate)
tile_images(images, 48, 48, with_bytes=False, with_phash=True).agg(
    F.count("*")).first()
spark.catalog.clearCache()
spark.sparkContext._jvm.System.gc()

t0 = time.perf_counter()
idx = tile_images(
    images, 32, 32, stride_x=16, stride_y=16,
    with_bytes=False, with_phash=True,
)
row = idx.agg(
    F.count("*").alias("n"),
    F.bit_xor("phash").alias("hx"),
    F.sum(F.crc32(F.concat_ws("|", "image_id", "tile_x", "tile_y"))).alias("cs"),
).first()
dt = time.perf_counter() - t0
import hashlib
h = hashlib.md5(f"{row['n']}|{row['hx']}|{row['cs']}".encode()).hexdigest()
emit(spark, cores, dt, row["n"], h)
"""

# Near-dup dedup twin (image payload, no pixels): N synthetic 64-bit
# fingerprints where every 10th is a 2-bit near-dup of the one before,
# then hamming_near_dup_pairs (8 byte bands, Hamming <= 7) and
# dedup_by_components. The band buckets hold about N/256 rows each, so
# the candidate self-join is the data-bound part. The checksum covers
# the survivors and the pair set.
DEDUP_WORKER = r"""
import sys, time
cores, n_hashes, _, _ = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
from pacasam_spark.session import get_spark
from pacasam_spark.operators.components import dedup_by_components
from pacasam_spark.operators.dedup import hamming_near_dup_pairs
from pacasam_spark.operators.hashing import det_hash
from pyspark.sql import functions as F

spark = get_spark(app_name=f"scaling_d_{cores}", cores=int(cores))

def hashes(n, seed):
    planted = F.pmod("id", F.lit(10)) == 9
    src = F.when(planted, F.col("id") - 1).otherwise(F.col("id"))
    h = det_hash(src, seed) * F.lit(1 << 31) + det_hash(src, seed + 1)  # < 2^62
    return spark.range(n).select(
        F.col("id").alias("image_id"),
        F.when(planted, h.bitwiseXOR(F.lit((1 << 40) | 1))).otherwise(h).alias("phash"),
    )

def dedup(hashed):
    pairs = hamming_near_dup_pairs(hashed, "phash", "image_id", max_distance=7)
    return pairs, dedup_by_components(hashed, pairs, id_col="image_id")

# warm-up on other hashes, a quarter of the size
warm = hashes(max(1000, n_hashes // 4), 5).persist()
dedup(warm)[1].count()
warm.unpersist(blocking=True)
spark.sparkContext._jvm.System.gc()

hashed = hashes(n_hashes, 1).persist()
hashed.count()
t0 = time.perf_counter()
pairs, survivors = dedup(hashed)
row = survivors.agg(
    F.count("*").alias("n"),
    F.sum(det_hash("image_id", 99)).alias("hsum"),
).first()
dt = time.perf_counter() - t0
prow = pairs.agg(
    F.count("*").alias("n"),
    F.bit_xor(F.xxhash64("id_a", "id_b", "hamming")).alias("psum"),
).first()
import hashlib
h = hashlib.md5(
    f"{row['n']}|{row['hsum']}|{prow['n']}|{prow['psum']}".encode()
).hexdigest()
emit(spark, cores, dt, row["n"], h)
"""

PREPARE_IMAGES = r"""
import sys
n_images, path = int(sys.argv[1]), sys.argv[2]
from pacasam_spark.session import get_spark
from pacasam_spark.sources.images import synthetic_images
spark = get_spark(app_name="scaling_prepare_images", cores=32)
# spark.range at cores=32 gives 32 render tasks -> 32 files; both
# levels read the same multi-file layout
synthetic_images(spark, n=n_images, size=96).write.mode("overwrite").parquet(path)
print("prepared", path)
"""

PREPARE_PARQUET = r"""
import sys
db_size, path = int(sys.argv[1]), sys.argv[2]
from pacasam_spark.session import get_spark
from pacasam_spark.sources.synthetic import synthetic_catalogue
from pacasam_spark import schemas as S
spark = get_spark(app_name="scaling_prepare", cores=32)
cols = ["patch_id", "file_id"] + list(S.NB_POINT_COLS)
db = synthetic_catalogue(spark, db_size=db_size, exact_counts=False).select(*cols)
db.write.mode("overwrite").parquet(path)
print("prepared", path)
"""

# The parquet-backed worker is the honest north-rule shape: the job reads
# a TABLE (one shared file across parallelism levels — identical input
# bytes), not a 12 GB in-JVM cache. Round-1 BENCH.md found 4M-of-80M runs
# degrading to ~300 s at BOTH core counts with the cached catalogue —
# GC pressure from cache + shuffle + window sort sharing one heap. A
# parquet scan streams instead of pinning the heap.
PARQUET_WORKER = r"""
import sys, time
cores, db_size, target, _ = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
import os
path = os.environ["SCALING_PARQUET"]
from pacasam_spark.session import get_spark
from pacasam_spark.samplers import DiversitySampler
from pyspark.sql import functions as F
from pacasam_spark.operators.hashing import det_hash

spark = get_spark(app_name=f"scaling_pq_{cores}", cores=int(cores))
cfg = {
    "target_total_num_patches": target,
    "frac_validation_set": 0.1,
    "DiversitySampler": {"max_chunk_size_for_fps": 20000,
        "normalization": "standardization",
        "columns": ["nb_sol","nb_bati","nb_vegetation_basse",
                    "nb_vegetation_moyenne","nb_vegetation_haute",
                    "nb_pont","nb_eau","nb_sursol_perenne","nb_non_classes"]},
}
# warm-up on a DIFFERENT quota (CacheManager donates equal plans), then
# drop any plan caches
# TWO warm-up passes with distinct quotas: the first pipeline execution
# in a fresh JVM pays ~70 s of JIT/codegen on top of the real work (one
# warm-up was not enough to amortize it; measured 151 s -> 77 s between
# the first and second identical 80M runs in one session).
for wq in (7, 13):
    wcfg = dict(cfg); wcfg["target_total_num_patches"] = max(100, target // wq)
    DiversitySampler(spark.read.parquet(path), wcfg, seed=1).get_patches().count()
    spark.catalog.clearCache()
    # release the warm-up's shuffle files NOW: ContextCleaner only
    # deletes them when the JVM GCs the dependency objects, and two
    # warm-ups + the measured run in one process can otherwise hold
    # ~3 jobs x ~24 GB of shuffle on disk simultaneously
    spark.sparkContext._jvm.System.gc()

t0 = time.perf_counter()
sel = DiversitySampler(spark.read.parquet(path), dict(cfg), seed=42).get_patches()
row = sel.agg(
    F.count("*").alias("n"),
    F.sum(det_hash("patch_id", 99)).alias("hsum"),
    F.sum(F.crc32(F.concat_ws("|", "patch_id", "split"))).alias("csum"),
).first()
dt = time.perf_counter() - t0
import hashlib
h = hashlib.md5(f"{row['n']}|{row['hsum']}|{row['csum']}".encode()).hexdigest()
emit(spark, cores, dt, row["n"], h)
"""

# Manifest-fed variant (round-7): the catalogue is a SNAPSHOT TABLE whose
# manifests carry the exact normalization partials + per-file_id counts
# (write_snapshot(norm_columns=, count_key=)), so the sampler's stats
# aggregation — the memory-bandwidth-bound stage in the round-5 event-log
# decomposition — disappears entirely: the job's only data read is the
# FPS carve scan. Selection must be bit-identical to DiversityParquet's
# (same result_md5), proving the manifest merge is exact at scale.
SNAPSHOT_WORKER = r"""
import json, sys, time
cores, db_size, target, _ = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
import os
path = os.environ["SCALING_SNAPSHOT"]
from pacasam_spark.session import get_spark
from pacasam_spark.sources.snapshots import read_snapshot
from pacasam_spark.samplers import DiversitySampler
from pyspark.sql import functions as F
from pacasam_spark.operators.hashing import det_hash

spark = get_spark(app_name=f"scaling_sn_{cores}", cores=int(cores))
cfg = {
    "target_total_num_patches": target,
    "frac_validation_set": 0.1,
    "DiversitySampler": {"max_chunk_size_for_fps": 20000,
        "normalization": "standardization",
        "manifest_stats": {"dir": path},
        "columns": ["nb_sol","nb_bati","nb_vegetation_basse",
                    "nb_vegetation_moyenne","nb_vegetation_haute",
                    "nb_pont","nb_eau","nb_sursol_perenne","nb_non_classes"]},
}
# two warm-up passes, distinct quotas (see PARQUET_WORKER comment)
for wq in (7, 13):
    wcfg = json.loads(json.dumps(cfg))
    wcfg["target_total_num_patches"] = max(100, target // wq)
    DiversitySampler(read_snapshot(spark, path), wcfg, seed=1).get_patches().count()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()

t0 = time.perf_counter()
sel = DiversitySampler(read_snapshot(spark, path), json.loads(json.dumps(cfg)),
                       seed=42).get_patches()
row = sel.agg(
    F.count("*").alias("n"),
    F.sum(det_hash("patch_id", 99)).alias("hsum"),
    F.sum(F.crc32(F.concat_ws("|", "patch_id", "split"))).alias("csum"),
).first()
dt = time.perf_counter() - t0
import hashlib
h = hashlib.md5(f"{row['n']}|{row['hsum']}|{row['csum']}".encode()).hexdigest()
emit(spark, cores, dt, row["n"], h)
"""

PREPARE_SNAPSHOT = r"""
import sys
db_size, path = int(sys.argv[1]), sys.argv[2]
from pacasam_spark.session import get_spark
from pacasam_spark.sources.synthetic import synthetic_catalogue
from pacasam_spark.sources.snapshots import write_snapshot
from pacasam_spark import schemas as S
spark = get_spark(app_name="scaling_prepare_snapshot", cores=32)
cols = ["patch_id", "file_id"] + list(S.NB_POINT_COLS)
db = synthetic_catalogue(spark, db_size=db_size, exact_counts=False).select(*cols)
write_snapshot(db, path, norm_columns=list(S.NB_POINT_COLS), count_key=S.FILE_ID)
import os
open(os.path.join(path, "_SUCCESS"), "w").close()  # prepare-once marker
print("prepared", path)
"""

PREPARE_SNAPBUCKET = r"""
import sys
db_size, path = int(sys.argv[1]), sys.argv[2]
from pacasam_spark.session import get_spark
from pacasam_spark.sources.synthetic import synthetic_catalogue
from pacasam_spark.sources.snapshots import write_snapshot
from pacasam_spark import schemas as S
spark = get_spark(app_name="scaling_prepare_snapbucket", cores=32)
cols = ["patch_id", "file_id"] + list(S.NB_POINT_COLS)
db = synthetic_catalogue(spark, db_size=db_size, exact_counts=False).select(*cols)
# the round-7 COMBINED layout: bucket(32, file_id) data files AND
# manifest-carried stats in one commit — zero exchanges + zero stats
# scans for every sampling run afterwards
write_snapshot(db, path, norm_columns=list(S.NB_POINT_COLS),
               count_key=S.FILE_ID, bucket_by=(S.FILE_ID, 32),
               sort_by=(S.FILE_ID, "patch_id"))
import os
open(os.path.join(path, "_SUCCESS"), "w").close()  # prepare-once marker
print("prepared", path)
"""

WORKER = r"""
import sys, time
cores, db_size, target, sampler_name = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
from pacasam_spark.session import get_spark
from pacasam_spark.sources.synthetic import synthetic_catalogue
from pacasam_spark.samplers import SAMPLER_REGISTRY

Sampler = SAMPLER_REGISTRY[sampler_name]
spark = get_spark(app_name=f"scaling_{cores}", cores=int(cores))
cfg = {
    "target_total_num_patches": target,
    "frac_validation_set": 0.1,
    "TargettedSampler": {"targets": {
        "C0": {"target_min_samples_proportion": 0.20},
        "C1": {"target_min_samples_proportion": 0.05},
        "C2": {"target_min_samples_proportion": 0.05},
        "C3": {"target_min_samples_proportion": 0.2}}},
    "DiversitySampler": {"max_chunk_size_for_fps": 20000,
        "normalization": "standardization",
        "columns": ["nb_sol","nb_bati","nb_vegetation_basse",
                    "nb_vegetation_moyenne","nb_vegetation_haute",
                    "nb_pont","nb_eau","nb_sursol_perenne","nb_non_classes"]},
}
db = synthetic_catalogue(spark, db_size=db_size, exact_counts=False).cache()
db.count()
# Warm-up primes JVM/codegen/python workers. It MUST use a different
# sampling size: Spark's CacheManager matches persisted plans by
# canonicalized equality, so a warm-up with identical parameters would
# hand its cached FPS selection to the measured run and fake the timing.
wcfg = dict(cfg); wcfg["target_total_num_patches"] = max(100, target // 7)
Sampler(db, wcfg, seed=1).get_patches().count()
spark.catalog.clearCache()
db = synthetic_catalogue(spark, db_size=db_size, exact_counts=False).cache()
db.count()
t0 = time.perf_counter()
sel = Sampler(db, dict(cfg), seed=42).get_patches()
# Result identity via a DISTRIBUTED order-independent checksum — a
# collect() of the full selection would serialize n rows through the
# driver and dominate the measurement at any core count.
from pyspark.sql import functions as F
from pacasam_spark.operators.hashing import det_hash
row = sel.agg(
    F.count("*").alias("n"),
    F.sum(det_hash("patch_id", 99)).alias("hsum"),
    F.sum(F.crc32(F.concat_ws("|", "patch_id", "split"))).alias("csum"),
).first()
dt = time.perf_counter() - t0
import hashlib
h = hashlib.md5(f"{row['n']}|{row['hsum']}|{row['csum']}".encode()).hexdigest()
emit(spark, cores, dt, row["n"], h)
"""


# Prelude of every worker: this checkout first on sys.path, and emit(),
# which prints a measured run as one JSON line. The line carries the
# JVM's -XX: input arguments, so a recorded run says which compile
# policy it measured.
BOOT = r"""
import json, sys; sys.path.insert(0, sys.argv.pop(1))

def emit(spark, cores, sec, n, result_md5):
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = mx.getRuntimeMXBean().getInputArguments()
    print(json.dumps({"cores": int(cores), "sec": sec, "n": n,
                      "patches_per_sec": n / sec, "result_md5": result_md5,
                      "jvm_xx_flags": [a for a in args if a.startswith("-XX:")]}))
"""


def worker_argv(script: str, *args: str) -> list[str]:
    """Command line running ``script`` after :data:`BOOT`, with this
    checkout first on ``sys.path``, ahead of the current directory. The
    root travels as argv[1] and is popped before the script reads its
    own arguments."""
    return [sys.executable, "-c", BOOT + script, ROOT, *args]


def prepare_parquet(db_size: int, path: str, script: str = PREPARE_PARQUET) -> None:
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    out = subprocess.run(
        worker_argv(script, str(db_size), path),
        capture_output=True, text=True, env={**os.environ},
    )
    if "prepared" not in out.stdout:
        raise RuntimeError(out.stderr[-2000:])


def run(cores: int, db_size: int, target: int, sampler: str) -> dict:
    worker = {
        "extract": EXTRACT_WORKER,
        "dedup": DEDUP_WORKER,
        "tile": TILE_WORKER,
        "DiversityParquet": PARQUET_WORKER,
        "DiversitySnapshot": SNAPSHOT_WORKER,
        # the combined layout reads through the same snapshot worker —
        # read_snapshot auto-detects the bucketed layout in the manifest
        "DiversitySnapBucket": SNAPSHOT_WORKER,
    }.get(sampler, WORKER)
    out = subprocess.run(
        worker_argv(worker, str(cores), str(db_size), str(target), sampler),
        capture_output=True, text=True, env={**os.environ},
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(lines[-1])


def main() -> None:
    db_size = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    target = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    sampler = sys.argv[3] if len(sys.argv) > 3 else "TripleSampler"
    n = int(os.environ.get("SCALING_N", "4"))  # N and 4N executor threads
    trials = int(os.environ.get("SCALING_TRIALS", "3"))
    if sampler == "DiversityParquet":
        path = os.environ.setdefault(
            "SCALING_PARQUET", f"/tmp/scaling_catalogue_{db_size}.parquet"
        )
        prepare_parquet(db_size, path)
    elif sampler == "DiversitySnapshot":
        path = os.environ.setdefault(
            "SCALING_SNAPSHOT", f"/tmp/scaling_catalogue_{db_size}_snapshot"
        )
        prepare_parquet(db_size, path, script=PREPARE_SNAPSHOT)
    elif sampler == "DiversitySnapBucket":
        path = os.environ.setdefault(
            "SCALING_SNAPSHOT", f"/tmp/scaling_catalogue_{db_size}_snapbucket"
        )
        prepare_parquet(db_size, path, script=PREPARE_SNAPBUCKET)
    elif sampler in ("extract", "tile"):
        path = os.environ.setdefault(
            "SCALING_IMAGES", f"/tmp/scaling_images_{db_size}.parquet"
        )
        prepare_parquet(db_size, path, script=PREPARE_IMAGES)
    # The sandbox VM sees invisible neighbor contention (load avg > 0 with
    # no local processes); interleaved best-of-k trials reject that noise.
    runs_n, runs_4n = [], []
    for t in range(trials):
        runs_n.append(run(n, db_size, target, sampler))
        # stream each finished trial to stderr so a killed run still
        # leaves its measurements on disk
        print(f"trial {t} local[{n}]: {json.dumps(runs_n[-1])}", file=sys.stderr)
        runs_4n.append(run(4 * n, db_size, target, sampler))
        print(
            f"trial {t} local[{4 * n}]: {json.dumps(runs_4n[-1])}",
            file=sys.stderr,
        )
    r_n = min(runs_n, key=lambda r: r["sec"])
    r_4n = min(runs_4n, key=lambda r: r["sec"])
    eff = r_4n["patches_per_sec"] / (4 * r_n["patches_per_sec"])
    speedup = r_4n["patches_per_sec"] / r_n["patches_per_sec"]
    report = {
        "job": f"{sampler} {target} of {db_size}",
        "trials": trials,
        "cpus_available": len(os.sched_getaffinity(0)),
        f"N_local{n}": r_n,
        f"4N_local{4 * n}": r_4n,
        f"all_sec_local{n}": [round(r["sec"], 2) for r in runs_n],
        f"all_sec_local{4 * n}": [round(r["sec"], 2) for r in runs_4n],
        "speedup_N_to_4N": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
        "identical_results": all(
            r["result_md5"] == r_n["result_md5"] for r in runs_n + runs_4n
        ),
    }
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
