"""SparkSession factory tuned for the local test/bench environment while
keeping cluster-scale defaults explicit (AQE, skew join, Arrow).

On a real cluster the same builder applies; only master/memory change.
"""

from __future__ import annotations

import atexit
import os
import pathlib
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pacasam_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: int N -> local[N]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS or 32.
    Under spark-submit the launcher's master is kept (``--master``, or
    spark-submit's own default ``local[*]``) and ``cores`` is ignored.
    shuffle_partitions defaults to the session's defaultParallelism (the
    core count in local mode, the executors' total cores on a cluster);
    on a multi-executor cluster pass ~2-3x total cores instead.
    """
    # Pin BLAS to one thread per Python worker BEFORE the JVM forks:
    # Spark already owns the task-level parallelism, and un-pinned
    # OpenBLAS spawns ncpu threads PER worker — measured 16 workers x 32
    # BLAS threads spending 20x more sys time spin-locking than computing
    # (the FPS kernel ran 4.6x slower per chunk). Local-mode Python
    # workers inherit the driver env; executorEnv covers cluster mode.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")

    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Pinned, not left to the version default or spark-defaults:
        # integer/decimal overflow must raise. normalize.standardize's fast
        # statistics path relies on it to fall back to the exact decimal
        # path loudly; with ANSI off an overflowing cast returns NULL and
        # rows silently drop out of the sums.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Spark 4.1's arrow.maxBytesPerBatch DEFAULT (Int.MaxValue - 1)
        # enables a per-ROW ArrowWriter.sizeInBytes() walk over every
        # column vector inside mapInPandas/mapInArrow batching
        # (BatchedPythonArrowInput.underBatchSizeLimit only short-circuits
        # on == Int.MaxValue). Measured on a 12-column 80M-row boundary
        # pass: 46 s -> 7 s at local[16] with the sentinel. The byte cap
        # was no protection anyway: maxRecordsPerBatch=10000 binds first
        # for any row under ~200 KB, so rows would have to approach 2 GB
        # per 10k-batch before the byte limit ever triggered.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(2**31 - 1))
        # Report the SORTED BY order of bucketed scans (off by default
        # since Spark 3.0 because it lists files at planning time; our
        # tables have one file per bucket — see write_snapshot(bucket_by=)
        # — so the listing is trivial and the payoff is large: the
        # per-file rank window over a bucketed catalogue plans with NO
        # Sort at all, the scan streams pre-sorted rows straight into
        # row_number()). The Iceberg equivalent at cluster scale is the
        # table's sort-order metadata.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # files.maxPartitionBytes default 128m is fine for the test parquet;
        # kept explicit so the scale knob is visible.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Join strategy (optimization guide §3.1/§9, size-based so the
        # same settings hold on a cluster): let the planner pick a
        # shuffled-hash join when a side's per-partition build fits
        # (sort-merge pays two full sorts it doesn't need) and let AQE
        # rewrite SMJ->SHJ at runtime under the same bound. Deployments
        # with tighter executor memory override both through extra_conf.
        # Measured dead end, do not retry: raising
        # autoBroadcastJoinThreshold to 64m made q06 2.1x SLOWER — a
        # 1.5M-row build side costs more to hash-relation-ify per query
        # than the shuffle it saves (broadcast 2.46s vs shuffled-hash
        # 1.14s vs sort-merge 1.20s, interleaved A/B with the harness
        # checksum); Spark's default 10m threshold already broadcasts
        # the genuinely small sides (q03/q33/q41 plan gates).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "134217728")
        # C2 promotion thresholds: per-method ones at 10x the JDK 17
        # defaults, the loop (on-stack replacement) one at 3x. At the
        # defaults C2 spent ~5 of a warm Triple operation's 11-13 JVM
        # CPU-s compiling lukewarm Spark code, which now stays in C1;
        # loops over millions of rows still cross the thresholds. Much
        # of that code was generated anew each operation: with the
        # codegen cache below at Spark's default 100 entries, a warm
        # Triple operation compiled ~10 classes that are new per seed
        # (seeds inlined as literals) and 20-45 that the cache had
        # evicted and recompiled. BENCH.md (4 vCPU): a cold
        # run_sampling CLI run -15 % process CPU, warm bench operations
        # -27 %, the 20M-row local[4] DiversitySampler run level.
        # Spark prepends defaultJavaOptions to extraJavaOptions, so a
        # caller's extraJavaOptions keeps these; but this value replaces
        # a spark.driver.defaultJavaOptions from spark-defaults.conf, so
        # site-wide driver options belong in extraJavaOptions. They
        # apply only when this call launches the JVM.
        # Measured dead ends, do not retry: C1-only
        # (-XX:TieredStopAtLevel=1) cut bench CPU further but made the
        # data-bound 5M-row DiversitySampler run 1.8x slower; 100x
        # thresholds were worse than 10x on both; all four at 10x made
        # the 20M-row run ~7 % slower; the loop one at its default, or
        # all four at 3x, kept less than half the bench CPU saving.
        .config(
            "spark.driver.defaultJavaOptions",
            "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000"
            " -XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=120000",
        )
        # Whole-stage codegen cache, sized for one run's plans: Spark
        # keeps 100 generated classes by default, and a cold Triple call
        # compiles ~90, a cold run_sampling CLI run ~150. At 100 a warm
        # Triple operation on 10k rows evicted its own plans and compiled
        # 30-57 classes (160-410 ms of Janino, and each recompiled class
        # warms up in the JIT again); at 1000 it compiles 10, only the
        # per-seed ones, and a repeated call none (tests/test_session.py).
        # BENCH.md (4 vCPU): warm triple_flat operations -13 % process
        # CPU. A cached class costs a few KB of metaspace. A static setting,
        # but unlike the JVM options above it takes effect under
        # spark-submit too: it is read when the session starts.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    # A driver JVM that spark-submit started (pyspark finds its gateway
    # in PYSPARK_GATEWAY_PORT) already has the launcher's master, and
    # local[*] when none was given: keep it.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        b = b.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if shuffle_partitions is None:
        shuffle_partitions = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark.sparkContext.setLogLevel("WARN")
    _quiet_tiny_window_warnings(spark)
    _ship_package(spark)
    return spark


def _default_driver_memory() -> str:
    """Half the machine's physical RAM, capped at 48g. A fixed 48g heap
    on a smaller machine lets a long-lived JVM grow past physical memory
    until the kernel kills it; the other half is left to the Python
    workers and the JVM's off-heap memory."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, ram_mb // 2)}m"


def _quiet_tiny_window_warnings(spark: SparkSession) -> None:
    """Raise the WindowExec logger to ERROR: the engine's unpartitioned
    windows are all over PROVABLY tiny tables (per-file offsets over the
    distinct-file table in fps.py, quota windows over <= targets-sized
    tables in sampling.py/synthetic.py) — plan-gated in
    tools/plan_checks.py and bounded by design, so the per-query
    "Moving all data to a single partition" WARN is pure noise that was
    drowning bench/driver log tails (round-5 verdict #8). Real
    data-sized global windows are forbidden by design review + plan
    checks, not by this log line."""
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        level = jvm.org.apache.logging.log4j.Level.ERROR
        for cls in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.sql.execution.window.WindowExecBase",
        ):
            configurator.setLevel(cls, level)
    except Exception:
        pass  # non-log4j2 deployments: keep the warnings


def _ship_package(spark: SparkSession) -> None:
    """Ship pacasam_spark to executor Python workers (the local-mode
    equivalent of ``spark-submit --py-files pacasam_spark.zip``).

    Without this, any applyInPandas/mapInPandas closure referencing the
    package fails on workers whose cwd/sys.path differ from the driver's.
    """
    if getattr(spark, "_pacasam_pyfiles_shipped", False):
        return
    spark.sparkContext.addPyFile(str(_build_pyfiles_zip()))
    spark._pacasam_pyfiles_shipped = True


def _build_pyfiles_zip() -> pathlib.Path:
    """Zip the package into a fresh per-session temp directory, removed
    at exit. A shared fixed path would let two sessions started at once
    overwrite each other's zip, and Spark fails tasks whose py-file
    "exists and does not match contents"."""
    tmp_dir = tempfile.mkdtemp(prefix="pacasam_pyfiles_")
    atexit.register(shutil.rmtree, tmp_dir, True)
    pkg_dir = pathlib.Path(__file__).resolve().parent
    zip_path = pathlib.Path(tmp_dir) / "pacasam_spark_pyfiles.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
    return zip_path
