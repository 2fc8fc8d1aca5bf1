"""Versioned snapshot storage for sampling outputs — the plain-parquet
analogue of Iceberg's snapshot metadata (north rule: sampling state
checkpoints to snapshot metadata with per-partition lineage + metrics,
resumable and inspectable after the fact).

Layout under a table directory:

    <dir>/v00001/data/*.parquet     the snapshot's rows
    <dir>/v00001/manifest.json      commit marker + metadata (written LAST)

Commit protocol (same discipline as samplers/base._stage): data first,
then the manifest via atomic rename — a killed writer leaves a data dir
with NO manifest, which every reader ignores and no writer ever reuses
(next version = max over ALL vNNNNN dirs + 1, committed or not). The
manifest records what Iceberg keeps in its snapshot summary: version,
parent version, row count, schema, the caller's metadata (sampler
config fingerprint, seed, ...), and per-partition row counts so skew in
any historical snapshot is diagnosable from the directory alone.

`read_snapshot(version=None)` is time travel: latest committed by
default, any committed version explicitly. `expire_snapshots` drops old
versions' data but keeps their manifests (history stays inspectable —
the Iceberg expire-snapshots shape).

Every commit is an OVERWRITE (Iceberg's commit type): a version's own
files are the whole table, so a read, the manifest statistics and
expiry each need that one version's manifest and nothing else. A
sampling run's output and a catalogue ingest are whole-table writes,
which is all this module is for. A version that an older writer
committed as ``append`` or ``upsert`` (a file set layered on its
parent's) is refused with ``ValueError`` by every reader of its data,
never read as a partial table.

``write_snapshot(bucket_by=(key, n))`` is the catalogue's one bucketed
layout, the plain-parquet analogue of Iceberg's ``bucket(n, key)``
partition transform. Chunked FPS shuffles the catalogue on ``file_id``
(the per-file counts and the chunk-rank window) before its chunk
exchange; a table bucketed by ``file_id`` pays that shuffle once, at
ingest, and every later ``Window.partitionBy(file_id)`` or
``groupBy(file_id)`` over its scan plans no exchange. The layout is
recorded in the version's manifest, and :func:`read_snapshot` adopts
the files into the session catalog by DDL from that record alone (the
in-memory catalog forgets tables between JVMs; the files do not), so a
reader can never declare a bucket count the files were not written
with. Size ``n`` to the cluster's cores, not to the data: it bounds the
parallelism of the shuffle-free stages.

A real multi-writer deployment would route commits through a table
format's atomic catalog (Iceberg/Delta); this module is the
single-writer engine-level shape. Reference: pacasam reads and writes
one flat GeoPackage (connectors/geopandas.py:24-31) — no history, no
resume, no lineage, no layout.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import tempfile
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pacasam_spark.operators.normalize import CatalogueProfile, _stat_partial_aggs

_VDIR = re.compile(r"^v(\d{5})$")

# column types whose min/max survive a JSON round-trip (natively or via
# the coercion below). Binary/array/struct stats are rejected up front:
# discovering the TypeError after the parquet data is written would leave
# an orphaned uncommitted version dir (round-6 ADVICE).
_STATS_OK = ("tinyint", "smallint", "int", "bigint", "float", "double",
             "string", "boolean", "date", "timestamp", "decimal")


def _stat_to_json(v):
    """JSON-safe form of a per-file min/max value. date/timestamp become
    fixed-width ISO strings (lexicographic order == chronological order,
    and Spark casts them back losslessly); Decimal becomes str (compared
    in the Decimal domain by the pruner)."""
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return v


def _check_stats_columns(df: DataFrame, stats_columns: list[str] | None) -> None:
    for c in stats_columns or []:
        t = df.schema[c].dataType.simpleString()
        if not t.startswith(_STATS_OK):
            raise ValueError(
                f"stats_columns type {t!r} for {c!r} has no JSON-safe "
                "min/max representation; record stats on numeric, string, "
                "boolean, date, timestamp or decimal columns"
            )


# normalization partials are sums/mins of numeric columns; the count key
# must survive a JSON round-trip as a dict-free array element AND rebuild
# into a DataFrame column of the table's type
_NORM_OK = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")
_KEY_OK = ("tinyint", "smallint", "int", "bigint", "string")


def _check_norm_columns(
    df: DataFrame, norm_columns: list[str] | None, count_key: str | None
) -> None:
    for c in norm_columns or []:
        t = df.schema[c].dataType.simpleString()
        if not t.startswith(_NORM_OK):
            raise ValueError(
                f"norm_columns type {t!r} for {c!r} is not numeric; "
                "normalization partials need numeric columns"
            )
    if count_key is not None:
        t = df.schema[count_key].dataType.simpleString()
        if t not in _KEY_OK:
            raise ValueError(
                f"count_key type {t!r} for {count_key!r} must be integral "
                "or string to round-trip through the manifest"
            )


def _fold_file_groups(
    rows,
    stats_columns: list[str] | None,
    norm_columns: list[str] | None,
    count_key: str | None,
) -> list[dict]:
    """Merge the (file[, count_key]) aggregation groups into ONE record
    per part-file, exactly: integer sums for counts, min/max in the
    original value domain for bounds, int/Decimal sums for the
    normalization partials — the driver-side twin of
    ``normalize._stat_merge_aggs``, so the merged statistics are
    bit-identical to a single global aggregation."""
    byf: dict[str, dict] = {}
    for r in rows:
        d = byf.get(r["file"])
        if d is None:
            d = byf[r["file"]] = {
                "file": r["file"],
                "count": 0,
                **{f"__min_{c}": None for c in stats_columns or []},
                **{f"__max_{c}": None for c in stats_columns or []},
                "__norm": {
                    c: {"cnt": 0, "min": None, "nan": 0, "s": None, "ssq": None}
                    for c in norm_columns or []
                },
                "__keys": [],
            }
        d["count"] += r["count"]
        for c in stats_columns or []:
            for kind, pick in (("min", min), ("max", max)):
                v = r[f"__{kind}_{c}"]
                if v is not None:
                    cur = d[f"__{kind}_{c}"]
                    d[f"__{kind}_{c}"] = v if cur is None else pick(cur, v)
        for c in norm_columns or []:
            e = d["__norm"][c]
            e["cnt"] += r[f"cnt_{c}"]
            e["nan"] += r[f"nan_{c}"]
            mv = r[f"min_{c}"]
            if mv is not None:
                e["min"] = mv if e["min"] is None else min(e["min"], mv)
            for part in ("s", "ssq"):
                v = r[f"{part}_{c}"]
                if v is not None:
                    e[part] = v if e[part] is None else e[part] + v
        if count_key is not None:
            d["__keys"].append([r[count_key], r["count"]])
    for d in byf.values():
        d["__keys"].sort()
    return list(byf.values())


def _versions(table_dir: str) -> list[int]:
    if not os.path.isdir(table_dir):
        return []
    out = []
    for name in os.listdir(table_dir):
        m = _VDIR.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _committed_versions(table_dir: str) -> list[int]:
    return [
        v
        for v in _versions(table_dir)
        if os.path.isfile(_manifest_path(table_dir, v))
    ]


def _vdir(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v{version:05d}")


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_vdir(table_dir, version), "manifest.json")


def _load_manifest(table_dir: str, version: int) -> dict:
    """The manifest of a committed version, for a reader of its data:
    a version whose files are not the whole table is refused."""
    with open(_manifest_path(table_dir, version)) as f:
        m = json.load(f)
    kind = m.get("commit_type", "overwrite")
    if kind != "overwrite":
        raise ValueError(
            f"{table_dir} v{version:05d} is an {kind!r} commit, whose files "
            "are layered on its parent's; snapshot tables are read as "
            "overwrite commits only — rewrite the table with an overwrite "
            "commit (write_snapshot of the full table)"
        )
    return m


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    metadata: dict | None = None,
    stats_columns: list[str] | None = None,
    norm_columns: list[str] | None = None,
    count_key: str | None = None,
    bucket_by: tuple[str, int] | None = None,
    sort_by: tuple[str, ...] | None = None,
) -> int:
    """Commit ``df`` as the next snapshot of ``table_dir`` — the whole
    table, an overwrite commit; returns the new version number. One
    extra aggregation over the written files collects the per-FILE
    lineage (rows per committed part-file — the writer's task layout,
    since each write task commits exactly the part-files it produced)
    and the total, in a single count-shuffle.
    Grouping by spark_partition_id() of the re-read would instead
    record READ splits, which depend on maxPartitionBytes packing, not
    on how the snapshot was written.

    ``stats_columns`` folds per-file min/max for the named columns into
    the SAME aggregation (no extra pass) and records them in the
    manifest — Iceberg's per-data-file ``lower_bounds``/``upper_bounds``
    shape. ``read_snapshot(bounds=...)`` then prunes whole files from a
    range query before Spark ever lists them; the stats are selective
    when the writer clustered the data (``spatial/zorder.py``).

    ``norm_columns`` folds the EXACT per-file normalization partials of
    ``operators.normalize.standardize`` (count / min / NaN count /
    decimal sum / decimal sum-of-squares per column) into the same
    aggregation and records them JSON-safely in the manifest, and
    ``count_key`` records per-file row counts grouped by that catalogue
    column (e.g. ``file_id``) — together they are everything the
    Diversity/Outliers pipelines' stats pass computes, so
    :func:`snapshot_fps_inputs` can hand the samplers bit-identical
    statistics from the manifests alone and the pipeline's only data
    read is the FPS carve scan (one full scan instead of two; the stats
    aggregation was the memory-bandwidth-bound stage). Both ride the
    one lineage aggregation this writer already pays for — the grouping
    just gains ``count_key`` and the partials fold per file on the
    driver (exact integer/Decimal arithmetic).

    ``bucket_by=(key, n)`` writes the version's data files in Spark's
    bucketed layout — the Iceberg ``bucket(n, key)`` partition transform
    — with exactly one file per bucket, per-file sorted by ``sort_by``
    (default: the bucket key), and records the layout in the manifest.
    :func:`read_snapshot` then serves the version as a catalog-backed
    bucketed scan: ``Window.partitionBy(key)`` / ``groupBy(key)`` over
    it plan ZERO exchanges, so combined with ``norm_columns`` /
    ``count_key`` a Diversity run over the table does ONE data scan and
    ONE shuffle (the FPS chunk exchange) instead of two scans and two
    shuffles."""
    _check_stats_columns(df, stats_columns)
    _check_norm_columns(df, norm_columns, count_key)
    os.makedirs(table_dir, exist_ok=True)
    version = (_versions(table_dir) or [0])[-1] + 1
    vdir = _vdir(table_dir, version)
    data_dir = os.path.join(vdir, "data")
    committed = _committed_versions(table_dir)
    parent = committed[-1] if committed else None
    layout = None
    if bucket_by is not None:
        bucket_key, n_buckets = bucket_by
        sort_keys = tuple(sort_by) if sort_by else (bucket_key,)
        # Pre-shuffle onto the bucket hash (repartition's HashPartitioning
        # and bucketBy share partitionIdExpression = pmod(murmur3, n)) so
        # every write task holds exactly ONE bucket and each bucket is
        # exactly ONE file. With >1 file per bucket Spark discards the
        # SORTED BY metadata at scan time (the merge order across files
        # is unknown) and re-sorts under every window; with one file the
        # scan reports outputOrdering = sort_keys and the per-file rank
        # window runs sort-free. saveAsTable is the only writer that
        # emits bucket metadata; an external path + DROP keeps the files.
        tmp = f"__snap_write_{hashlib.md5(data_dir.encode()).hexdigest()[:12]}"
        spark0 = df.sparkSession
        spark0.sql(f"DROP TABLE IF EXISTS {tmp}")
        (
            df.repartition(n_buckets, F.col(bucket_key))
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, bucket_key)
            .sortBy(*sort_keys)
            .option("path", data_dir)
            .saveAsTable(tmp)
        )
        spark0.sql(f"DROP TABLE {tmp}")
        layout = {
            "bucket_key": bucket_key,
            "n_buckets": n_buckets,
            "sort_keys": list(sort_keys),
        }
    else:
        df.write.mode("overwrite").parquet(data_dir)

    spark = df.sparkSession
    written = spark.read.parquet(data_dir)
    aggs = [F.count("*").alias("count")]
    for c in stats_columns or []:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
    if norm_columns:
        types = {f.name: f.dataType.simpleString() for f in written.schema.fields}
        masked = {
            c: F.nullif(F.col(c).cast("double"), F.lit(0.0)) for c in norm_columns
        }
        aggs.extend(_stat_partial_aggs(types, masked, norm_columns))
    group_cols = [F.input_file_name().alias("file")]
    if count_key is not None:
        group_cols.append(F.col(count_key))
    rows = written.groupBy(*group_cols).agg(*aggs).collect()
    parts = _fold_file_groups(rows, stats_columns, norm_columns, count_key)
    n_rows = sum(r["count"] for r in parts)
    manifest = {
        "version": version,
        "parent_version": parent,
        "commit_type": "overwrite",
        # the version's rows are the table's: both counts are the same
        "row_count": n_rows,
        "total_row_count": n_rows,
        "schema": written.schema.jsonValue(),
        "files": {os.path.basename(r["file"]): r["count"] for r in parts},
        # per-file column bounds (Iceberg lower_bounds/upper_bounds):
        # {file: {col: [min, max]}}; null min/max (all-null file) is
        # recorded as null and treated conservatively by the pruner.
        "file_stats": {
            os.path.basename(r["file"]): {
                c: [_stat_to_json(r[f"__min_{c}"]), _stat_to_json(r[f"__max_{c}"])]
                for c in stats_columns
            }
            for r in parts
        }
        if stats_columns
        else {},
        # per-file EXACT normalization partials (count/min/nan/sum/sum-of-
        # squares per column) — :func:`snapshot_fps_inputs` merges them
        # driver-side into the global statistics standardize() needs, so
        # a sampler over this table skips its stats scan entirely.
        "norm_stats": {
            os.path.basename(p["file"]): {
                c: {
                    "cnt": e["cnt"],
                    "nan": e["nan"],
                    "min": e["min"],
                    "s": None if e["s"] is None else str(e["s"]),
                    "ssq": None if e["ssq"] is None else str(e["ssq"]),
                }
                for c, e in p["__norm"].items()
            }
            for p in parts
        }
        if norm_columns
        else {},
        # per-file row counts grouped by a catalogue column (chunked
        # FPS's per-file_id counts table) — [[key, rows], ...] per file
        "key_counts": {
            "column": count_key,
            "by_file": {
                os.path.basename(p["file"]): p["__keys"] for p in parts
            },
        }
        if count_key is not None
        else {},
        # per-partition METRICS next to the lineage (north rule): bytes
        # per committed part-file, from the local listing — no data read.
        # rows/bytes together make size skew diagnosable per snapshot.
        "file_bytes": {
            os.path.basename(r["file"]): os.path.getsize(
                os.path.join(data_dir, os.path.basename(r["file"]))
            )
            for r in parts
        },
        "metadata": metadata or {},
        # physical data layout of THIS version's files (Iceberg's
        # bucket(n, key) partition transform); an unpruned read serves a
        # zero-exchange bucketed scan.
        "layout": layout,
        # wall-clock commit instant (epoch seconds); it keys the
        # bucketed-scan registration of this version
        "committed_at": time.time(),
    }
    # atomic commit: manifest appears fully written or not at all
    fd, tmp = tempfile.mkstemp(dir=vdir, suffix=".manifest.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(table_dir, version))
    return version


def latest_version(table_dir: str) -> int:
    """Newest committed version number."""
    committed = _committed_versions(table_dir)
    if not committed:
        raise FileNotFoundError(f"no committed snapshots under {table_dir}")
    return committed[-1]


def snapshots(table_dir: str) -> list[dict]:
    """All committed manifests, oldest first — the table's history."""
    out = []
    for v in _committed_versions(table_dir):
        with open(_manifest_path(table_dir, v)) as f:
            out.append(json.load(f))
    return out


def prune_files(
    manifest: dict, bounds: dict[str, tuple] | None
) -> list[str]:
    """File basenames of ``manifest`` that can contain a row satisfying
    ``bounds`` ({col: (lo, hi)}, both ends inclusive; either end may be
    None for half-open). CONSERVATIVE: a file is skipped only when its
    recorded [min, max] for some bounded column provably misses the
    range; missing stats (column not in ``stats_columns`` at write
    time, or an all-null file) keep the file. Pruning never changes a
    query's result — callers still apply the exact predicate; it only
    changes which files the scan has to touch."""
    import decimal

    files = sorted(manifest["files"])
    if not bounds:
        return files
    stats = manifest.get("file_stats", {})

    def norm(bound_val, stat_val):
        # bring the user's bound and the manifest's (possibly
        # JSON-coerced) stat into one comparable domain
        if isinstance(bound_val, decimal.Decimal):
            return bound_val, decimal.Decimal(str(stat_val))
        return _stat_to_json(bound_val), stat_val

    kept = []
    for f in files:
        fstats = stats.get(f, {})
        for col, (lo, hi) in bounds.items():
            if col not in fstats:
                continue  # no stats recorded — cannot exclude
            fmin, fmax = fstats[col]
            if fmin is None or fmax is None:
                continue  # all-null file — cannot exclude on range
            if hi is not None:
                chi, cmin = norm(hi, fmin)
                if cmin > chi:
                    break  # provably disjoint from the query range
            if lo is not None:
                clo, cmax = norm(lo, fmax)
                if cmax < clo:
                    break
        else:
            kept.append(f)
    return kept


def _register_bucketed(
    spark: SparkSession, name: str, data_dir: str, manifest: dict
) -> DataFrame:
    """Adopt a bucketed version's files into THIS session's catalog as
    table ``name`` — a ``CREATE TABLE ... CLUSTERED BY`` DDL, no data
    rewrite; Spark recovers each file's bucket from the ``_00000``-style
    suffix it wrote into the file name. Schema, bucket count, bucket key
    and sort keys come from the manifest alone: a DDL that disagreed
    with the files would make bucket pruning and the scan's reported
    partitioning lie, silently dropping rows from per-key reads."""
    from pyspark.sql.types import StructType

    layout = manifest["layout"]
    schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in StructType.fromJson(manifest["schema"]).fields
    )
    sort_ddl = ", ".join(f"`{k}`" for k in layout["sort_keys"])
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY (`{layout['bucket_key']}`) SORTED BY ({sort_ddl}) "
        f"INTO {layout['n_buckets']} BUCKETS LOCATION '{data_dir}'"
    )
    return spark.table(name)


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    bounds: dict[str, tuple] | None = None,
) -> DataFrame:
    """Time-travel read: the latest committed snapshot or an explicit
    committed version. Uncommitted (crashed) writes are invisible.

    ``bounds`` ({col: (lo, hi)} inclusive) prunes files via the
    manifest's per-file min/max stats (:func:`prune_files`) — the
    Iceberg scan-planning step: only surviving files are handed to the
    reader, driver-side, with no filesystem listing of the rest. The
    read is a SUPERSET of the rows matching ``bounds``; apply the exact
    filter on top (pruning is file-granular)."""
    committed = _committed_versions(table_dir)
    if not committed:
        raise FileNotFoundError(f"no committed snapshots under {table_dir}")
    if version is None:
        version = committed[-1]
    if version not in committed:
        raise FileNotFoundError(
            f"snapshot v{version:05d} of {table_dir} does not exist or was "
            f"never committed (committed: {committed})"
        )
    manifest = _load_manifest(table_dir, version)
    data_dir = os.path.join(_vdir(table_dir, version), "data")
    if not os.path.isdir(data_dir):
        raise FileNotFoundError(
            f"snapshot v{version:05d} of {table_dir} was expired — its "
            "manifest survives for inspection but the data is gone"
        )
    if bounds is None:
        layout = manifest.get("layout")
        if layout:
            # Serve the version as a catalog-backed bucketed scan so
            # windows/aggregations on the bucket key plan no Exchange.
            # The name is content-addressed by (dir, version) and
            # snapshots are immutable, so an existing registration is
            # simply reused (re-running the DDL would needlessly
            # invalidate cached plans over the table).
            # committed_at joins the digest so a table dir that was
            # deleted and re-created in the same session never reuses a
            # stale registration pointing at the old files
            digest = hashlib.md5(
                f"{os.path.abspath(table_dir)}@{version}"
                f"@{manifest.get('committed_at', 0.0)}".encode()
            ).hexdigest()[:16]
            name = f"snap_bucketed_{digest}"
            if spark.catalog.tableExists(name):
                return spark.table(name)
            out = _register_bucketed(spark, name, data_dir, manifest)
            # bound the session's registration footprint: remember the
            # newest registration THIS reader path created per table dir,
            # keyed by (version, committed_at), and drop it only when a
            # strictly newer one supersedes it — long sessions reading
            # many versions no longer accrete catalog entries, a read of
            # an OLDER version never drops the newer registration another
            # reader may be using, and registrations for OTHER dirs (or
            # made by other code) are never touched
            mine = getattr(spark, "_pacasam_snap_registrations", None)
            if mine is None:
                mine = {}
                spark._pacasam_snap_registrations = mine
            key = (version, manifest.get("committed_at", 0.0))
            prev = mine.get(os.path.abspath(table_dir))
            if prev is None or key > prev[0]:
                if prev is not None:
                    spark.sql(f"DROP TABLE IF EXISTS {prev[1]}")
                mine[os.path.abspath(table_dir)] = (key, name)
            return out
        return spark.read.parquet(data_dir)
    # explicit file list: the version's files that survive pruning
    paths = [os.path.join(data_dir, f) for f in prune_files(manifest, bounds)]
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(manifest["schema"])
    if not paths:  # every file pruned — empty result, manifest schema
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def snapshot_fps_inputs(
    spark: SparkSession,
    table_dir: str,
    columns: list[str],
    key: str,
    version: int | None = None,
) -> CatalogueProfile:
    """The catalogue profile the Diversity/Outliers legs read — merged
    global normalization statistics for ``columns``, the per-``key``
    row-count table chunked FPS needs and its total and maximum — from
    the snapshot MANIFESTS alone, no data scan (the Iceberg idiom of
    planning from manifest stats). A built profile: it feeds every leg
    of a sampling run, ``standardize(stats=...)`` and
    ``fps_sample(profile=...)`` included.

    The merge is exact (integer/Decimal arithmetic over the per-file
    partials the writer recorded), so sampler selections are
    bit-identical to the in-scan profile pass — verified by
    tests/test_manifest_stats.py.

    Raises ``ValueError`` when any file of the resolved version lacks
    partials for ``columns`` or key counts for ``key`` (table written
    without ``norm_columns``/``count_key``) — callers should then fall
    back to the in-scan pass or rewrite the table with stats.
    """
    import decimal

    v = latest_version(table_dir) if version is None else version
    m = _load_manifest(table_dir, v)
    stats: dict = {}
    for c in columns:
        stats[f"cnt_{c}"] = 0
        stats[f"nan_{c}"] = 0
        stats[f"min_{c}"] = None
        stats[f"s_{c}"] = None
        stats[f"ssq_{c}"] = None
    key_totals: dict = {}
    kc = m.get("key_counts") or {}
    for f in sorted(m["files"]):
        ns = m.get("norm_stats", {}).get(f)
        if ns is None or any(c not in ns for c in columns):
            raise ValueError(
                f"{table_dir} v{v:05d} has no normalization "
                f"partials for {columns} (file {f}); write the table with "
                f"norm_columns={columns} to enable manifest-fed sampling"
            )
        if kc.get("column") != key or f not in kc.get("by_file", {}):
            raise ValueError(
                f"{table_dir} v{v:05d} has no per-{key!r} row "
                f"counts (file {f}); write the table with count_key={key!r}"
            )
        for c in columns:
            e = ns[c]
            stats[f"cnt_{c}"] += e["cnt"]
            stats[f"nan_{c}"] += e["nan"]
            if e["min"] is not None:
                cur = stats[f"min_{c}"]
                stats[f"min_{c}"] = e["min"] if cur is None else min(cur, e["min"])
            for part in ("s", "ssq"):
                if e[part] is not None:
                    val = decimal.Decimal(e[part])
                    cur = stats[f"{part}_{c}"]
                    stats[f"{part}_{c}"] = val if cur is None else cur + val
        for k, n in kc["by_file"][f]:
            key_totals[k] = key_totals.get(k, 0) + n
    keys = sorted(key_totals)
    key_type = next(
        fld["type"]
        for fld in m["schema"]["fields"]
        if fld["name"] == key
    )
    return CatalogueProfile(
        # from Arrow: a LocalRelation, which runs no Python worker task
        per_file=spark.createDataFrame(
            pa.table({
                key: keys,
                "count": [key_totals[k] for k in keys],
            }),
            schema=f"{key} {key_type}, count long",
        ),
        total_rows=sum(key_totals.values()),
        max_rows_per_file=max(key_totals.values(), default=0),
        stats=stats,
    )


def expire_snapshots(table_dir: str, keep_last: int = 1) -> list[int]:
    """Drop the DATA of committed snapshots older than the newest
    ``keep_last`` — every version's files are its whole table, so no kept
    version reads them. Manifests stay — history remains inspectable.
    Returns the expired version numbers; uncommitted dirs are removed
    whole."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    committed = _committed_versions(table_dir)
    for v in committed[-keep_last:]:
        _load_manifest(table_dir, v)  # refuses a kept chain version first
    expired = []
    for v in committed[:-keep_last]:
        data_dir = os.path.join(_vdir(table_dir, v), "data")
        if os.path.isdir(data_dir):
            shutil.rmtree(data_dir)
            expired.append(v)
    for v in _versions(table_dir):
        if v not in committed:
            shutil.rmtree(_vdir(table_dir, v))
    return expired
