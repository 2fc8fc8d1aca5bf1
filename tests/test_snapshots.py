"""Snapshot/time-travel storage contract (sources/snapshots.py):
atomic commit, uncommitted writes invisible, per-file lineage in
every manifest, expire keeps history."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pacasam_spark.sources.snapshots import (
    expire_snapshots,
    read_snapshot,
    snapshots,
    write_snapshot,
)


def test_snapshot_versions_and_time_travel(spark, tmp_path):
    d = str(tmp_path / "tbl")
    df1 = spark.range(10).select(F.col("id").alias("patch_id"))
    df2 = spark.range(25).select(F.col("id").alias("patch_id"))
    assert write_snapshot(df1, d, {"seed": 1}) == 1
    assert write_snapshot(df2, d, {"seed": 2}) == 2

    assert read_snapshot(spark, d).count() == 25  # latest
    assert read_snapshot(spark, d, version=1).count() == 10  # time travel

    hist = snapshots(d)
    assert [m["version"] for m in hist] == [1, 2]
    assert hist[0]["parent_version"] is None
    assert hist[1]["parent_version"] == 1
    assert hist[1]["row_count"] == 25
    # every version's own files are the whole table
    assert [m["commit_type"] for m in hist] == ["overwrite", "overwrite"]
    assert [m["total_row_count"] for m in hist] == [10, 25]
    assert hist[1]["metadata"] == {"seed": 2}
    # per-file lineage: keyed by committed part-file basename, sums to
    # the total (writer-task layout, not read splits)
    assert sum(hist[1]["files"].values()) == 25
    data_dir = str(tmp_path / "tbl" / "v00002" / "data")
    on_disk = {f for f in os.listdir(data_dir) if f.endswith(".parquet")}
    assert set(hist[1]["files"]) <= on_disk
    # per-partition metrics ride the manifest: actual on-disk bytes,
    # keyed like the lineage
    assert set(hist[1]["file_bytes"]) == set(hist[1]["files"])
    for name, nbytes in hist[1]["file_bytes"].items():
        assert nbytes == os.path.getsize(os.path.join(data_dir, name))
        assert nbytes > 0


def test_snapshot_uncommitted_write_is_invisible(spark, tmp_path):
    """A killed writer leaves data without a manifest: readers skip it,
    the next writer takes a fresh version number."""
    d = str(tmp_path / "tbl")
    write_snapshot(spark.range(5), d)
    # simulate a crash: v2 data written, no manifest
    crashed = os.path.join(d, "v00002", "data")
    spark.range(99).write.parquet(crashed)

    assert read_snapshot(spark, d).count() == 5  # still v1
    assert [m["version"] for m in snapshots(d)] == [1]
    with pytest.raises(FileNotFoundError, match="never committed"):
        read_snapshot(spark, d, version=2)
    # next commit does NOT collide with the orphaned v2 dir
    v = write_snapshot(spark.range(7), d)
    assert v == 3
    assert read_snapshot(spark, d).count() == 7


def test_snapshot_expire_keeps_manifests(spark, tmp_path):
    d = str(tmp_path / "tbl")
    for n in (3, 6, 9):
        write_snapshot(spark.range(n), d)
    assert expire_snapshots(d, keep_last=1) == [1, 2]
    # history still inspectable, data of the survivor still readable
    assert [m["row_count"] for m in snapshots(d)] == [3, 6, 9]
    assert read_snapshot(spark, d).count() == 9
    with pytest.raises(FileNotFoundError, match="expired"):
        read_snapshot(spark, d, version=1)


def test_snapshot_empty_table_errors(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no committed"):
        read_snapshot(spark, str(tmp_path / "nope"))


def test_stats_on_temporal_and_decimal_columns(spark, tmp_path):
    """Per-file min/max on date/timestamp/decimal columns: JSON-coerced
    in the manifest, still exact for bounds pruning (round-6 ADVICE:
    json.dump used to raise AFTER the data was written, orphaning the
    version dir)."""
    import datetime
    from decimal import Decimal

    from pacasam_spark.sources.snapshots import prune_files

    d = str(tmp_path / "temporal")
    df = spark.sql(
        "select id, date_add(date'2026-01-01', cast(id as int)) as day, "
        "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) as ts, "
        "cast(cast(id as decimal(10,2)) / 4 as decimal(12,2)) as price "
        "from range(1000)"
    ).repartitionByRange(4, "id")
    write_snapshot(df, d, stats_columns=["day", "ts", "price"])
    m = snapshots(d)[-1]
    # manifest is valid JSON with string-coerced temporal stats
    some = next(iter(m["file_stats"].values()))
    assert isinstance(some["day"][0], str) and isinstance(some["ts"][0], str)

    # bounds pruning with python date / Decimal bound values
    day_bounds = {"day": (datetime.date(2026, 1, 2), datetime.date(2026, 1, 4))}
    assert 1 <= len(prune_files(m, day_bounds)) < len(m["files"])
    got = read_snapshot(spark, d, bounds=day_bounds).filter(
        "day between date'2026-01-02' and date'2026-01-04'"
    )
    assert got.count() == 3
    assert len(prune_files(m, {"price": (Decimal("2.00"), Decimal("3.00"))})) < len(
        m["files"]
    )

    # unsupported stats type is rejected BEFORE any data is written
    bad = spark.sql("select id, cast('ab' as binary) as blob from range(3)")
    with pytest.raises(ValueError, match="JSON-safe"):
        write_snapshot(bad, str(tmp_path / "badstats"), stats_columns=["blob"])
    import os as _os

    assert not _os.path.isdir(str(tmp_path / "badstats" / "v00001"))


def test_chain_versions_are_refused_not_misread(spark, tmp_path):
    """Every version's files are its whole table. A version an older
    writer committed as an append (its files layered on its parent's)
    is refused by every reader of its data — a read would return only
    the newest link's rows, expiry would delete parent data it reads —
    and nothing is removed."""
    from pacasam_spark.sources.snapshots import snapshot_fps_inputs

    d = str(tmp_path / "tbl")
    df = spark.range(6).select(
        F.col("id").alias("patch_id"), (F.col("id") % 2).alias("file_id"),
        F.col("id").cast("int").alias("nb_sol"),
    )
    write_snapshot(df, d, norm_columns=["nb_sol"], count_key="file_id")
    write_snapshot(df, d, norm_columns=["nb_sol"], count_key="file_id")
    path = os.path.join(d, "v00002", "manifest.json")
    with open(path) as f:
        m = json.load(f)
    m.update(commit_type="append", parent_version=1)
    with open(path, "w") as f:
        json.dump(m, f)

    with pytest.raises(ValueError, match="v00002 is an 'append' commit"):
        read_snapshot(spark, d)
    with pytest.raises(ValueError, match="rewrite the table with an overwrite"):
        snapshot_fps_inputs(spark, d, ["nb_sol"], key="file_id")
    with pytest.raises(ValueError, match="v00002 is an 'append' commit"):
        expire_snapshots(d, keep_last=1)
    for v in ("v00001", "v00002"):
        assert os.path.isdir(os.path.join(d, v, "data"))
    # the overwrite version before it still reads, and history lists both
    assert read_snapshot(spark, d, version=1).count() == 6
    assert [m["commit_type"] for m in snapshots(d)] == ["overwrite", "append"]


def test_as_of_timestamp_time_travel(spark, tmp_path):
    """read_snapshot(as_of=t) picks the newest version committed at or
    before t (Iceberg FOR TIMESTAMP AS OF); before-first raises,
    version+as_of together is an error."""
    d = str(tmp_path / "ts")
    write_snapshot(spark.range(10).select(F.col("id").alias("patch_id")), d)
    write_snapshot(spark.range(20).select(F.col("id").alias("patch_id")), d)
    hist = snapshots(d)
    t1, t2 = (m["committed_at"] for m in hist)
    assert t1 <= t2
    assert read_snapshot(spark, d, as_of=t1).count() == 10
    assert read_snapshot(spark, d, as_of=t2 + 1.0).count() == 20
    with pytest.raises(FileNotFoundError, match="at or before"):
        read_snapshot(spark, d, as_of=t1 - 60.0)
    with pytest.raises(ValueError, match="not both"):
        read_snapshot(spark, d, version=1, as_of=t2)


# --- bucketed snapshot layout (round 7: combined layout — zero-exchange
# scan AND manifest-fed stats from one table) -----------------------------


def _n_exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(
        "Exchange hashpartitioning"
    )


def test_bucketed_snapshot_zero_exchange_and_identical_rows(spark, tmp_path):
    from pacasam_spark.operators.fps import add_deterministic_chunk_ids
    from pacasam_spark.sources.synthetic import synthetic_catalogue

    d = str(tmp_path / "tbl")
    db = synthetic_catalogue(spark, db_size=2000)
    v = write_snapshot(
        db,
        d,
        bucket_by=("file_id", 8),
        sort_by=("file_id", "patch_id"),
        norm_columns=["nb_sol"],
        count_key="file_id",
    )
    m = snapshots(d)[-1]
    assert m["layout"] == {
        "bucket_key": "file_id",
        "n_buckets": 8,
        "sort_keys": ["file_id", "patch_id"],
    }
    tbl = read_snapshot(spark, d, version=v)
    # content identical to the source
    assert tbl.count() == 2000
    assert (
        tbl.exceptAll(db).count() == 0 and db.exceptAll(tbl).count() == 0
    )
    # the chunk-rank stage plans no shuffle over the bucketed scan
    chunked = add_deterministic_chunk_ids(tbl.select("patch_id", "file_id"), 100)
    assert _n_exchanges(chunked) == 0
    plan = chunked._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    # manifest stats recorded alongside the layout (the combined win)
    from pacasam_spark.sources.snapshots import snapshot_fps_inputs

    profile = snapshot_fps_inputs(spark, d, ["nb_sol"], "file_id")
    assert profile.stats["cnt_nb_sol"] > 0
    assert profile.per_file.agg(F.sum("count")).first()[0] == 2000
    assert profile.total_rows == 2000


def test_bucketed_snapshot_bounds_read_falls_back_to_plain_read(spark, tmp_path):
    """A bounds-pruned read of a bucketed version hands Spark an explicit
    file list, a plain scan with exactly the table's rows; an unpruned
    read of the same version is the zero-exchange bucketed scan."""
    from pacasam_spark.sources.snapshots import prune_files

    d = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id").alias("patch_id"), (F.col("id") % 4).alias("file_id")
    )
    v = write_snapshot(df, d, bucket_by=("file_id", 4), stats_columns=["file_id"])
    pruned = read_snapshot(spark, d, bounds={"file_id": (1, 2)})
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" not in plan
    got = sorted(r["patch_id"] for r in pruned.filter("file_id between 1 and 2").collect())
    assert got == [i for i in range(100) if i % 4 in (1, 2)]
    kept = prune_files(snapshots(d)[-1], {"file_id": (1, 2)})
    assert pruned.select(F.input_file_name()).distinct().count() == len(kept)
    grouped = read_snapshot(spark, d, version=v).groupBy("file_id").count()
    assert _n_exchanges(grouped) == 0
    assert grouped.count() == 4


def test_bucketed_registration_kept_when_older_version_is_read(spark, tmp_path, monkeypatch):
    """Reading an older version never drops the newer version's bucketed
    registration: after v2, v1, v2 the v2 registration still exists and
    the second v2 read reuses it instead of registering again."""
    from pacasam_spark.sources import bucketed

    d = str(tmp_path / "tbl")
    df = spark.range(40).select(
        F.col("id").alias("patch_id"), (F.col("id") % 4).alias("file_id")
    )
    v1 = write_snapshot(df, d, bucket_by=("file_id", 4))
    v2 = write_snapshot(df.where("patch_id < 20"), d, bucket_by=("file_id", 4))
    registered = []
    real = bucketed.register_bucketed_catalogue

    def counting(spark, name, *args, **kwargs):
        registered.append(name)
        return real(spark, name, *args, **kwargs)

    monkeypatch.setattr(bucketed, "register_bucketed_catalogue", counting)
    assert read_snapshot(spark, d, version=v2).count() == 20
    name_v2 = registered[-1]
    assert read_snapshot(spark, d, version=v1).count() == 40
    assert spark.catalog.tableExists(name_v2)
    assert read_snapshot(spark, d, version=v2).count() == 20
    assert len(registered) == 2 and registered[0] == name_v2
