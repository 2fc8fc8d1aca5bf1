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


def test_append_commits_chain_without_copying(spark, tmp_path):
    """Append versions add files on top of the parent: reads resolve the
    chain (no data copied per commit), total_row_count tracks the
    logical table, per-commit row_count stays the delta, and an
    overwrite resets the chain."""
    d = str(tmp_path / "atbl")

    def batch(lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("patch_id"))

    assert write_snapshot(batch(0, 10), d, mode="append") == 1  # creates
    assert write_snapshot(batch(10, 15), d, mode="append") == 2
    assert write_snapshot(batch(15, 35), d, mode="append") == 3

    hist = snapshots(d)
    assert [m["commit_type"] for m in hist] == ["overwrite", "append", "append"]
    assert [m["row_count"] for m in hist] == [10, 5, 20]
    assert [m["total_row_count"] for m in hist] == [10, 15, 35]

    # time travel sees the table AS OF each version
    assert read_snapshot(spark, d, version=1).count() == 10
    assert read_snapshot(spark, d, version=2).count() == 15
    latest = read_snapshot(spark, d)
    assert sorted(r["patch_id"] for r in latest.collect()) == list(range(35))
    # v3's own data dir holds only its delta — nothing was rewritten
    v3_files = os.listdir(str(tmp_path / "atbl" / "v00003" / "data"))
    assert sum(
        os.path.getsize(str(tmp_path / "atbl" / "v00003" / "data" / f))
        for f in v3_files if f.endswith(".parquet")
    ) < sum(hist[2]["file_bytes"].values()) + 1  # == its manifest bytes

    # overwrite resets: the new table is just the overwrite's rows
    assert write_snapshot(batch(100, 103), d, mode="overwrite") == 4
    assert read_snapshot(spark, d).count() == 3
    assert snapshots(d)[-1]["total_row_count"] == 3


def test_append_schema_evolution_add_nullable_column(spark, tmp_path):
    """Iceberg add-column: an append may introduce a new nullable
    column; later reads null-backfill older files, and time travel to
    pre-evolution versions keeps the old schema."""
    d = str(tmp_path / "etbl")
    write_snapshot(
        spark.range(3).select(F.col("id").alias("patch_id")), d
    )
    v2 = write_snapshot(
        spark.range(3, 5).select(
            F.col("id").alias("patch_id"),
            F.concat(F.lit("w"), F.col("id")).alias("w"),
        ),
        d,
        mode="append",
    )
    assert v2 == 2
    latest = read_snapshot(spark, d).orderBy("patch_id").collect()
    assert [r["w"] for r in latest] == [None, None, None, "w3", "w4"]
    # pre-evolution time travel: old schema, old rows
    v1 = read_snapshot(spark, d, version=1)
    assert v1.columns == ["patch_id"] and v1.count() == 3
    # dropping a column is NOT evolution
    with pytest.raises(ValueError, match="missing columns"):
        write_snapshot(
            spark.range(9, 10).select(F.col("id").alias("patch_id")),
            d,
            mode="append",
        )
    # re-typing a column is NOT evolution either
    with pytest.raises(ValueError, match="type changes"):
        write_snapshot(
            spark.range(9, 10).select(
                F.col("id").cast("string").alias("patch_id"),
                F.concat(F.lit("w"), F.col("id")).alias("w"),
            ),
            d,
            mode="append",
        )


def test_append_schema_mismatch_raises_before_writing(spark, tmp_path):
    d = str(tmp_path / "stbl")
    write_snapshot(spark.range(5).select(F.col("id").alias("patch_id")), d)
    with pytest.raises(ValueError, match="different schema"):
        write_snapshot(
            spark.range(5).select(F.col("id").alias("other")), d, mode="append"
        )
    # the failed append claimed no version and left no data dir
    assert [m["version"] for m in snapshots(d)] == [1]
    assert not os.path.isdir(str(tmp_path / "stbl" / "v00002"))


def test_expire_keeps_data_referenced_by_append_chain(spark, tmp_path):
    """Iceberg expire semantics: v1's data survives expiry while the
    kept latest version still reads it through the chain; after an
    overwrite breaks the chain, the old data becomes expirable."""
    d = str(tmp_path / "etbl")
    df = spark.range(8).select(F.col("id").alias("patch_id"))
    write_snapshot(df, d)                                # v1
    write_snapshot(df.limit(3), d, mode="append")        # v2 -> v1
    write_snapshot(df.limit(2), d, mode="append")        # v3 -> v2 -> v1
    assert expire_snapshots(d, keep_last=1) == []        # all referenced
    assert read_snapshot(spark, d).count() == 13         # chain intact

    write_snapshot(df.limit(1), d, mode="overwrite")     # v4: chain cut
    assert sorted(expire_snapshots(d, keep_last=1)) == [1, 2, 3]
    assert read_snapshot(spark, d).count() == 1
    with pytest.raises(FileNotFoundError, match="expired"):
        read_snapshot(spark, d, version=3)


def test_append_chain_bounds_pruning_spans_versions(spark, tmp_path):
    """bounds pruning composes with append chains: each contributing
    manifest prunes its own files, results stay exact."""
    from pacasam_spark.spatial.zorder import cluster_by_zorder

    d = str(tmp_path / "abtbl")

    def pts(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("patch_id"),
            (F.pmod(F.xxhash64("id", F.lit(1)), 40_000_000) / 1000.0).alias("x"),
            (F.pmod(F.xxhash64("id", F.lit(2)), 40_000_000) / 1000.0).alias("y"),
        )

    write_snapshot(
        cluster_by_zorder(pts(0, 10_000), "x", "y", 8), d, stats_columns=["x", "y"]
    )
    write_snapshot(
        cluster_by_zorder(pts(10_000, 20_000), "x", "y", 8),
        d, mode="append", stats_columns=["x", "y"],
    )
    box = {"x": (3_000.0, 9_000.0), "y": (11_000.0, 17_000.0)}
    pred = F.col("x").between(*box["x"]) & F.col("y").between(*box["y"])
    full = read_snapshot(spark, d)
    assert full.count() == 20_000
    want = sorted(r["patch_id"] for r in full.filter(pred).collect())
    pruned = read_snapshot(spark, d, bounds=box)
    got = sorted(r["patch_id"] for r in pruned.filter(pred).collect())
    assert got == want and len(got) > 0
    files_read = pruned.select(F.input_file_name()).distinct().count()
    assert files_read < 16  # pruning bit on both chain links


def test_compaction_rewrites_chain_into_one_clustered_version(spark, tmp_path):
    """compact_snapshots folds an append chain into one overwrite commit
    (same rows), optionally z-ordered so bounds pruning is selective
    again; the old chain then becomes expirable."""
    from pacasam_spark.sources.snapshots import compact_snapshots, prune_files

    d = str(tmp_path / "ctbl")

    def pts(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("patch_id"),
            (F.pmod(F.xxhash64("id", F.lit(1)), 40_000_000) / 1000.0).alias("x"),
            (F.pmod(F.xxhash64("id", F.lit(2)), 40_000_000) / 1000.0).alias("y"),
        )

    # a "streaming" history: many small appends, no layout
    write_snapshot(pts(0, 4000).repartition(4), d, stats_columns=["x", "y"])
    for i in range(1, 5):
        write_snapshot(
            pts(4000 * i, 4000 * (i + 1)).repartition(4),
            d, mode="append", stats_columns=["x", "y"],
        )
    before = read_snapshot(spark, d)
    want = sorted(r["patch_id"] for r in before.collect())
    box = {"x": (3_000.0, 9_000.0), "y": (11_000.0, 17_000.0)}
    # hash placement: nothing prunes
    kept_before = sum(
        len(prune_files(m, box)) for m in snapshots(d)
    )
    assert kept_before == 20

    v = compact_snapshots(spark, d, zorder=("x", "y"), n_files=16)
    m = snapshots(d)[-1]
    assert m["version"] == v and m["commit_type"] == "overwrite"
    assert m["metadata"]["compaction_of"] == 5
    after = read_snapshot(spark, d)
    assert sorted(r["patch_id"] for r in after.collect()) == want
    # compacted layout prunes again
    assert len(prune_files(m, box)) < 8
    # and the chain is now reclaimable without touching the live version
    expired = expire_snapshots(d, keep_last=1)
    assert expired == [1, 2, 3, 4, 5]
    assert read_snapshot(spark, d).count() == 20_000


def test_upsert_rewrites_only_key_overlapping_files(spark, tmp_path):
    """Copy-on-write MERGE: rows with matching keys are replaced, new
    keys inserted, and with per-file key stats on a key-clustered
    layout only the overlapping files are rewritten — the rest are
    carried forward untouched and stay readable from their original
    version dirs."""
    from pacasam_spark.sources.snapshots import upsert_snapshot

    d = str(tmp_path / "utbl")

    def rows(lo, hi, val):
        return spark.range(lo, hi).select(
            F.col("id").alias("patch_id"), F.lit(val).alias("v")
        )

    # key-clustered layout: 8 files with disjoint patch_id ranges,
    # stats recorded on the key
    write_snapshot(
        rows(0, 8000, "old").repartitionByRange(8, "patch_id"),
        d, stats_columns=["patch_id"],
    )
    # update keys 100..199, insert keys 9000..9049 — touches ONE file
    up = rows(100, 200, "new").unionByName(rows(9000, 9050, "new"))
    v = upsert_snapshot(spark, d, up, key="patch_id", stats_columns=["patch_id"])
    m = snapshots(d)[-1]
    assert v == 2 and m["commit_type"] == "upsert"
    assert m["metadata"] == {"upsert_key": "patch_id", "files_rewritten": 1}
    assert len(m["removed"]) == 1 and m["removed"][0][0] == 1
    assert m["total_row_count"] == 8050

    out = read_snapshot(spark, d)
    assert out.count() == 8050
    got = {r["patch_id"]: r["v"] for r in out.collect()}
    assert all(got[i] == "new" for i in range(100, 200))
    assert all(got[i] == "new" for i in range(9000, 9050))
    assert got[50] == "old" and got[7999] == "old"
    # untouched files are served from v1's data dir (no copy)
    srcs = {
        r["f"]
        for r in out.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert sum("v00001" in s for s in srcs) == 7
    # time travel: the pre-upsert version still reads the OLD values
    v1 = {r["patch_id"]: r["v"] for r in read_snapshot(spark, d, version=1).collect()}
    assert v1[150] == "old" and len(v1) == 8000


def test_upsert_without_key_stats_is_conservative_but_exact(spark, tmp_path):
    from pacasam_spark.sources.snapshots import upsert_snapshot

    d = str(tmp_path / "utbl2")
    df = spark.range(100).select(F.col("id").alias("patch_id"), F.lit("a").alias("v"))
    write_snapshot(df.repartition(4), d)  # no stats recorded
    up = spark.range(10, 20).select(F.col("id").alias("patch_id"), F.lit("b").alias("v"))
    upsert_snapshot(spark, d, up, key="patch_id")
    m = snapshots(d)[-1]
    assert m["metadata"]["files_rewritten"] == 4  # all of them
    got = {r["patch_id"]: r["v"] for r in read_snapshot(spark, d).collect()}
    assert len(got) == 100
    assert all(got[i] == ("b" if 10 <= i < 20 else "a") for i in range(100))


def test_chained_upserts_and_appends_resolve_correctly(spark, tmp_path):
    """upsert -> append -> upsert chains: removals accumulate, totals
    track, and the latest read is exact."""
    from pacasam_spark.sources.snapshots import upsert_snapshot

    d = str(tmp_path / "utbl3")

    def rows(ids, val):
        return spark.createDataFrame(
            [(i, val) for i in ids], "patch_id long, v string"
        )

    write_snapshot(
        rows(range(100), "v1").repartitionByRange(4, "patch_id"),
        d, stats_columns=["patch_id"],
    )
    upsert_snapshot(spark, d, rows([5, 6], "v2"), "patch_id",
                    stats_columns=["patch_id"])
    write_snapshot(rows(range(100, 110), "v3"), d, mode="append",
                   stats_columns=["patch_id"])
    upsert_snapshot(spark, d, rows([5, 105, 200], "v4"), "patch_id",
                    stats_columns=["patch_id"])
    assert snapshots(d)[-1]["total_row_count"] == 111
    got = {r["patch_id"]: r["v"] for r in read_snapshot(spark, d).collect()}
    assert len(got) == 111
    assert got[5] == "v4" and got[6] == "v2" and got[105] == "v4"
    assert got[200] == "v4" and got[0] == "v1" and got[100] == "v3"


def test_upsert_duplicate_source_keys_raise(spark, tmp_path):
    """MERGE needs one source row per key: silently keeping both rows of
    a duplicate-key source would commit a duplicate-key table (Iceberg
    raises on multiple matching source rows)."""
    from pacasam_spark.sources.snapshots import upsert_snapshot

    d = str(tmp_path / "dup")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "patch_id long, v string"), d
    )
    dup = spark.createDataFrame(
        [(2, "x"), (2, "y")], "patch_id long, v string"
    )
    with pytest.raises(ValueError, match="duplicate 'patch_id'"):
        upsert_snapshot(spark, d, dup, key="patch_id")
    # the refused upsert committed nothing
    assert [m["version"] for m in snapshots(d)] == [1]


def test_stats_on_temporal_and_decimal_columns(spark, tmp_path):
    """Per-file min/max on date/timestamp/decimal columns: JSON-coerced
    in the manifest, still exact for bounds pruning and for upsert's
    affected-file detection (round-6 ADVICE: json.dump used to raise
    AFTER the data was written, orphaning the version dir)."""
    import datetime
    from decimal import Decimal

    from pacasam_spark.sources.snapshots import prune_files, upsert_snapshot

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

    # upsert keyed on a DATE column round-trips through the string stats
    up = spark.sql(
        "select date'2026-01-05' as day, timestamp'2030-01-01 00:00:00' as ts, "
        "cast(9.99 as decimal(12,2)) as price, cast(9999 as bigint) as id"
    ).select("id", "day", "ts", "price")
    upsert_snapshot(spark, d, up, key="day", stats_columns=["day", "ts", "price"])
    m2 = snapshots(d)[-1]
    assert m2["metadata"]["files_rewritten"] == 1  # only the overlapping file
    out = read_snapshot(spark, d).filter("day = date'2026-01-05'").collect()
    assert len(out) == 1 and out[0]["id"] == 9999

    # unsupported stats type is rejected BEFORE any data is written
    bad = spark.sql("select id, cast('ab' as binary) as blob from range(3)")
    with pytest.raises(ValueError, match="JSON-safe"):
        write_snapshot(bad, str(tmp_path / "badstats"), stats_columns=["blob"])
    import os as _os

    assert not _os.path.isdir(str(tmp_path / "badstats" / "v00001"))


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


def test_bucketed_snapshot_append_falls_back_to_plain_read(spark, tmp_path):
    d = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id").alias("patch_id"), (F.col("id") % 4).alias("file_id")
    )
    write_snapshot(df, d, bucket_by=("file_id", 4))
    more = spark.range(100, 120).select(
        F.col("id").alias("patch_id"), (F.col("id") % 4).alias("file_id")
    )
    write_snapshot(more, d, mode="append")
    out = read_snapshot(spark, d)
    assert out.count() == 120  # chain read is correct, just not bucketed
    # layout-aware reads come back after a bucketed compaction
    from pacasam_spark.sources.snapshots import compact_snapshots

    v3 = compact_snapshots(spark, d, bucket_by=("file_id", 4))
    assert snapshots(d)[-1]["layout"]["n_buckets"] == 4
    grouped = read_snapshot(spark, d, version=v3).groupBy("file_id").count()
    assert _n_exchanges(grouped) == 0
    assert grouped.count() == 4


def test_bucketed_snapshot_rejects_append_mode(spark, tmp_path):
    d = str(tmp_path / "tbl")
    df = spark.range(10).select(
        F.col("id").alias("patch_id"), (F.col("id") % 2).alias("file_id")
    )
    write_snapshot(df, d)
    with pytest.raises(ValueError, match="overwrite commits only"):
        write_snapshot(df, d, mode="append", bucket_by=("file_id", 2))


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
