"""Bucketed catalogue: a snapshot written with bucket_by=("file_id", n)
removes BOTH full-data exchanges feeding the FPS chunk-rank stage (the
groupBy(file_id) counts and the Window.partitionBy(file_id) rank), with
chunk assignment identical to the plain-parquet path."""

from __future__ import annotations

from pacasam_spark.operators.fps import CHUNK_ID, add_deterministic_chunk_ids
from pacasam_spark.sources.snapshots import read_snapshot


def _n_exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(
        "Exchange hashpartitioning"
    )


def test_bucketed_scan_removes_chunk_rank_shuffles(bucketed_catalogue):
    _, tbl, plain = bucketed_catalogue
    chunked_plain = add_deterministic_chunk_ids(plain, 100)
    chunked_tbl = add_deterministic_chunk_ids(tbl, 100)
    assert _n_exchanges(chunked_plain) >= 2  # counts agg + window rank
    assert _n_exchanges(chunked_tbl) == 0  # scan partitioning satisfies both
    plan = chunked_tbl._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan


def test_bucketed_chunk_ids_identical_to_plain(bucketed_catalogue):
    _, tbl, plain = bucketed_catalogue
    a, b = (
        sorted(
            (r["patch_id"], r[CHUNK_ID])
            for r in add_deterministic_chunk_ids(df, 100)
            .select("patch_id", CHUNK_ID)
            .collect()
        )
        for df in (plain, tbl)
    )
    assert len(a) == 2000
    assert a == b


def test_register_adopts_existing_bucket_layout(spark, bucketed_catalogue):
    """A catalog without the version's registration (a fresh session's)
    re-adopts the committed files by DDL from the manifest alone: no data
    rewrite, and the read still plans zero exchanges. Runs last in the
    module: it drops the registration the fixture's read uses."""
    import os

    d, tbl, _ = bucketed_catalogue
    # the catalog table the fixture's read resolved to
    plan = tbl._jdf.queryExecution().analyzed().toString()
    name = next(t.name for t in spark.catalog.listTables() if t.name in plan)
    files = sorted(
        os.path.join(root, f) for root, _, fs in os.walk(d) for f in fs
    )
    spark.sql(f"DROP TABLE {name}")
    assert not spark.catalog.tableExists(name)
    t2 = read_snapshot(spark, d)
    assert spark.catalog.tableExists(name)
    assert files == sorted(
        os.path.join(root, f) for root, _, fs in os.walk(d) for f in fs
    )
    assert t2.count() == 2000
    chunked = add_deterministic_chunk_ids(t2, 100)
    assert _n_exchanges(chunked) == 0
