"""File/JDBC connector tests (SURVEY §2.1 S1/S3/S4, §2.2 K1) and the
ingest parity pipeline shape."""

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pacasam_spark.sources.files import (
    SamplingFormatError,
    check_sampling_format,
    load_sampling,
    read_catalogue,
    save_sampling,
)
from pacasam_spark.sources.jdbc import jdbc_scan_options, rewrite_samba_paths


def test_catalogue_roundtrip_drops_stale_sampling_cols(spark, catalogue, tmp_path):
    path = str(tmp_path / "cat")
    stale = catalogue.withColumn("split", F.lit("train")).withColumn(
        "sampler", F.lit("Old")
    )
    stale.write.parquet(path)
    back = read_catalogue(spark, path)
    assert "split" not in back.columns and "sampler" not in back.columns
    assert back.count() == 200


def test_sampling_format_check(spark, tmp_path):
    good = pa.schema([("patch_id", pa.int64()), ("split", pa.string())])
    check_sampling_format(good)
    with pytest.raises(SamplingFormatError):
        check_sampling_format(good.remove(good.get_field_index("split")))
    with pytest.raises(SamplingFormatError):
        check_sampling_format(
            pa.schema([("patch_id", pa.int64()), ("split", pa.int32())])
        )
    path = str(tmp_path / "sampling")
    save_sampling(spark.createDataFrame([(1, "train")], "patch_id long, split string"), path)
    # a catalogue sampling is keyed on the string image_id files are named by
    assert load_sampling(path).to_pydict() == {"image_id": ["1"], "split": ["train"]}


def test_save_sampling_one_driver_file(spark, catalogue, tmp_path):
    """save_sampling writes ONE parquet file from the driver. It replaces
    a Spark-written sampling, leaving no old part file and no
    ``_temporary`` of an interrupted Spark commit; Spark and
    load_sampling read it back equal, with the DataFrame's column
    types."""
    path = str(tmp_path / "sampling")
    catalogue.limit(120).withColumn("split", F.lit("train")).write.parquet(path)
    os.makedirs(os.path.join(path, "_temporary", "0"))
    old = sorted(os.listdir(path))
    assert any(f.startswith("part-") for f in old) and "_temporary" in old

    sel = catalogue.filter(F.col("patch_id") % 7 == 0).withColumn(
        "split", F.when(F.col("patch_id") % 2 == 0, "val").otherwise("train")
    )
    save_sampling(sel, path)
    assert os.listdir(path) == ["part-00000.parquet"]

    back = spark.read.parquet(path)
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in sel.schema
    ]
    assert back.orderBy("patch_id").collect() == sel.orderBy("patch_id").collect()
    want = sorted((str(r["patch_id"]), r["split"]) for r in sel.collect())
    got = load_sampling(path).to_pydict()
    assert sorted(zip(got["image_id"], got["split"])) == want


def test_jdbc_options_partitioned_scan():
    opts = jdbc_scan_options(
        "jdbc:postgresql://host/db", "select * from patches", num_partitions=32
    )
    assert opts["dbtable"].startswith("(select")
    assert opts["numPartitions"] == "32"
    assert opts["fetchsize"] == "100000"  # reference chunk size


def test_samba_path_rewrite(spark):
    df = spark.createDataFrame(
        [(r"\\store.ign.fr\lidar\d1\f.laz",)], "file_path string"
    )
    out = rewrite_samba_paths(df).first()
    assert out["file_path"] == "/mnt/lidar/d1/f.laz"


def test_ingest_parity_contract(spark):
    from pacasam_spark.sources.ingest_demo import ingest_parity

    out = ingest_parity(spark)
    rows = out.limit(2000).collect()
    assert len(rows) > 0
    # one row per vignette (the as-of rank-1 guarantees it)
    ids = [r["vignette_id"] for r in out.collect()]
    assert len(ids) == len(set(ids))
    r = rows[0]
    assert r["patch_id"].startswith("D") and len(r["patch_id"].split("-")[1]) == 9
    assert r["rgb_file"].startswith("/mnt/ortho/RVB/")
    assert r["irc_file"].startswith("/mnt/ortho/IRC/")


def test_jdbc_partition_ranges_exhaustive_and_disjoint():
    """S1 partition layout without a connection (r3 advice carried): the
    generated ranges tile the whole column domain — contiguous, sorted,
    open at both extremes — for a spread of bound/partition configs,
    including strides that don't divide evenly."""
    import pytest as _pytest

    from pacasam_spark.sources.jdbc import partition_ranges

    for lower, upper, n in [
        (0, 1000, 8),
        (0, 1000, 7),      # uneven stride
        (5, 17, 64),       # more partitions than values -> clamped
        (0, 1 << 40, 64),  # the default catalogue bounds
        (-100, 100, 3),    # negative lower bound
        (3, 3, 4),         # empty range -> single partition
    ]:
        ranges = partition_ranges(lower, upper, n)
        assert 1 <= len(ranges) <= n
        assert ranges[0][0] is None and ranges[-1][1] is None
        # contiguous + non-overlapping: each end == next start
        for (s0, e0), (s1, e1) in zip(ranges, ranges[1:]):
            assert e0 == s1 and e0 is not None
        # interior ranges are non-empty and increasing
        interior = ranges[1:-1]
        assert all(s < e for s, e in interior)

    with _pytest.raises(ValueError):
        partition_ranges(0, 10, 0)
    with _pytest.raises(ValueError):
        partition_ranges(10, 0, 4)

    # Negative lower bound pinned to Spark's actual boundaries (r5 ADVICE):
    # JDBCRelation.columnPartition uses Scala Long division (truncate
    # toward zero), so stride(-100, 100, 3) = 100/3 - (-100)/3 = 66 and
    # the boundaries are -34 / 32 — python floor division would give
    # -33 / 34.
    assert partition_ranges(-100, 100, 3) == [
        (None, -34),
        (-34, 32),
        (32, None),
    ]
