"""Importing the package stops ``importlib.invalidate_caches()`` from
re-reading zip archives that did not change (Python < 3.13). pyspark's
worker calls it before every task, with about 14 zipimporters on
``pyspark.zip`` and the spark-core jar."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

import pacasam_spark  # noqa: F401  (installs the backport)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the backport is installed below 3.13 only"
)


def _write_zip(path: str, module: str, value: int) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{module}.py", f"VALUE = {value}\n")
    os.replace(tmp, path)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    module = f"zipped_{uuid.uuid4().hex}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, module, 1)
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(module).VALUE == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # an importer's first call reads once
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, module, 22)
    importlib.invalidate_caches()
    assert reads == [archive]
    del sys.modules[module]
    assert importlib.import_module(module).VALUE == 22
    del sys.modules[module]


def test_worker_tasks_reread_no_unchanged_archive(spark):
    """From inside a Python worker, with the package imported there, the
    call pyspark makes before each task re-reads no archive, over two
    runs of the same UDF (a worker serves many tasks)."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import pacasam_spark  # noqa: F401

        importlib.invalidate_caches()  # the first call after the import
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"reads": [len(reads)], "importers": [importers]}
        )

    df = spark.range(2500, numPartitions=1).mapInArrow(
        probe, "reads long, importers long"
    )
    for _ in range(2):
        rows = df.collect()
        assert [r["reads"] for r in rows] == [0]
        # pyspark.zip and the shipped package are imported from zips
        assert all(r["importers"] > 0 for r in rows)
