"""pacasam_spark — a from-scratch, PySpark-native patch-catalogue sampling
and spatial-join engine with the query/data-processing capabilities of
IGNF/pacasam (reference at /root/reference, studied for semantics only).

Architecture (idiomatic Spark, NOT a port):

- ``sources``   : deterministic synthetic catalogue generators + file scans
                  (reference: connectors/{synthetic,geopandas,lipac}.py)
- ``operators`` : composable DataFrame -> DataFrame transforms — filters,
                  exact-n deterministic sampling, normalization, FPS,
                  priority union-dedup, as-of join, dedup/similarity/text
                  training-data ops
- ``samplers``  : the seven pacasam samplers re-expressed as lazy DataFrame
                  pipelines (reference: samplers/*.py)
- ``spatial``   : hierarchical cell index (H3/S2-like generalization of the
                  reference's slab id), point-in-box joins, zone filters
- ``extract``   : image/patch extraction as Arrow UDF pipelines with a
                  resume manifest (reference: extractors/*.py)
- ``plans``     : lineage + metrics tables (north-rule checkpointing)
- ``streaming`` : Structured Streaming demos over the events table

Determinism policy (SURVEY.md §4.3-2): every random choice is a pure
function of a portable integer hash of the row key and a seed — never of
row order or partitioning — so results are bitwise reproducible across
cluster sizes and are expressible in ANSI SQL for DuckDB oracles.
"""

__version__ = "0.1.0"

import sys

if sys.version_info < (3, 13):
    # Before every task pyspark's worker calls importlib.invalidate_caches()
    # (pyspark/worker_util.py::setup_spark_files), and on Python < 3.13
    # that makes every zipimporter re-read its whole archive directory. A
    # worker holds about 12 importers on pyspark.zip (1,328 entries) and 2
    # on the spark-core jar Spark puts on its PYTHONPATH (5,359 entries):
    # about 0.2 CPU-s per task before the UDF starts, measured at 4 vCPU,
    # where an identity mapInArrow over 2,500 rows spends 0.001 CPU-s in
    # the UDF. Every worker imports this package when it unpickles one of
    # its kernels, so from then on an importer re-reads its archive only
    # when the file's (inode, size, mtime) differs from its last read.
    # Python 3.13 makes the invalidation lazy; delete this block once it
    # is the minimum Python.
    import os
    import zipimport

    def _reread_if_changed(importer, _reread=zipimport.zipimporter.invalidate_caches):
        try:
            st = os.stat(importer.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is None or key != getattr(importer, "_read_at", None):
            _reread(importer)
            importer._read_at = key

    zipimport.zipimporter.invalidate_caches = _reread_if_changed
