"""DiversitySampler (reference: samplers/diversity.py:10-100): normalize
the class-histogram features, then chunked farthest-point sampling for
even coverage of the feature space, chunks following the
(file_id, patch_id) spatial order.

The normalization statistics and FPS's per-file chunk counts ride ONE
grouped aggregation (``file_counts_key=file_id``), so the whole pipeline
reads the catalogue exactly twice: the fused stats/counts pass and the
chunk-carve pass — the round-5 stage decomposition showed the stats agg
is memory-bandwidth-bound, so removing the separate count scan shrinks
exactly the fraction that caps single-box scaling."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from pacasam_spark import schemas as S
from pacasam_spark.operators.fps import fps_sample
from pacasam_spark.operators.normalize import (
    quantile_transform,
    release_counts,
    standardize,
)
from pacasam_spark.samplers.base import Sampler


def _no_rows(df: DataFrame) -> pa.Table:
    """No rows, typed as ``df.toArrow()`` types them, without its Spark
    job (``df.limit(0).toArrow()`` submits one). Every column nullable,
    as in a drawn selection."""
    large = df.sparkSession.conf.get("spark.sql.execution.arrow.useLargeVarTypes")
    schema = to_arrow_schema(df.schema, prefers_large_types=large == "true")
    return pa.schema([f.with_nullable(True) for f in schema]).empty_table()


class DiversitySampler(Sampler):
    def prepare(self) -> "DiversitySampler":
        """Run the normalization statistics pass NOW — the only driver
        barrier in this leg that does not depend on ``num_to_sample`` —
        so a composite sampler can overlap it with its other legs
        (guide §2.6 "overlap independent jobs": TripleSampler submits
        this from a thread while the targetted leg runs, and the stats
        scan hides under the targetted windows instead of serializing
        after them). Idempotent; ``get_patches`` reuses the result.
        Values are identical either way — same jobs, different order.
        :meth:`get_selection` releases the result; a caller that prepares
        and then skips the leg calls :meth:`release`."""
        if getattr(self, "_prepared", None) is None:
            self._prepared = self._normalized_inputs()
        return self

    def release(self) -> None:
        """Drop the prepared inputs and unpersist the per-file aggregate
        the statistics pass cached for the FPS carve."""
        prepared, self._prepared = getattr(self, "_prepared", None), None
        if prepared is not None:
            release_counts(prepared[1])

    def _normalized_inputs(self):
        dcf = self.cf["DiversitySampler"]
        cols = list(dcf["columns"])

        db = self.db.select(S.PATCH_ID, S.FILE_ID, *cols)
        snap = dcf.get("manifest_stats")
        if snap:
            # catalogue is a snapshot table whose manifests carry the
            # exact normalization partials + per-file_id counts
            # (write_snapshot(norm_columns=, count_key=)): the stats
            # pass disappears and the ONLY data read left in the whole
            # pipeline is the FPS carve scan. Bit-identical to the
            # in-scan pass (tests/test_manifest_stats.py).
            if dcf.get("normalization", "standardization") != "standardization":
                raise ValueError(
                    "manifest_stats feeds standardization partials; the "
                    "quantile grid is not manifest-expressible — drop "
                    "manifest_stats for normalization=quantilization"
                )
            from pacasam_spark.sources.snapshots import snapshot_fps_inputs

            stats, counts = snapshot_fps_inputs(
                self.db.sparkSession,
                snap["dir"],
                cols,
                key=S.FILE_ID,
                version=snap.get("version"),
            )
            db = standardize(db, cols, stats=stats)
        elif dcf.get("normalization", "standardization") == "standardization":
            db, counts = standardize(db, cols, file_counts_key=S.FILE_ID)
        else:
            db, counts = quantile_transform(
                db,
                cols,
                n_quantiles=dcf.get("n_quantiles", 50),
                file_counts_key=S.FILE_ID,
            )
        return db, counts

    def get_patches(self, num_to_sample: int | None = None) -> DataFrame:
        return self._as_dataframe(self.get_selection(num_to_sample))

    def get_selection(self, num_to_sample: int | None = None) -> pa.Table:
        if num_to_sample is None:
            num_to_sample = self.cf["target_total_num_patches"]
        if num_to_sample <= 0:
            # an empty draw (Triple's budget when the targetted leg fills
            # the target) needs neither the statistics pass nor the carve
            self.release()
            return self._finalize(_no_rows(self.db.select(S.PATCH_ID, S.FILE_ID)))
        dcf = self.cf["DiversitySampler"]
        cols = list(dcf["columns"])
        db, counts = self.prepare()._prepared
        try:
            sel = fps_sample(
                db,
                num_to_sample,
                feature_cols=cols,
                max_chunk_size=dcf.get("max_chunk_size_for_fps", 5000),
                counts=counts,
            ).select(S.PATCH_ID, S.FILE_ID)
            return self._finalize(sel, split_keys=S.FILE_ID)
        finally:
            self.release()
