"""DiversitySampler (reference: samplers/diversity.py:10-100): normalize
the class-histogram features, then chunked farthest-point sampling for
even coverage of the feature space, chunks following the
(file_id, patch_id) spatial order.

Both steps read one :class:`CatalogueProfile`: standardization its exact
statistics, FPS its per-file row counts and totals. A standalone run
makes its own (one grouped aggregation of the catalogue, or the snapshot
manifests with ``manifest_stats``); TripleSampler hands in the profile
its three legs share. Over a flat catalogue the pipeline reads the data
twice: the profile pass and the chunk-carve pass."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from pacasam_spark import schemas as S
from pacasam_spark.operators.fps import fps_sample
from pacasam_spark.operators.normalize import (
    CatalogueProfile,
    quantile_transform,
    standardize,
)
from pacasam_spark.samplers.base import Sampler


class DiversitySampler(Sampler):
    def profile(self) -> CatalogueProfile:
        """The catalogue profile this leg reads, which a composite's
        other legs share. It carries the statistics partials for
        standardization; with ``manifest_stats`` the manifests supply
        the whole profile, built with no scan, else it is unbuilt."""
        dcf = self.cf["DiversitySampler"]
        if dcf.get("manifest_stats"):
            return self._manifest_profile("DiversitySampler")
        standardized = dcf.get("normalization", "standardization") == "standardization"
        return CatalogueProfile.of(self.db, dcf["columns"] if standardized else ())

    def prepare(self, profile: CatalogueProfile) -> DataFrame:
        """The normalized feature table (idempotent). Standardization
        reads the statistics of ``profile`` — whose aggregation then runs
        here, inside ``standardize``, when this is its first reader."""
        if getattr(self, "_normalized", None) is None:
            dcf = self.cf["DiversitySampler"]
            cols = list(dcf["columns"])
            db = self.db.select(S.PATCH_ID, S.FILE_ID, *cols)
            if dcf.get("normalization", "standardization") != "standardization":
                if dcf.get("manifest_stats"):
                    raise ValueError(
                        "manifest_stats feeds standardization partials; the "
                        "quantile grid is not manifest-expressible — drop "
                        "manifest_stats for normalization=quantilization"
                    )
                db = quantile_transform(
                    db, cols, n_quantiles=dcf.get("n_quantiles", 50)
                )
            else:
                db = standardize(db, cols, stats=profile)
            self._normalized = db
        return self._normalized

    def get_patches(self, num_to_sample: int | None = None) -> DataFrame:
        return self._as_dataframe(self.get_selection(num_to_sample))

    def get_selection(
        self,
        num_to_sample: int | None = None,
        profile: CatalogueProfile | None = None,
    ) -> pa.Table:
        """``profile``: a composite's shared profile; without one the
        leg makes and releases its own."""
        if num_to_sample is None:
            num_to_sample = self.cf["target_total_num_patches"]
        if num_to_sample <= 0:
            # an empty draw (Triple's budget when the targetted leg fills
            # the target) needs neither the profile nor the carve
            return self._no_selection()
        dcf = self.cf["DiversitySampler"]
        own = profile is None
        if own:
            profile = self.profile()
        try:
            sel = fps_sample(
                self.prepare(profile),
                num_to_sample,
                feature_cols=list(dcf["columns"]),
                max_chunk_size=dcf.get("max_chunk_size_for_fps", 5000),
                profile=profile,
            ).select(S.PATCH_ID, S.FILE_ID)
            return self._finalize(sel, split_keys=S.FILE_ID)
        finally:
            if own:
                profile.release()
