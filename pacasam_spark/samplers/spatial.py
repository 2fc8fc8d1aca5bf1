"""SpatialSampler (reference: samplers/spatial.py:8-21): stratified-by-slab
sampling with optional exclusion of already-selected ids."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pacasam_spark import schemas as S
from pacasam_spark.operators.filters import exclude_ids, project_patch_info
from pacasam_spark.operators.sampling import sample_with_stratification
from pacasam_spark.samplers.base import Sampler


class SpatialSampler(Sampler):
    def get_patches(
        self,
        num_to_sample: int | None = None,
        current_selection_ids: DataFrame | pa.Table | None = None,
        salt: int | str = "auto",
    ) -> DataFrame:
        return self._as_dataframe(
            self.get_selection(num_to_sample, current_selection_ids, salt)
        )

    def get_selection(
        self,
        num_to_sample: int | None = None,
        current_selection_ids: DataFrame | pa.Table | None = None,
        salt: int | str = "auto",
    ) -> pa.Table:
        """``current_selection_ids``: ids to exclude, as a DataFrame or a
        driver-side selection table (broadcast: it is target-capped).
        ``salt``: forwarded to the stratified sampler. Callers that
        already know a per-stratum count bound (the catalogue profile's
        largest file — a completion draws from a SUBSET of the catalogue,
        so the catalogue's max stratum bounds it) pass the precomputed salt
        and skip the auto-detection's count job; output is identical
        either way."""
        if num_to_sample is None:
            num_to_sample = self.cf["target_total_num_patches"]
        patches = project_patch_info(self.db)
        if isinstance(current_selection_ids, pa.Table):
            current_selection_ids = F.broadcast(
                self.db.sparkSession.createDataFrame(
                    current_selection_ids.select([S.PATCH_ID])
                )
            )
        if current_selection_ids is not None:
            patches = exclude_ids(patches, current_selection_ids)
        sel = sample_with_stratification(
            patches, num_to_sample, keys=S.FILE_ID, seed=self.seed, salt=salt
        )
        return self._finalize(sel, split_keys=S.FILE_ID)
