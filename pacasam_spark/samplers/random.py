"""RandomSampler (reference: samplers/random.py:8-21)."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from pacasam_spark import schemas as S
from pacasam_spark.operators.filters import exclude_ids, project_patch_info
from pacasam_spark.operators.sampling import sample_randomly
from pacasam_spark.samplers.base import Sampler


class RandomSampler(Sampler):
    def get_patches(
        self,
        num_to_sample: int | None = None,
        current_selection_ids: DataFrame | None = None,
    ) -> DataFrame:
        return self._as_dataframe(
            self.get_selection(num_to_sample, current_selection_ids)
        )

    def get_selection(
        self,
        num_to_sample: int | None = None,
        current_selection_ids: DataFrame | None = None,
    ) -> pa.Table:
        if num_to_sample is None:
            num_to_sample = self.cf["target_total_num_patches"]
        patches = project_patch_info(self.db)
        if current_selection_ids is not None:
            patches = exclude_ids(patches, current_selection_ids)
        sel = sample_randomly(patches, num_to_sample, seed=self.seed)
        return self._finalize(sel, split_keys=S.FILE_ID)
