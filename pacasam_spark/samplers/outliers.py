"""OutliersSampler (reference: samplers/outliers.py:11-61): normalize,
score outliers, keep the top-k most outlying patches, stratify the val
split by (cluster_id, file_id).

The reference scores with HDBSCAN/GLOSH. Configs that pass the
reference's ``hdbscan_kwargs`` block (Lipac.yml:55-58) run the real
chunk-local HDBSCAN*+GLOSH kernel (operators/hdbscan_np.py); without
it the sampler keeps the cheaper chunk-local kNN-density scorer
(SURVEY.md §4.3-6) — both share the same carver framing and top-k.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pacasam_spark import schemas as S
from pacasam_spark.operators.outliers import (
    CLUSTER_ID,
    OUTLIER_SCORE,
    glosh_outlier_scores,
    knn_outlier_scores,
)
from pacasam_spark.operators.normalize import CatalogueProfile, standardize
from pacasam_spark.samplers.base import Sampler


class OutliersSampler(Sampler):
    def get_patches(self, num_to_sample: int | None = None) -> DataFrame:
        return self._as_dataframe(self.get_selection(num_to_sample))

    def get_selection(self, num_to_sample: int | None = None) -> pa.Table:
        if num_to_sample is None:
            num_to_sample = self.cf["target_total_num_patches"]
        ocf = self.cf["OutliersSampler"]
        cols = list(ocf["columns"])

        # always standardization: "the only one that gives good outliers"
        # (reference: outliers.py:40-41); its statistics and the per-file
        # counts chunking needs come from one catalogue profile — over a
        # snapshot-table catalogue with recorded partials, from the
        # manifests with no stats scan at all
        if ocf.get("manifest_stats"):
            profile = self._manifest_profile("OutliersSampler")
        else:
            profile = CatalogueProfile.of(self.db, cols)
        try:
            db = standardize(
                self.db.select(S.PATCH_ID, S.FILE_ID, *cols), cols, stats=profile
            )
            hk = ocf.get("hdbscan_kwargs")
            if hk is not None or ocf.get("method") == "glosh":
                hk = hk or {}
                if hk.get("cluster_selection_method", "eom") != "eom":
                    raise ValueError(
                        "only cluster_selection_method='eom' is implemented "
                        "(the reference's setting, Lipac.yml:58)"
                    )
                scored = glosh_outlier_scores(
                    db,
                    cols,
                    min_samples=int(hk.get("min_samples", 50)),
                    min_cluster_size=int(hk.get("min_cluster_size", 50)),
                    max_chunk_size=int(ocf.get("max_chunk_size", 5000)),
                    profile=profile,
                )
            else:
                scored = knn_outlier_scores(
                    db,
                    cols,
                    k=int(ocf.get("knn", 50)),
                    max_chunk_size=int(ocf.get("max_chunk_size", 5000)),
                    profile=profile,
                )
            # deterministic top-k (TakeOrdered): tiebreak on patch_id
            sel = (
                scored.orderBy(F.desc(OUTLIER_SCORE), S.PATCH_ID)
                .limit(num_to_sample)
                .select(S.PATCH_ID, S.FILE_ID, CLUSTER_ID)
            )
            return self._finalize(sel, split_keys=[CLUSTER_ID, S.FILE_ID])
        finally:
            profile.release()
