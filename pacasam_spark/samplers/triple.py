"""TripleSampler (reference: samplers/triple.py:10-40): targetted (no
completion) -> diversity on half the remainder -> spatial completion, with
first-wins dedup precedence targetted > diversity > spatial
(SURVEY.md §4.3-3).

Each leg hands back its selection as a driver-side Arrow table, so the
two quota computations are ``num_rows`` and the merges are driver-side
first-wins concats, like the reference's len() and
concat + drop_duplicates — no Spark job between the legs.

The legs share one :class:`CatalogueProfile`, one grouped aggregation of
the catalogue by file_id, built by its first reader and released when
the call returns.
"""

from __future__ import annotations

import warnings

import pyarrow as pa
from pyspark.sql import DataFrame

from pacasam_spark.operators.sampling import salt_for_max_stratum
from pacasam_spark.operators.union import union_first_wins
from pacasam_spark.samplers.base import Sampler
from pacasam_spark.samplers.diversity import DiversitySampler
from pacasam_spark.samplers.spatial import SpatialSampler
from pacasam_spark.samplers.targetted import TargettedSampler


def diversity_budget(target_total: int, n_targetted: int) -> int:
    """Half the remainder after targetted sampling (reference:
    samplers/triple.py:18) — negative when constraints exceed 100%.
    Factored out so q35's staged oracle checks the same arithmetic the
    pipeline runs."""
    return (target_total - n_targetted) // 2


class TripleSampler(Sampler):
    def get_patches(self) -> DataFrame:
        return self._as_dataframe(self.get_selection())

    def get_selection(self) -> pa.Table:
        target_total = self.cf["target_total_num_patches"]

        ts = TargettedSampler(
            self.db, self.cf, log=self.log, seed=self.seed,
            complete_with_spatial_sampling=False,
        )
        ds = DiversitySampler(self.db, self.cf, log=self.log, seed=self.seed + 1)
        # ONE catalogue profile serves the three legs: the targetted
        # leg's reachable total and salts, the diversity leg's statistics
        # and FPS totals, the completion's salt. A full resume (both
        # selection stages committed) reads none of it.
        full_resume = self._will_resume("targetted_plus_diverse")
        profile = ds.profile()
        try:
            if not full_resume:
                # over a flat catalogue, the diversity leg's standardize
                # runs the profile's aggregation; a snapshot catalogue's
                # manifests hold the whole profile, so none runs
                ds.prepare(profile)
            targetted = self._stage("targetted", lambda: ts.get_selection(profile))

            num_diverse = diversity_budget(target_total, targetted.num_rows)
            if num_diverse < 0:
                # reference warns (with a typo crash, triple.py:21 — not
                # replicated) and returns the targetted selection alone.
                warnings.warn(
                    f"Target dataset size of n={target_total} patches achieved via "
                    "targetted sampling single-handedly: the SUM OF CONSTRAINTS IS "
                    "ABOVE 100%."
                )
                return targetted

            selection = self._stage(
                "targetted_plus_diverse",
                lambda: union_first_wins(
                    [targetted, ds.get_selection(num_diverse, profile)]
                ),
            )

            ss = SpatialSampler(self.db, self.cf, log=self.log, seed=self.seed + 2)
            # the completion draws from a subset of the catalogue, so its
            # largest file bounds the strata (identical output for any
            # salt; a full resume lets the auto-detection choose)
            salt = "auto"
            if not full_resume:
                salt = salt_for_max_stratum(profile.build().max_rows_per_file)
            others = ss.get_selection(
                num_to_sample=target_total - selection.num_rows,
                current_selection_ids=selection,
                salt=salt,
            )
            return union_first_wins([selection, others])
        finally:
            profile.release()
