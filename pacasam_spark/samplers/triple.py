"""TripleSampler (reference: samplers/triple.py:10-40): targetted (no
completion) -> diversity on half the remainder -> spatial completion, with
first-wins dedup precedence targetted > diversity > spatial
(SURVEY.md §4.3-3).

Each leg hands back its selection as a driver-side Arrow table, so the
two quota computations are ``num_rows`` and the merges are driver-side
first-wins concats, like the reference's len() and
concat + drop_duplicates — no Spark job between the legs.
"""

from __future__ import annotations

import warnings

import pyarrow as pa
from pyspark.sql import DataFrame

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
        # Overlap independent jobs (guide §2.6): the diversity leg's
        # normalization statistics pass depends only on the catalogue,
        # not on the targetted count — submit it from a thread so it
        # back-fills executors while the targetted windows run, instead
        # of serializing after them. Same jobs, same values, less wall.
        # A committed targetted_plus_diverse stage never runs the
        # diversity leg, so its statistics scan is not submitted at all.
        from concurrent.futures import ThreadPoolExecutor

        resume_diverse = self._will_resume("targetted_plus_diverse")
        with ThreadPoolExecutor(max_workers=1) as pool:
            prep = None if resume_diverse else pool.submit(ds.prepare)
            targetted = self._stage("targetted", ts.get_selection)
            if prep is not None:
                prep.result()

        num_diverse = diversity_budget(target_total, targetted.num_rows)
        if num_diverse < 0:
            # reference warns (with a typo crash, triple.py:21 — not
            # replicated) and returns the targetted selection alone.
            warnings.warn(
                f"Target dataset size of n={target_total} patches achieved via "
                "targetted sampling single-handedly: the SUM OF CONSTRAINTS IS "
                "ABOVE 100%."
            )
            ds.release()
            return targetted

        selection = self._stage(
            "targetted_plus_diverse",
            lambda: union_first_wins(
                [targetted, ds.get_selection(num_to_sample=num_diverse)]
            ),
        )

        num_to_complete = target_total - selection.num_rows
        ss = SpatialSampler(self.db, self.cf, log=self.log, seed=self.seed + 2)
        # reuse the targetted leg's catalogue-wide stratum bound (its
        # fused probe) for the completion draw's salt choice: the draw
        # samples a SUBSET of the catalogue, so the bound holds and the
        # auto-detection's count job over the anti-joined remainder is
        # skipped (identical output; absent on checkpoint resume, where
        # the probe never ran, so fall back to auto).
        from pacasam_spark.operators.sampling import salt_for_max_stratum

        bound = getattr(ts, "stratum_max_bound", None)
        others = ss.get_selection(
            num_to_sample=num_to_complete,
            current_selection_ids=selection,
            salt="auto" if bound is None else salt_for_max_stratum(bound),
        )
        return union_first_wins([selection, others])
