"""TargettedSampler (reference: samplers/targetted.py:13-105).

For each boolean target (ascending quota order, reference
targetted.py:85-96): filter -> stratified exact-n sample (Spark) ->
collect + split assignment (driver); union with first-wins precedence on
the driver's tables; optionally complete with
SpatialSampler, rebalancing the validation fraction so the FINAL val count
is floor(frac * n) for the n rows returned (reference targetted.py:46-51 —
replicated as arithmetic, not as the reference's in-place config mutation).

One :class:`CatalogueProfile` (rows per file) gives the reachable
total and the skew salt of every branch and of the completion;
TripleSampler passes the profile its three legs share. No targets is an
empty targetted selection.
"""

from __future__ import annotations

import warnings
from math import floor

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from pacasam_spark import schemas as S
from pacasam_spark.operators.filters import filter_by_boolean_descriptor
from pacasam_spark.operators.normalize import CatalogueProfile
from pacasam_spark.operators.sampling import (
    salt_for_max_stratum,
    sample_with_stratification,
)
from pacasam_spark.operators.union import union_first_wins
from pacasam_spark.samplers.base import Sampler
from pacasam_spark.samplers.spatial import SpatialSampler


class TargettedSampler(Sampler):
    def __init__(self, *args, complete_with_spatial_sampling: bool = True, **kwargs):
        super().__init__(*args, **kwargs)
        self.complete_with_spatial_sampling = complete_with_spatial_sampling

    def sorted_targets(self, targets: dict) -> dict:
        """O5: ascending target_min_samples_proportion
        (reference: targetted.py:85-96)."""
        return dict(
            sorted(targets.items(), key=lambda kv: kv[1]["target_min_samples_proportion"])
        )

    def get_patches(self) -> DataFrame:
        return self._as_dataframe(self.get_selection())

    def get_selection(self, profile: CatalogueProfile | None = None) -> pa.Table:
        """``profile``: a composite's shared catalogue profile; a
        standalone run aggregates its own."""
        target_total = self.cf["target_total_num_patches"]
        targets = self.sorted_targets(self.cf["TargettedSampler"]["targets"])
        if profile is None:
            profile = CatalogueProfile.of(self.db, persist=False)
        profile.build()
        # a target above the catalogue size is met by the whole catalogue
        reachable = min(target_total, profile.total_rows)

        quotas = [
            int(o["target_min_samples_proportion"] * target_total)
            for o in targets.values()
        ]
        # a branch and the completion draw from subsets of the catalogue,
        # so its largest file bounds their strata: one salt for all (the
        # auto-salt detection would run a per-strata count scan PER
        # TARGET; the salt only selects the skew-guard execution
        # strategy, the output is identical for any salt)
        salt = salt_for_max_stratum(profile.max_rows_per_file)
        # Measured dead end, do not retry: merging the four per-target
        # rank windows into ONE window over the tagged union (per-target
        # seed via a tag-indexed premixed-seed column) produced an
        # IDENTICAL selection but ran ~40% slower at bench scale — the
        # branches partition the catalogue, so the union shuffles the
        # same bytes the four windows shuffle combined (no saving at any
        # scale), while the four concurrent per-branch jobs already
        # overlap their latency and the merged plan adds a persist
        # materialization before the per-target cuts.

        def build_target(i: int, name: str, objectives: dict) -> pa.Table:
            matching = filter_by_boolean_descriptor(self.db, name).select(
                S.PATCH_ID, S.FILE_ID
            )
            # "cannot take more than there is" (targetted.py:68): the
            # window-rank sampler caps at the available count naturally.
            sel = sample_with_stratification(
                matching,
                quotas[i],
                keys=S.FILE_ID,
                seed=self.seed + 7 * i,
                salt=salt,
            )
            return self._finalize(sel, seed_offset=7 * i + 1)

        # The per-target pipelines are independent; their collects run
        # concurrently so the Spark scheduler overlaps the jobs instead of
        # serializing latency.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max(1, len(targets))) as pool:
            futures = [
                pool.submit(build_target, i, name, objectives)
                for i, (name, objectives) in enumerate(targets.items())
            ]
            selections = [f.result() for f in futures]

        # first-wins precedence on dedup, like concat order in the reference
        selection = union_first_wins(selections) if selections else self._no_selection()
        n_selected = selection.num_rows
        self.log.info(f"{self.name}: N={n_selected} distinct patches for targets.")

        if n_selected > target_total:
            warnings.warn(
                f"Selected more than the desired total of N={target_total}. "
                "If this is not desired, please reconsider your targets."
            )
            return selection
        if not self.complete_with_spatial_sampling or n_selected == reachable:
            return selection

        # Completion: rebalance the val fraction so the final val count is
        # floor(frac * n) (reference: targetted.py:46-51), n being the
        # target, or the catalogue size when the target is larger.
        num_to_add = reachable - n_selected
        frac = self.cf.get("frac_validation_set") or 0.0
        final_val = floor(frac * reachable)
        val_so_far = selection.filter(pc.equal(selection[S.SPLIT], "val")).num_rows
        frac_for_completion = max(0.0, (final_val - val_so_far) / num_to_add)

        completion_cf = dict(self.cf)
        completion_cf["frac_validation_set"] = frac_for_completion
        ss = SpatialSampler(self.db, completion_cf, log=self.log, seed=self.seed + 991)
        completion = ss.get_selection(
            num_to_sample=num_to_add,
            current_selection_ids=selection,
            salt=salt,
        )
        return pa.concat_tables([selection, completion], promote_options="default")


def targetted_sampler_sql(
    source_sql: str,
    cf: dict,
    seed: int = 42,
    with_diversity_budget: bool = False,
) -> str:
    """DuckDB/ANSI oracle text for the whole no-completion
    :class:`TargettedSampler` stage — quota arithmetic, boolean-descriptor
    filter, per-target stratified window-rank cut, split assignment
    (the nested exact-n val sample with its rebased seed), first-wins
    union precedence — mirroring ``get_patches`` term by term so the
    driver's value-hash compare certifies the production code path
    (reference: samplers/targetted.py:13-105). With
    ``with_diversity_budget`` the TripleSampler's follow-on quota
    ``(target_total - n_targetted) // 2`` (reference: samplers/triple.py:18)
    is emitted as a column, so the stage-budget arithmetic is oracled too.
    The only TripleSampler stages NOT covered are the FPS argmax and the
    spatial completion draw, golden-pinned in tests/test_golden.py.
    """
    from pacasam_spark.operators.hashing import det_hash_sql

    target_total = cf["target_total_num_patches"]
    frac = cf.get("frac_validation_set") or 0.0
    targets = sorted(
        cf["TargettedSampler"]["targets"].items(),
        key=lambda kv: kv[1]["target_min_samples_proportion"],
    )
    ctes = [f"cat as ({source_sql})"]
    branches = []
    for i, (tname, objectives) in enumerate(targets):
        quota = int(objectives["target_min_samples_proportion"] * target_total)
        h = det_hash_sql("patch_id", seed + 7 * i)
        hv = det_hash_sql("patch_id", seed + 7 * i + 1)
        ctes.append(
            f"m{i} as (select patch_id, file_id from cat where {tname})"
        )
        ctes.append(
            f"""r{i} as (
  select patch_id, file_id,
         row_number() over (partition by file_id order by {h}, patch_id) as rk
  from m{i})"""
        )
        ctes.append(
            f"""s{i} as (
  select patch_id, file_id from (
    select patch_id, file_id,
           row_number() over (order by rk, {h}, patch_id) as cut
    from r{i})
  where cut <= {quota})"""
        )
        if frac:
            ctes.append(
                f"""vr{i} as (
  select patch_id,
         row_number() over (partition by file_id order by {hv}, patch_id) as rk
  from s{i})"""
            )
            ctes.append(
                f"""vc{i} as (
  select patch_id, row_number() over (order by rk, {hv}, patch_id) as vcut
  from vr{i})"""
            )
            split_expr = (
                f"case when v.vcut <= cast(floor({frac} * "
                f"(select count(*) from s{i}) + 1e-9) as bigint) "
                "then 'val' else 'train' end"
            )
            ctes.append(
                f"""t{i} as (
  select s.patch_id, {split_expr} as split,
         'TargettedSampler' as sampler, {i} as prio
  from s{i} s join vc{i} v using (patch_id))"""
            )
        else:
            ctes.append(
                f"""t{i} as (
  select patch_id, 'test' as split, 'TargettedSampler' as sampler, {i} as prio
  from s{i})"""
            )
        branches.append(f"select * from t{i}")
    union = "\nunion all\n".join(branches)
    ctes.append(f"u as ({union})")
    ctes.append(
        """final as (
  select patch_id, split, sampler from (
    select *, row_number() over (partition by patch_id order by prio) as rn
    from u)
  where rn = 1)"""
    )
    body = ",\n".join(ctes)
    if with_diversity_budget:
        budget = (
            f"cast(floor(({target_total} - (select count(*) from final)) / 2.0)"
            " as bigint) as num_diverse"
        )
        return f"with {body}\nselect patch_id, split, sampler, {budget} from final"
    return f"with {body}\nselect patch_id, split, sampler from final"
