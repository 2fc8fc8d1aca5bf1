"""The seven pacasam samplers as lazy DataFrame pipelines (SURVEY.md §2.12).

API parity with the reference (samplers/sampler.py:25-40): each sampler is
constructed with ``(catalogue: DataFrame, sampling_config: dict)`` and
``get_patches()`` returns a DataFrame with the sampling schema
``(patch_id, split, sampler)``. Config keys mirror the reference YAML
(configs/Synthetic.yml): target_total_num_patches, frac_validation_set,
and per-sampler blocks.

Every sampler collects its selection once (``toArrow()``) and does the
selection-sized work on that driver-side table, as the reference does in
pandas: split assignment, first-wins merges of composite samplers' legs,
and the ``len()`` counts that set the next leg's quota (SURVEY.md §3.2).
A selection is capped by the sampler's target, so the driver holds at
most ``target_total_num_patches`` rows; only data-sized work (catalogue
scans, per-file rank windows, the FPS carve) runs as Spark jobs.
``get_selection()`` returns that table, ``get_patches()`` the same rows
as a DataFrame.
"""

from pacasam_spark.samplers.base import SAMPLER_REGISTRY, Sampler  # noqa: F401
from pacasam_spark.samplers.copy import CopySampler  # noqa: F401
from pacasam_spark.samplers.diversity import DiversitySampler  # noqa: F401
from pacasam_spark.samplers.outliers import OutliersSampler  # noqa: F401
from pacasam_spark.samplers.random import RandomSampler  # noqa: F401
from pacasam_spark.samplers.spatial import SpatialSampler  # noqa: F401
from pacasam_spark.samplers.targetted import TargettedSampler  # noqa: F401
from pacasam_spark.samplers.triple import TripleSampler  # noqa: F401

SAMPLER_REGISTRY.update(
    {
        "RandomSampler": RandomSampler,
        "SpatialSampler": SpatialSampler,
        "TargettedSampler": TargettedSampler,
        "DiversitySampler": DiversitySampler,
        "OutliersSampler": OutliersSampler,
        "TripleSampler": TripleSampler,
        "CopySampler": CopySampler,
    }
)
