"""Base sampler (reference: samplers/sampler.py)."""

from __future__ import annotations

import atexit
import hashlib
import json
import logging
import os
import shutil
import tempfile
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from pacasam_spark import schemas as S
from pacasam_spark.operators.split import assign_split

SAMPLER_REGISTRY: dict[str, type] = {}


class Sampler:
    """Abstract sampler. Subclasses implement ``get_selection()``, which
    returns the selection as a driver-side ``pyarrow.Table`` with columns
    (patch_id, split, sampler), and ``get_patches()``, the public API,
    which returns the same rows as a DataFrame (``_as_dataframe``).

    A selection is capped by the sampler's target, so the driver holds
    at most ``target_total_num_patches`` rows of (patch_id, strata keys,
    split) — the bound joins.py already accepts for a broadcast
    selection. Composite samplers merge and count their legs' tables on
    the driver; only the data-sized work (catalogue scans, per-file rank
    windows, the FPS carve) runs as Spark jobs."""

    def __init__(
        self,
        catalogue: DataFrame,
        sampling_config: dict,
        log: logging.Logger | None = None,
        seed: int = 42,
    ):
        self.name = type(self).__name__
        self.db = catalogue
        self.cf = sampling_config
        self.log = log or logging.getLogger(self.name)
        self.seed = seed

    def get_patches(self, **kwargs) -> DataFrame:
        raise NotImplementedError

    def get_selection(self, **kwargs) -> pa.Table:
        raise NotImplementedError

    # --- shared helpers -------------------------------------------------

    def _as_dataframe(self, selection: pa.Table) -> DataFrame:
        return self.db.sparkSession.createDataFrame(selection)

    def _no_selection(self) -> pa.Table:
        """An empty selection with the sampling schema, typed as
        ``toArrow`` types a drawn one, without its Spark job
        (``df.limit(0).toArrow()`` submits one). Every column nullable,
        as in a drawn selection."""
        df = self.db.select(S.PATCH_ID, S.FILE_ID)
        large = df.sparkSession.conf.get("spark.sql.execution.arrow.useLargeVarTypes")
        schema = to_arrow_schema(df.schema, prefers_large_types=large == "true")
        return self._finalize(
            pa.schema([f.with_nullable(True) for f in schema]).empty_table()
        )

    def _manifest_profile(self, block: str):
        """The catalogue profile of a snapshot-table catalogue whose
        manifests carry the exact normalization partials + per-file_id
        counts of ``block``'s columns (write_snapshot(norm_columns=,
        count_key=)): no statistics scan, bit-identical to the in-scan
        pass (tests/test_manifest_stats.py)."""
        from pacasam_spark.sources.snapshots import snapshot_fps_inputs

        bcf = self.cf[block]
        return snapshot_fps_inputs(
            self.db.sparkSession,
            bcf["manifest_stats"]["dir"],
            list(bcf["columns"]),
            key=S.FILE_ID,
            version=bcf["manifest_stats"].get("version"),
        )

    def _finalize(
        self,
        selection: DataFrame | pa.Table,
        split_keys: str | list[str] = S.FILE_ID,
        seed_offset: int = 0,
    ) -> pa.Table:
        """Collect the selection with its strata keys (one job; none when
        it is already an Arrow table), assign the split on the driver
        (P8), tag the sampler name and project to the sampling schema.

        Mirrors ``_set_validation_patches_with_stratification``
        (reference: samplers/sampler.py:53-65): frac applies to the size of
        THIS selection.
        """
        keys = [split_keys] if isinstance(split_keys, str) else list(split_keys)
        if isinstance(selection, DataFrame):
            selection = selection.select(S.PATCH_ID, *keys).toArrow()
        table = assign_split(
            selection,
            self.cf.get("frac_validation_set"),
            keys=keys,
            seed=self.seed + seed_offset,
        ).select([S.PATCH_ID, S.SPLIT])
        return table.append_column(
            S.SAMPLER, pa.array([self.name] * table.num_rows, pa.string())
        )

    # --- stage checkpointing (north rule: resumable mid-job) -----------

    @property
    def checkpoint_dir(self) -> str | None:
        return self.cf.get("checkpoint_dir")

    def _run_fingerprint(self) -> str:
        """Hash of everything that determines a stage's output: seed +
        sampling config (+ sampler class). Stored next to each stage so a
        resume against a checkpoint_dir written by a DIFFERENT run
        (other seed/target/config) recomputes instead of silently loading
        stale state — the 'bitwise-identical resume' contract."""
        payload = json.dumps(
            {"sampler": self.name, "seed": self.seed, "cf": self.cf},
            sort_keys=True,
            default=str,
        )
        return hashlib.md5(payload.encode()).hexdigest()

    def _acquire_writer_lock(self) -> None:
        """Single-writer lease on the checkpoint_dir (round-6 verdict:
        concurrent writers interleaving stage commits was undefined —
        now it raises). The lock file ``<dir>/_writer.lock`` is created
        with O_EXCL and records the holder's pid: a second PROCESS
        writing the same checkpoint_dir raises while the holder is
        alive, and STEALS the lease when the holder died without
        cleanup (crash — pid liveness is the lease heartbeat, no
        arbitrary timeout). Re-entry from the SAME process is allowed:
        composite samplers (Triple) checkpoint sub-sampler stages into
        one dir sequentially. Released at process exit (atexit). A real
        multi-host deployment would use a table-format catalog commit
        instead; this is the engine-level single-host guard, like the
        snapshot module's single-writer note."""
        if getattr(self, "_writer_lock", None):
            return
        path = os.path.join(self.checkpoint_dir, "_writer.lock")
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        me = {
            "pid": os.getpid(),
            "sampler": self.name,
            "fingerprint": self._run_fingerprint(),
            "acquired_at": time.time(),
        }
        for _ in range(3):  # create -> (steal stale) -> create
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                with os.fdopen(fd, "w") as f:
                    json.dump(me, f)
                self._writer_lock = path
                atexit.register(self._release_writer_lock)
                return
            except FileExistsError:
                try:
                    with open(path) as f:
                        holder = json.load(f)
                except Exception:
                    holder = {}
                pid = holder.get("pid")
                if pid == os.getpid():
                    return  # same process: sequential stages, no race
                alive = False
                if pid:
                    try:
                        os.kill(pid, 0)
                        alive = True
                    except ProcessLookupError:
                        alive = False
                    except PermissionError:
                        # the pid EXISTS but belongs to another user —
                        # treating it as dead would steal a live lease in
                        # multi-user deployments
                        alive = True
                if alive:
                    raise RuntimeError(
                        f"checkpoint_dir {self.checkpoint_dir} is being "
                        f"written by live pid {pid} "
                        f"(sampler {holder.get('sampler')!r}, acquired "
                        f"{holder.get('acquired_at')}); concurrent stage "
                        "writers would interleave commits — wait for it or "
                        "use a different checkpoint_dir"
                    )
                self.log.warning(
                    f"{self.name}: stealing stale checkpoint writer lock "
                    f"at {path} (holder pid {pid} is dead)"
                )
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass
        raise RuntimeError(
            f"could not acquire checkpoint writer lock at {path}"
        )

    def _release_writer_lock(self) -> None:
        path = getattr(self, "_writer_lock", None)
        if path:
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass
            self._writer_lock = None

    def _committed_fingerprint(self, path: str) -> str | None:
        """The fingerprint in a stage's ``_meta.json`` commit marker, or
        None when the stage never committed (no marker, an unreadable
        one, or a stage directory in an older layout)."""
        try:
            with open(os.path.join(path, "_meta.json")) as f:
                return json.load(f)["fingerprint"]
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def _will_resume(self, name: str) -> bool:
        """True when :meth:`_stage` would load stage ``name`` instead of
        building it, so a caller can skip work only the build needs."""
        return bool(self.checkpoint_dir) and (
            self._committed_fingerprint(os.path.join(self.checkpoint_dir, name))
            == self._run_fingerprint()
        )

    def _stage(self, name: str, build) -> pa.Table:
        """Run ``build()`` (a selection table) with an atomic checkpoint:
        if this stage already committed, LOAD it instead of recomputing —
        a killed run resumes from its last finished stage with
        bitwise-identical state (selections are deterministic, so
        downstream stages see exactly what the first run saw).

        A stage is a driver table capped by the sample target, so the
        checkpoint is plain files written with ``pyarrow.parquet`` and
        costs no Spark job. Layout under the checkpoint_dir:

        - ``<name>/data.parquet``: the stage table;
        - ``<name>/_meta.json``: the commit marker ``{"fingerprint": ...}``;
        - ``_lineage/part-<uuid>.parquet``: one row per commit
          (stage string, n_rows long, wall_sec double, seed long),
          readable as one table with ``spark.read.parquet``.

        Commit order: a rebuild first removes ``<name>/`` (the old
        marker goes with it), then writes the data, then the marker
        LAST. Each file is written under a ``.``-prefixed temporary
        name in its target directory and moved into place with
        ``os.replace``. Resume requires a readable marker whose
        fingerprint matches (sampler, seed, config); a mismatch logs a
        warning and rebuilds, and a missing marker (a run killed between
        the two writes) rebuilds — data-read errors after a valid marker
        are genuine and propagate. Without a checkpoint_dir this is just
        ``build()``."""
        if not self.checkpoint_dir:
            return build()
        self._acquire_writer_lock()
        path = os.path.join(self.checkpoint_dir, name)
        fp = self._run_fingerprint()
        committed = self._committed_fingerprint(path)
        if committed == fp:
            table = pq.read_table(os.path.join(path, "data.parquet"))
            self.log.info(f"{self.name}: stage {name!r} resumed from {path}")
            return table
        if committed is not None:
            self.log.warning(
                f"{self.name}: stage {name!r} at {path} was written by a "
                f"different run (fingerprint {committed} != {fp}) "
                f"— recomputing"
            )
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.perf_counter()
        table = build()
        os.makedirs(path)
        _replace_into(path, "data.parquet", lambda f: pq.write_table(table, f))
        _replace_into(
            path, "_meta.json", lambda f: f.write(json.dumps({"fingerprint": fp}).encode())
        )
        lineage = pa.table(
            {
                "stage": pa.array([name], pa.string()),
                "n_rows": pa.array([table.num_rows], pa.int64()),
                "wall_sec": pa.array([time.perf_counter() - t0], pa.float64()),
                "seed": pa.array([self.seed], pa.int64()),
            }
        )
        lineage_dir = os.path.join(self.checkpoint_dir, "_lineage")
        os.makedirs(lineage_dir, exist_ok=True)
        _replace_into(
            lineage_dir,
            f"part-{uuid.uuid4().hex}.parquet",
            lambda f: pq.write_table(lineage, f),
        )
        return table


def _replace_into(directory: str, name: str, write) -> None:
    """Write a file atomically: ``write(f)`` fills a ``.``-prefixed
    temporary file in ``directory`` (invisible to Spark's listing), which
    ``os.replace`` then moves to ``name``. A reader sees the whole file
    or none of it."""
    fd, tmp = tempfile.mkstemp(dir=directory, prefix=".", suffix=".tmp")
    with os.fdopen(fd, "wb") as f:
        write(f)
    os.replace(tmp, os.path.join(directory, name))


def _write_fresh(directory: str, name: str, write) -> None:
    """Replace ``directory`` with one holding only ``name``, written
    through :func:`_replace_into`."""
    if os.path.exists(directory):
        shutil.rmtree(directory)
    os.makedirs(directory)
    _replace_into(directory, name, write)
