"""Span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side of the package boundary: the
public functions of each layer are wrapped where they are looked up (a
module that did ``from x import f`` holds its own reference to ``f``, so
every loaded ``pacasam_spark`` module binding the original is patched),
plus the DataFrame actions, where Spark's deferred work actually runs.

Each span gets its own Spark job group, so the jobs it launches — and
through the status store their stages' CPU, I/O, shuffle, spill and GC
accounting — are attributed to the innermost open span. Spans live in
memory with parent links and thread ids and are written out at the end.
Work submitted to a ``ThreadPoolExecutor`` (the Triple prepare thread,
the targetted per-target threads) inherits the submitting span as its
parent and its job group.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import re
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

JOB_GROUP = "spark.jobGroup.id"

# (span name, defining module, attribute or Class.method)
LAYER_SPANS = [
    ("session.get_spark", "pacasam_spark.session", "get_spark"),
    ("sources.synthetic.synthetic_catalogue", "pacasam_spark.sources.synthetic", "synthetic_catalogue"),
    ("sources.images.synthetic_images", "pacasam_spark.sources.images", "synthetic_images"),
    ("sources.snapshots.write_snapshot", "pacasam_spark.sources.snapshots", "write_snapshot"),
    ("sources.snapshots.read_snapshot", "pacasam_spark.sources.snapshots", "read_snapshot"),
    ("sources.snapshots.snapshot_fps_inputs", "pacasam_spark.sources.snapshots", "snapshot_fps_inputs"),
    ("sources.files.save_sampling", "pacasam_spark.sources.files", "save_sampling"),
    ("samplers.triple.get_patches", "pacasam_spark.samplers.triple", "TripleSampler.get_patches"),
    ("samplers.targetted.get_patches", "pacasam_spark.samplers.targetted", "TargettedSampler.get_patches"),
    ("samplers.diversity.prepare", "pacasam_spark.samplers.diversity", "DiversitySampler.prepare"),
    ("samplers.diversity.get_patches", "pacasam_spark.samplers.diversity", "DiversitySampler.get_patches"),
    ("samplers.spatial.get_patches", "pacasam_spark.samplers.spatial", "SpatialSampler.get_patches"),
    ("operators.normalize.standardize", "pacasam_spark.operators.normalize", "standardize"),
    ("operators.fps.fps_sample", "pacasam_spark.operators.fps", "fps_sample"),
    ("operators.sampling.sample_with_stratification", "pacasam_spark.operators.sampling", "sample_with_stratification"),
    ("operators.split.assign_split", "pacasam_spark.operators.split", "assign_split"),
    ("operators.union.union_dedup_priority", "pacasam_spark.operators.union", "union_dedup_priority"),
    ("operators.joins.selection_join", "pacasam_spark.operators.joins", "selection_join"),
    ("operators.dedup.hamming_near_dup_pairs", "pacasam_spark.operators.dedup", "hamming_near_dup_pairs"),
    ("operators.components.dedup_by_components", "pacasam_spark.operators.components", "dedup_by_components"),
    ("extract.images.compute_phash", "pacasam_spark.extract.images", "compute_phash"),
    ("extract.images.resume_filter", "pacasam_spark.extract.images", "resume_filter"),
    ("extract.images.extract_patches", "pacasam_spark.extract.images", "extract_patches"),
    ("extract.filesink.write_patch_files", "pacasam_spark.extract.filesink", "write_patch_files"),
    ("plans.stats.write_comparison_reports", "pacasam_spark.plans.stats", "write_comparison_reports"),
]

# DataFrame / DataFrameWriter methods that run jobs, by action span name
ACTION_METHODS = {
    "action.count": ("DataFrame", ["count"]),
    "action.first": ("DataFrame", ["first"]),
    "action.collect": ("DataFrame", ["collect"]),
    "action.write": ("DataFrameWriter", ["save", "parquet", "csv", "json", "saveAsTable", "insertInto"]),
}

SPAN_NAMES = [name for name, _, _ in LAYER_SPANS] + list(ACTION_METHODS)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float | None = None
    op: int | None = None
    group: str = ""
    stats: dict = field(default_factory=dict)


def covered_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``.
    Overlapping intervals (children running in parallel threads) count
    once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by child spans."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [(c.start, c.end) for c in children.get(s.id, [])]
        out[s.id] = (s.end - s.start) - covered_length(kids, s.start, s.end)
    return out


class Tracer:
    """Records spans and attributes Spark jobs to them via job groups."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, bool, object]] = []
        self._seen_stages: set[int] = set()
        self._sql_seen = 0

    # --- span bookkeeping --------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else getattr(self._tls, "root", None)

    @contextmanager
    def span(self, name: str):
        parent = self.current()
        with self._lock:
            sid = next(self._ids)
        s = Span(
            id=sid,
            name=name,
            parent=parent.id if parent else None,
            thread=threading.get_ident(),
            start=time.perf_counter(),
            op=self.op,
            group=f"perfbench-{sid}",
        )
        with self._lock:
            self.spans.append(s)
        self._stack().append(s)
        self.sc.setLocalProperty(JOB_GROUP, s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack().pop()
            back = self.current()
            self.sc.setLocalProperty(JOB_GROUP, back.group if back else None)

    def record(self, name: str, start: float, end: float) -> Span:
        """A span for work timed before the tracer existed (session start)."""
        with self._lock:
            s = Span(next(self._ids), name, None, threading.get_ident(), start, end, self.op)
            self.spans.append(s)
        return s

    def _wrap(self, name: str, fn, skip_inside_action: bool = False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            cur = tracer.current()
            if skip_inside_action and cur is not None and cur.name.startswith("action."):
                return fn(*args, **kwargs)  # first() -> collect(): one span
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # --- patching ------------------------------------------------------

    def install(self) -> None:
        """Wrap every layer function, the DataFrame actions and
        ``ThreadPoolExecutor.submit``. Undo with :meth:`uninstall`."""
        for name, module_name, attr in LAYER_SPANS:
            mod = importlib.import_module(module_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                self._set(cls, meth, self._wrap(name, cls.__dict__[meth]))
                continue
            orig = getattr(mod, attr)
            wrapper = self._wrap(name, orig)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith("pacasam_spark"):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._set(m, k, wrapper)
        df = self.spark.range(1)
        owners = {"DataFrame": type(df), "DataFrameWriter": type(df.write)}
        for name, (owner, methods) in ACTION_METHODS.items():
            cls = owners[owner]
            for meth in methods:
                self._set(cls, meth, self._wrap(name, getattr(cls, meth), True))
        self._set(ThreadPoolExecutor, "submit", self._wrap_submit(ThreadPoolExecutor.submit))

    def _wrap_submit(self, orig_submit):
        tracer = self

        @functools.wraps(orig_submit)
        def submit(pool, fn, /, *args, **kwargs):
            parent = tracer.current()

            def run(*a, **k):
                tracer._tls.root = parent
                tracer.sc.setLocalProperty(JOB_GROUP, parent.group if parent else None)
                try:
                    return fn(*a, **k)
                finally:
                    tracer._tls.root = None
                    tracer.sc.setLocalProperty(JOB_GROUP, None)

            return orig_submit(pool, run, *args, **kwargs)

        return submit

    def _set(self, owner, attr: str, value) -> None:
        own = vars(owner)
        self._patches.append((owner, attr, attr in own, own.get(attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, had, orig in reversed(self._patches):
            if had:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patches.clear()
        self.sc.setLocalProperty(JOB_GROUP, None)

    # --- Spark accounting ----------------------------------------------

    def sql_mark(self) -> None:
        """Skip SQL executions recorded so far (isolation work between
        operations is not part of the next operation)."""
        self._sql_seen = self._sql_store().executionsCount()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def harvest(self, spans: list[Span]) -> dict:
        """Fill ``span.stats`` (the span's own jobs and their stages'
        totals) for ``spans``; return the Python UDF totals of the SQL
        executions those jobs belong to."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids: set[int] = set()
        for s in spans:
            st = dict.fromkeys(STAGE_KEYS, 0.0)
            ids = sorted(tracker.getJobIdsForGroup(s.group)) if s.group else []
            st["jobs"] = len(ids)
            for j in ids:
                job_ids.add(j)
                info = tracker.getJobInfo(j)
                for stage in (list(info.stageIds) if info else []):
                    if stage in self._seen_stages:
                        continue
                    self._seen_stages.add(stage)
                    try:
                        sd = store.lastStageAttempt(stage)
                    except Py4JJavaError:  # stage never submitted
                        continue
                    st["tasks"] += sd.numCompleteTasks()
                    st["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    st["input_mb"] += sd.inputBytes() / 2**20
                    st["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                    st["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
                    st["gc_s"] += sd.jvmGcTime() / 1e3
            s.stats = st
        return self._python_udf_totals(job_ids)

    def _python_udf_totals(self, job_ids: set[int]) -> dict:
        sql = self._sql_store()
        n = sql.executionsCount()
        out = {"udf_s": 0.0, "rows_in": 0.0}
        if n <= self._sql_seen:
            return out
        execs = sql.executionsList(self._sql_seen, n - self._sql_seen)
        self._sql_seen = n
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs = {int(j) for j in str(e.jobs().keySet().mkString(",")).split(",") if j}
            if not jobs & job_ids:
                continue
            eid = e.executionId()
            dot = sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))
            udf_s, rows_in = python_node_totals(dot)
            out["udf_s"] += udf_s
            out["rows_in"] += rows_in
        return out

    def finish(self) -> list[Span]:
        """Spans with self time filled in (``stats["self_s"]``)."""
        own = self_times(self.spans)
        for s in self.spans:
            s.stats["self_s"] = own[s.id]
        return self.spans


STAGE_KEYS = ("jobs", "tasks", "executor_cpu_s", "input_mb", "shuffle_write_mb", "spill_mb", "gc_s")

# --- SQL plan graph parsing ------------------------------------------------

_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)"', re.M)
_EDGE = re.compile(r"^\s*(\d+)->(\d+);", re.M)
_VALUE = re.compile(r"(-?[\d,]*\.?\d+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?")
_UNITS = {None: 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TOTAL = " total (min, med, max (stageId: taskId))"
PYTHON_TIME = "time to run Python workers"


def parse_metric_value(text: str) -> float:
    """'1,000' -> 1000; '1.6 s' -> 1.6; '8.2 KiB (...)' -> 8396.8."""
    m = _VALUE.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def parse_label(label: str) -> tuple[str, dict[str, float]]:
    """A plan-graph node label -> (node name, {metric: value})."""
    parts = [p for p in label.split("<br>") if p]
    name = re.sub(r"</?b>", "", parts[0]) if parts else ""
    metrics: dict[str, float] = {}
    i = 1
    while i < len(parts):
        p = parts[i]
        if p.endswith(_TOTAL) and i + 1 < len(parts):
            metrics[p[: -len(_TOTAL)]] = parse_metric_value(parts[i + 1])
            i += 2
            continue
        if ": " in p:
            k, v = p.split(": ", 1)
            metrics[k] = parse_metric_value(v)
        i += 1
    return name, metrics


def python_node_totals(dot: str) -> tuple[float, float]:
    """(Python worker seconds, rows fed to Python) summed over the
    Python UDF nodes (mapInPandas, applyInPandas, ...) of one SQL
    execution's plan graph in DOT form. Rows in are the output rows of
    the node's child, found through row-less nodes (Sort, ...)."""
    nodes = {int(i): parse_label(lbl) for i, lbl in _NODE.findall(dot)}
    children: dict[int, list[int]] = {}
    for child, parent in _EDGE.findall(dot):  # edges run child -> parent
        children.setdefault(int(parent), []).append(int(child))

    def rows_out(nid: int, depth: int = 0) -> float:
        _, m = nodes.get(nid, ("", {}))
        for key in ("number of output rows", "records read"):
            if key in m:
                return m[key]
        if depth > 8:
            return 0.0
        return sum(rows_out(c, depth + 1) for c in children.get(nid, []))

    udf_s = rows_in = 0.0
    for nid, (_, m) in nodes.items():
        if PYTHON_TIME in m:
            udf_s += m[PYTHON_TIME]
            rows_in += sum(rows_out(c) for c in children.get(nid, []))
    return udf_s, rows_in
