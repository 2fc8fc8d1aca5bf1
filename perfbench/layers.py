"""Per-layer metrics of a traced run, from its spans and operations.

For every span name: ``.self_s`` is the summed self time of its spans in
one operation; ``.jobs``, ``.executor_cpu_s`` and ``.shuffle_write_mb``
count the Spark jobs launched while the span was open, its child spans
included (a span nested in a span of the same name counts once). Each
value is the median over the warm operations; a span that only runs
outside them (set-up, the after-operations step) reports its mean per
call, and one that never runs reports 0.
"""

from __future__ import annotations

import statistics

from perfbench.tracer import SPAN_NAMES, Span

SPAN_FIELDS = [("self_s", "s"), ("jobs", "count"), ("executor_cpu_s", "s"),
               ("shuffle_write_mb", "MB")]
# get_spark launches no Spark job, so these two always read 0
OMITTED = {"session.get_spark.executor_cpu_s", "session.get_spark.shuffle_write_mb"}
SPARK_TOTALS = [("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
                ("input_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                ("gc_s", "s")]
RATIOS = [
    ("samplers.input_rows_per_selected", "ratio"),
    ("sources.snapshots.bytes_per_row", "B/row"),
    ("extract.bytes_out_per_image", "B/image"),
    ("extract.resume_rows_rewritten", "count"),
]

# every per-layer metric a traced run reports, with its unit
LAYER_METRICS = (
    [(f"{n}.{f}", u) for n in SPAN_NAMES for f, u in SPAN_FIELDS
     if f"{n}.{f}" not in OMITTED]
    + [(f"spark.{f}", u) for f, u in SPARK_TOTALS]
    + [("python.udf_s", "s"), ("python.rows_in", "count")]
    + RATIOS
    + [("trace.op_s_p50", "s")]
)


def inclusive_stats(spans: list[Span]) -> dict[int, dict]:
    """Span id -> its job totals plus those of all its descendants."""
    incl = {s.id: {k: s.stats.get(k, 0.0) for k, _ in SPARK_TOTALS} for s in spans}
    parent = {s.id: s.parent for s in spans}
    for s in sorted(spans, key=lambda s: s.id, reverse=True):  # children first
        p = parent[s.id]
        if p is not None and p in incl:
            for k, v in incl[s.id].items():
                incl[p][k] += v
    return incl


def _outermost(spans: list[Span]) -> list[Span]:
    """Spans with no ancestor of the same name."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        p = by_id.get(s.parent)
        while p is not None and p.name != s.name:
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(spans: list[Span], ops: list[dict],
                  setup_ratios: dict[str, float]) -> dict[str, tuple[float, str]]:
    incl = inclusive_stats(spans)
    warm = [op for op in ops[1:] if not op["errors"]] or ops
    warm_ids = {op["i"] for op in warm}
    outer = _outermost(spans)

    def per_span(group: list[Span], group_outer: list[Span]) -> dict[str, float]:
        vals: dict[str, float] = {}
        for s in group:
            key = f"{s.name}.self_s"
            vals[key] = vals.get(key, 0.0) + s.stats.get("self_s", 0.0)
        for s in group_outer:
            for f, _ in SPAN_FIELDS[1:]:
                key = f"{s.name}.{f}"
                vals[key] = vals.get(key, 0.0) + incl[s.id][f]
        return vals

    per_op = [
        per_span([s for s in spans if s.op == i], [s for s in outer if s.op == i])
        for i in sorted(warm_ids)
    ]
    setup_spans = [s for s in spans if s.op is None]
    setup = per_span(setup_spans, [s for s in outer if s.op is None])
    setup_calls = {n: sum(s.name == n for s in setup_spans) for n in SPAN_NAMES}
    in_ops = {s.name for s in spans if s.op in warm_ids}

    out: dict[str, tuple[float, str]] = {}
    for name in SPAN_NAMES:
        for f, unit in SPAN_FIELDS:
            key = f"{name}.{f}"
            if key in OMITTED:
                continue
            if name in in_ops:
                out[key] = (median([v.get(key, 0.0) for v in per_op]), unit)
            else:
                out[key] = (setup.get(key, 0.0) / max(1, setup_calls[name]), unit)
    roots = {s.op: s for s in spans if s.name == "op"}
    for f, unit in SPARK_TOTALS:
        out[f"spark.{f}"] = (
            median([incl[roots[op["i"]].id][f] for op in warm if op["i"] in roots]), unit)
    out["python.udf_s"] = (median([op["python"]["udf_s"] for op in warm]), "s")
    out["python.rows_in"] = (median([op["python"]["rows_in"] for op in warm]), "count")
    for key, unit in RATIOS:
        if key in setup_ratios:
            out[key] = (setup_ratios[key], unit)
        else:
            out[key] = (median([op["ratios"].get(key, 0.0) for op in warm]), unit)
    return out
