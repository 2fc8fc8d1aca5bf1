"""Unit tests of the span arithmetic, plan-graph parsing and metric lists
(no Spark session)."""

import itertools
import json
import random
from pathlib import Path

import pytest

from perfbench.layers import LAYER_METRICS, layer_metrics
from perfbench.tracer import (
    Span,
    covered_length,
    parse_label,
    python_node_totals,
    self_times,
)
from perfbench.workloads import near_pairs_exist

ROOT = Path(__file__).resolve().parents[2]


def span(i, name, parent, start, end, op=1, **stats):
    return Span(id=i, name=name, parent=parent, thread=0, start=start, end=end,
                op=op, stats=stats)


def test_covered_length_merges_overlaps_and_clips():
    assert covered_length([], 0, 10) == 0
    assert covered_length([(1, 3), (2, 5)], 0, 10) == 4
    assert covered_length([(1, 2), (4, 6)], 0, 10) == 3
    assert covered_length([(-5, 2), (8, 20)], 0, 10) == 4
    assert covered_length([(3, 3), (6, 5)], 0, 10) == 0


def test_self_time_with_overlapping_children_in_threads():
    # parent 0..10; two children on pool threads overlap 2..6 and 4..8;
    # a grandchild inside the first child does not reduce the parent
    spans = [
        span(1, "samplers.triple.get_patches", None, 0.0, 10.0),
        span(2, "samplers.targetted.get_patches", 1, 2.0, 6.0),
        span(3, "samplers.diversity.prepare", 1, 4.0, 8.0),
        span(4, "action.count", 2, 3.0, 5.0),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10 - 6)
    assert own[2] == pytest.approx(4 - 2)
    assert own[3] == pytest.approx(4)
    assert own[4] == pytest.approx(2)


def test_self_time_clips_child_outliving_parent():
    spans = [span(1, "a", None, 0.0, 4.0), span(2, "b", 1, 3.0, 9.0)]
    assert self_times(spans)[1] == pytest.approx(3.0)


def test_layer_metrics_inclusive_jobs_count_nested_same_name_once():
    spans = [
        span(1, "op", None, 0, 10, jobs=1),
        span(2, "operators.split.assign_split", 1, 1, 5, jobs=2, self_s=1.0),
        span(3, "operators.sampling.sample_with_stratification", 2, 2, 4, jobs=3, self_s=2.0),
        span(4, "operators.sampling.sample_with_stratification", 3, 2.5, 3, jobs=4, self_s=0.5),
        span(5, "sources.synthetic.synthetic_catalogue", None, 0, 1, op=None, jobs=6, self_s=1.0),
        span(6, "sources.synthetic.synthetic_catalogue", None, 1, 2, op=None, jobs=2, self_s=1.0),
    ]
    ops = [
        {"i": 0, "errors": [], "python": {"udf_s": 0, "rows_in": 0}, "ratios": {}},
        {"i": 1, "errors": [], "python": {"udf_s": 1.5, "rows_in": 10}, "ratios": {}},
    ]
    m = layer_metrics(spans, ops, setup_ratios={})
    assert m["operators.split.assign_split.jobs"][0] == 2 + 3 + 4
    assert m["operators.sampling.sample_with_stratification.jobs"][0] == 3 + 4
    assert m["operators.sampling.sample_with_stratification.self_s"][0] == 2.5
    assert m["spark.jobs"][0] == 1 + 2 + 3 + 4
    assert m["sources.synthetic.synthetic_catalogue.jobs"][0] == 4  # mean per call
    assert m["extract.images.extract_patches.jobs"][0] == 0
    assert m["python.udf_s"][0] == 1.5
    assert set(m) | {"trace.op_s_p50"} == {n for n, _ in LAYER_METRICS}


def test_parse_label_single_and_task_summary_forms():
    name, m = parse_label(
        "<b>MapInPandas</b><br><br>time to run Python workers total (min, med, max "
        "(stageId: taskId))<br>4.9 s (2.4 s, 2.5 s, 2.5 s (stage 0.0: task 1))<br>"
        "data sent to Python workers: 8.4 KiB<br>number of output rows: 1,000"
    )
    assert name == "MapInPandas"
    assert m["time to run Python workers"] == pytest.approx(4.9)
    assert m["data sent to Python workers"] == pytest.approx(8.4 * 1024)
    assert m["number of output rows"] == 1000


def test_python_node_totals_reads_rows_through_rowless_child():
    dot = "\n".join([
        'digraph G {',
        '  0 [id="node0" labelType="html" label="<b>FlatMapGroupsInPandas</b><br><br>'
        'time to run Python workers: 207 ms<br>number of output rows: 21" tooltip=""];',
        '  1 [id="node1" labelType="html" label="<b>Sort</b><br><br>sort time: 1 ms" tooltip=""];',
        '  2 [id="node2" labelType="html" label="<b>Exchange</b><br><br>records read: 1,000" tooltip=""];',
        '  1->0;',
        '  2->1;',
        '}',
    ])
    udf_s, rows_in = python_node_totals(dot)
    assert udf_s == pytest.approx(0.207)
    assert rows_in == 1000


def test_near_pairs_exist_matches_brute_force():
    rng = random.Random(5)
    for trial in range(30):
        hashes = [rng.getrandbits(63) for _ in range(60)]
        if trial % 2:
            flips = rng.sample(range(63), rng.randint(0, 9))
            planted = hashes[0]
            for b in flips:
                planted ^= 1 << b
            hashes.append(planted)
        brute = any(
            bin(a ^ b).count("1") <= 7 for a, b in itertools.combinations(hashes, 2)
        )
        assert near_pairs_exist(hashes, 7) == brute


def test_benchmark_json_lists_the_metrics_the_runs_emit():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == LAYER_METRICS
    assert len(LAYER_METRICS) <= 128
    names = [m["name"] for m in spec["end_to_end"]]
    assert names == ["setup_s", "op_cpu_s", "peak_rss_mb"]
