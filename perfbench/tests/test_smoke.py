"""Tiny-size runs of every workload through the benchmark's own entry
point, in a copy of the checkout (so state and traces start empty).

Slow (a Spark session per run): ``python -m pytest perfbench/tests -q``.
"""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
WORKLOADS = ["triple_flat", "triple_snapshot", "extract_dedup"]


@pytest.fixture(scope="module")
def checkout(tmp_path_factory):
    dst = tmp_path_factory.mktemp("checkout")
    shutil.copy(ROOT / "BENCHMARK.json", dst)
    ignore = shutil.ignore_patterns("__pycache__", "tests")
    for d in ("pacasam_spark", "perfbench"):
        shutil.copytree(ROOT / d, dst / d, ignore=ignore)
    return dst


def bench(cwd: Path, workload: str, trace: int, seed: int = 3):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900,
    )


@pytest.fixture(scope="module")
def results(checkout):
    out = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            p = bench(checkout, w, trace)
            assert p.returncode == 0, p.stderr[-3000:]
            out[w, trace] = json.loads(p.stdout.strip().splitlines()[-1])
    return out


def trace_spans(checkout: Path, workload: str) -> set[str]:
    t = json.loads((checkout / ".perfbench" / "traces" / f"{workload}-tiny-seed3.json").read_text())
    return {s["name"] for s in t["spans"]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_operation_passes_its_checks(results, workload):
    for trace in (0, 1):
        r = results[workload, trace]
        assert set(r) == {"correct", "attempted", "failed", "metrics"}
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 2


def test_metric_sets_match_benchmark_json(checkout, results):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in WORKLOADS:
        assert {k: v["unit"] for k, v in results[w, 0]["metrics"].items()} == e2e
        assert {k: v["unit"] for k, v in results[w, 1]["metrics"].items()} == layer
        assert all(v["value"] > 0 for v in results[w, 0]["metrics"].values())
        # the ungated wall-clock metrics, for report.py
        detail = json.loads((checkout / ".perfbench" / "runs" / f"{w}-tiny-seed3.json").read_text())
        assert min(detail[k] for k in ("first_op_s", "op_s_p50", "items_per_s")) > 0
        assert len(detail["ops"]) == results[w, 0]["attempted"]


def test_traced_and_untraced_runs_select_the_same_rows(checkout, results):
    # each triple run compares its per-operation selection digests with
    # the ones already recorded for this seed and fails on a mismatch;
    # four runs (flat, snapshot; traced, untraced) agreed
    state = json.loads((checkout / ".perfbench" / "state" / "triple-2000-seed3.json").read_text())
    assert len(state) >= 2
    assert "triple_flat" in {v["by"] for v in state.values()}


def test_layer_split(checkout, results):
    flat, snap = results["triple_flat", 1]["metrics"], results["triple_snapshot", 1]["metrics"]
    assert flat["operators.normalize.standardize.jobs"]["value"] >= 1
    assert snap["operators.normalize.standardize.jobs"]["value"] == 0
    assert snap["sources.snapshots.read_snapshot.self_s"]["value"] > 0
    for w in ("triple_flat", "triple_snapshot"):
        assert results[w, 1]["metrics"]["plans.stats.write_comparison_reports.jobs"]["value"] >= 1
        assert not any(n.startswith("extract.") for n in trace_spans(checkout, w))
    assert not any(n.startswith("samplers.") for n in trace_spans(checkout, "extract_dedup"))
    ed = results["extract_dedup", 1]["metrics"]
    assert ed["extract.resume_rows_rewritten"]["value"] == 0
    assert ed["python.udf_s"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(tmp_path, "triple_flat", 0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
