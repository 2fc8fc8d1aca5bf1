"""Run every workload untraced and traced, and print one table.

    python3 perfbench/report.py --seed 1 [--seconds 4] [--workloads triple_flat extract_dedup]

For each workload it prints the end-to-end metrics with their units,
gated or not, ``failed_frac`` (failed / attempted operations) and
``n_ops``, then the tracing overhead (traced ``op_s_p50`` over untraced
``op_s_p50``) and the per-layer metrics that are not 0.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
RUNS = RUN.parent.parent / ".perfbench" / "runs"  # run.py's per-run operation times
WORKLOADS = ["triple_flat", "triple_snapshot", "extract_dedup"]


def run(workload: str, seed: int, seconds: float, trace: int, size: str) -> dict:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--size", size],
        cwd=RUN.parent.parent, stdout=subprocess.PIPE, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=4)
    p.add_argument("--size", default="full", choices=["full", "tiny"])
    p.add_argument("--workloads", nargs="+", default=WORKLOADS, choices=WORKLOADS)
    args = p.parse_args(argv)
    ok = True
    for w in args.workloads:
        plain = run(w, args.seed, args.seconds, 0, args.size)
        traced = run(w, args.seed, args.seconds, 1, args.size)
        ok &= plain["correct"] and traced["correct"]
        print(f"== {w}  (seed {args.seed}, size {args.size})")
        detail = json.loads((RUNS / f"{w}-{args.size}-seed{args.seed}.json").read_text())
        for name, unit in (("first_op_s", "s"), ("op_s_p50", "s"), ("items_per_s", "1/s")):
            print(f"  {name:<44} {detail[name]:>14.4f} {unit}")
        for name, m in plain["metrics"].items():
            print(f"  {name:<44} {m['value']:>14.4f} {m['unit']}")
        print(f"  {'failed_frac':<44} {plain['failed'] / plain['attempted']:>14.4f} ratio")
        print(f"  {'n_ops':<44} {plain['attempted']:>14d} count")
        base = detail["op_s_p50"]
        over = traced["metrics"]["trace.op_s_p50"]["value"] / base if base else float("nan")
        print(f"  {'trace_overhead (traced/untraced op_s_p50)':<44} {over:>14.4f} ratio")
        for name, m in traced["metrics"].items():
            if m["value"]:
                print(f"    {name:<58} {m['value']:>12.4f} {m['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
