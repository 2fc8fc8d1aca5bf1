"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload triple_flat --seed 1 --seconds 4 --trace 0

Run from the repository root. One client process runs a closed loop:
the next operation starts only after the previous one finished and was
checked. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
wraps each layer's public functions and reports per-layer metrics from
Spark's own job and stage accounting. The last line of standard output
is ``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes stays under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from dataclasses import asdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["triple_flat", "triple_snapshot", "extract_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measure operations until this much time has passed")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", default="full", choices=["full", "tiny"],
                   help="tiny: smoke-test inputs through the same code path")
    return p.parse_args(argv)


def pin_environment(work: Path) -> dict[str, str]:
    """Keep every file the run writes under ``work``, and pin Spark's
    parallelism and driver heap to this machine. Returns the Spark
    configuration the session is started with."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = java_opts
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(2048, mem_mb // 8)}m"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work / 'derby'}",
    }


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every descendant."""
    from perfbench.procstat import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        for pid in left:  # Python workers the JVM left behind
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def run(args: argparse.Namespace) -> dict:
    from perfbench import layers, procstat, workloads
    from perfbench.layers import median
    from perfbench.tracer import Tracer
    from pacasam_spark import session

    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{os.getpid()}"
    state = ROOT / ".perfbench" / "state"
    state.mkdir(parents=True, exist_ok=True)
    conf = pin_environment(work)
    size = workloads.SIZES[args.size]

    with procstat.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = session.get_spark(app_name=f"perfbench_{args.workload}", extra_conf=conf)
        t1 = time.perf_counter()
        tracer = None
        try:
            if args.trace:
                tracer = Tracer(spark)
                tracer.install()
                tracer.record("session.get_spark", t0, t1)
            wl = workloads.WORKLOADS[args.workload](spark, size, args.seed, work, state)
            wl.build_fixture()
            t2 = time.perf_counter()
            print(f"perfbench: session {t1 - t0:.3f} s, fixture {t2 - t1:.3f} s", file=sys.stderr)
            if tracer:
                tracer.harvest([s for s in tracer.spans if s.op is None])
            wl.after_setup()

            ops = [run_op(wl, 0, work / "ops" / "op0", tracer)]  # cold
            t_warm = time.perf_counter()
            while len(ops) <= wl.warm_ops or time.perf_counter() - t_warm < args.seconds:
                ops.append(run_op(wl, len(ops), work / "ops" / f"op{len(ops)}", tracer))
            if tracer:
                n_spans = len(tracer.spans)
                wl.after_ops(work / "ops" / f"op{len(ops) - 1}")
                tracer.harvest(tracer.spans[n_spans:])
        finally:
            if tracer:
                tracer.uninstall()
            stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for op in ops if op["errors"])
    for op in ops:
        for e in op["errors"]:
            print(f"op {op['i']} failed: {e}", file=sys.stderr)
    warm = [op for op in ops[1:] if not op["errors"]]
    warm_s = [op["seconds"] for op in warm]
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
    }
    if tracer is None:
        metrics = {
            "setup_s": (t2 - t0, "s"),
            "op_cpu_s": (median([op["cpu_s"] for op in warm]), "s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
        }
        # The wall-clock figures of the operations swing with the host's
        # speed more than their CPU time does (README, Steadiness), so they
        # are reported here, for report.py, and not gated.
        run_dir = ROOT / ".perfbench" / "runs"
        run_dir.mkdir(parents=True, exist_ok=True)
        out = run_dir / f"{args.workload}-{args.size}-seed{args.seed}.json"
        out.write_text(json.dumps({
            "first_op_s": ops[0]["seconds"],
            "op_s_p50": median(warm_s),
            "items_per_s": sum(op["items"] for op in warm) / max(sum(warm_s), 1e-9),
            "ops": ops,
        }))
    else:
        spans = tracer.finish()
        metrics = layers.layer_metrics(spans, ops, wl.setup_ratios())
        metrics["trace.op_s_p50"] = (median(warm_s), "s")
        trace_dir = ROOT / ".perfbench" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        out = trace_dir / f"{args.workload}-{args.size}-seed{args.seed}.json"
        out.write_text(json.dumps({"ops": ops, "spans": [asdict(s) for s in spans]}))
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return result


def run_op(wl, i: int, out: Path, tracer) -> dict:
    """One isolated, timed, checked operation. Its outputs stay in
    ``out`` until the next operation starts."""
    from perfbench.procstat import tree_cpu_s

    shutil.rmtree(out.parent, ignore_errors=True)
    wl.isolate()
    if tracer:
        tracer.op = i
        tracer.sql_mark()
    cpu = tree_cpu_s(os.getpid())
    t = time.perf_counter()
    try:
        with tracer.span("op") if tracer else nullcontext():
            ctx = wl.run_op(i, out)
        seconds = time.perf_counter() - t
        cpu_s = tree_cpu_s(os.getpid()) - cpu
        res = wl.check(i, out, ctx)
        op = {"i": i, "seconds": seconds, "cpu_s": cpu_s, "items": res.items,
              "errors": res.errors, "ratios": res.ratios}
    except Exception as e:  # an operation that raises counts as failed
        traceback.print_exc()
        op = {"i": i, "seconds": time.perf_counter() - t,
              "cpu_s": tree_cpu_s(os.getpid()) - cpu, "items": 0,
              "errors": [f"raised {type(e).__name__}: {e}"], "ratios": {}}
    print(f"perfbench: op {i} {op['seconds']:.3f} s, {op['cpu_s']:.1f} cpu s, "
          f"{op['items']} items", file=sys.stderr)
    if tracer:
        tracer.op = None
        op["python"] = tracer.harvest([s for s in tracer.spans if s.op == i])
    return op


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pacasam_spark" / "__init__.py").is_file():
        print(f"perfbench: no pacasam_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
