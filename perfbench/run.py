"""Benchmark entry point.

    python3 perfbench/run.py --workload curation_build --seed 1 --seconds 5 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed`` under ``.perfbench_run/`` in that root, every file Spark
writes goes there too, and the directory is removed on exit. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. The line before it (``detail: {...}``) carries sample counts, the
host-noise brackets and any correctness problems.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("star_analytics", "curation_build", "medallion_cdc")


def isolate(run_dir: str) -> None:
    """Point Python, Spark and its Python workers at the run directory
    and the repository's sources, whatever the launch directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pythonpath = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(pythonpath),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
    })
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait until it has
    exited; Spark's Python workers exit with it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="scale factor override (for the self-test)")
    args = ap.parse_args(argv)

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        isolate(run_dir)
        import workloads

        env = workloads.Env(ROOT, run_dir, args.workload, args.seed, args.seconds, bool(args.trace),
                            args.scale or workloads.SCALE[args.workload])
        res, metrics = workloads.run(env)
        units = workloads.PER_LAYER_UNITS if env.trace else workloads.END_TO_END_UNITS
        ops = res.timed(env.trace)
        failed = sum(not o.ok for o in ops)
        hosts = [o.host for o in ops]
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": len(ops),
            "passes": len(res.passes),
            "prime_s": round(res.prime_s, 3),
            "pass_s": [round(p, 3) for p, _ in res.passes],
            "setup_bringups_s": [round(a + b, 4) for a, b in res.session_times],
            "steal_pct_run": round(statistics.mean(h["steal_pct"] for h in hosts), 3),
            "steal_pct_max_op": round(max(h["steal_pct"] for h in hosts), 3),
            "load_1m_max": max(h["load_1m"] for h in hosts),
            "cpu_s": [round(h["cpu_s"], 3) for h in hosts],
            "cache_fills_in_timed_ops": sum(o.cache_fill for o in ops),
            "problems": res.problems[:20],
        }
        if env.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            env.tracer.dump(os.path.join(out, f"{args.workload}-spans.jsonl"))
            detail["spans"] = len(env.tracer.spans)
        print("detail: " + json.dumps(detail), flush=True)
        print(json.dumps({
            "correct": failed == 0 and not res.problems,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }), flush=True)
        return 0
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
