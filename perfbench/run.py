"""Run one sparkkv benchmark workload and print its metrics.

    python3 perfbench/run.py --workload point_lookup --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Every metric is printed by name with its
unit; the last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
The full record, with the seed, ``nproc``, the commit and the figures per
operation kind, is written to ``.perfbench/results/``. See README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest_compact", "point_lookup", "mixed_rw"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def git_commit() -> str:
    # only the checkout's own repository, never one that encloses it
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def detail_unit(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"),
                         ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    for mod in ("sleeper_spark", "pyspark"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: cannot import {mod!r} from {ROOT}; run from "
                  f"the root of a sparkkv checkout", file=sys.stderr)
            return 2
    from perfbench.harness import END_TO_END, PER_LAYER, run_workload

    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    base = os.path.join(ROOT, ".perfbench")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(
        base, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    stem = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    try:
        ctx, report, layers = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            cores, spans_path=stem + ".spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wanted = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else report["e2e"]
    metrics = {name: {"value": values[name], "unit": unit}
               for name, unit in wanted}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": cores,
        "commit": git_commit(), "process_wall_s": time.perf_counter() - t0,
        "attempted": ctx.ops.attempted, "failed": ctx.ops.failed,
        "metrics": metrics, "end_to_end": report["e2e"],
        "detail": report["detail"], "per_kind": report["kinds"],
        "ops": [[r.kind, r.seconds, r.ok] for r in ctx.ops.records],
    }
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload={args.workload} seed={args.seed} nproc={cores} "
          f"commit={record['commit']} trace={args.trace}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    for name, v in report["detail"].items():
        if isinstance(v, (int, float)):
            print(f"  detail.{name} = {v:.6g} {detail_unit(name)}")
    print(f"  checks: {ctx.ops.attempted - ctx.ops.failed}/"
          f"{ctx.ops.attempted} operations correct")
    print(json.dumps({"correct": ctx.ops.failed == 0,
                      "attempted": ctx.ops.attempted,
                      "failed": ctx.ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
