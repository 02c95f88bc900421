#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # each workload in turn
    python3 perfbench/run.py --selftest                  # checks can fail

One workload per process, with one local Spark session of ``nproc`` task
slots. The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Works from any working directory; all scratch data goes under
``.perfbench/`` at the repo root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "op_p50_ms": "ms", "update_p50_ms": "ms"}

_STAGE_UNITS = {
    "wall_ms": "ms", "jobs": "count", "tasks": "count",
    "executor_cpu_ms": "ms", "shuffle_write_bytes": "bytes",
}
PER_LAYER = {
    **{
        f"pipeline.{st}.{k}": u
        for st in ("parse", "triples", "link", "canon", "graph")
        for k, u in _STAGE_UNITS.items()
    },
    "pipeline.driver_ms": "ms",
    "streaming.kg_ingest.ingest_ms": "ms",
    "streaming.kg_ingest.refresh_ms": "ms",
    "streaming.kg_ingest.jobs": "count",
    "kg.link.bulk_ms": "ms",
    "kg.link.bulk_jobs": "count",
    "kg.link.bulk_executor_cpu_ms": "ms",
    "kg.link.bulk_shuffle_write_bytes": "bytes",
    "kg.link.rescued": "count",
    "kg.canon.ms": "ms",
    "kg.canon.jobs": "count",
    "kg.canon.stages": "count",
    "kg.link.small_ms": "ms",
    "kg.link.small_jobs": "count",
    "spark.gc_ms": "ms",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "process.jvm_peak_rss_mb": "MiB",
    "process.py_peak_rss_mb": "MiB",
    "trace.overhead_pct": "%",
}


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import semtools_spark  # noqa: F401  -- fail before any set-up without the program

    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[name]
    work = harness.fresh_dir(os.path.join(harness.WORK_BASE, f"{name}-{os.getpid()}"))
    harness.prepare_env(work)
    t0 = time.perf_counter()
    spark = harness.start_spark(work, f"perfbench-{name}")
    try:
        print(json.dumps({"run_info": {
            "workload": name, "seed": seed, "nproc": harness.nproc(),
            "spark_slots": spark.sparkContext.defaultParallelism,
            "loadavg_1m": os.getloadavg()[0],
        }}), flush=True)
        loop = harness.Loop(spark, trace)
        wl = cls(spark, loop, work, seed)
        wl.setup()
        warm = wl.warmup()
        if warm:
            with ThreadPoolExecutor(len(warm)) as ex:
                for f in [ex.submit(fn) for fn in warm]:
                    f.result()
        if loop.failed or wl.errors:
            raise RuntimeError(f"warm-up failed: {loop.errors + wl.errors}")
        setup_s = time.perf_counter() - t0
        loop.reset()
        wl.items = 0
        loop.run(seconds, wl.round)
        for e in loop.errors + wl.errors:
            print(f"perfbench: {e}", file=sys.stderr)
        if trace:
            vals = wl.layers()
            vals["process.jvm_peak_rss_mb"] = harness.peak_rss_mb(
                spark.sparkContext._gateway.proc.pid
            )
            vals["process.py_peak_rss_mb"] = harness.peak_rss_mb(os.getpid())
            op_total = sum(sum(v) for v in loop.lat_ms.values()) / 1000.0
            vals["trace.overhead_pct"] = 100.0 * loop.rollup_s / op_total
            units = {**PER_LAYER, **cls.extra_layers}
            metrics = {k: {"value": float(vals.get(k, 0.0)), "unit": u} for k, u in units.items()}
        else:
            vals = {"setup_s": setup_s, **wl.metrics()}
            metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in END_TO_END.items()}
        return {
            "correct": not wl.errors,
            "attempted": loop.attempted,
            "failed": loop.failed,
            "metrics": metrics,
        }
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def run_all(args) -> dict:
    """Every workload in its own process, one after another."""
    from perfbench.workloads import WORKLOADS

    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if res.returncode != 0:
            raise SystemExit(f"workload {name} exited with {res.returncode}")
        r = json.loads(res.stdout.strip().splitlines()[-1])
        out["correct"] &= r["correct"]
        out["attempted"] += r["attempted"]
        out["failed"] += r["failed"]
        for k, v in r["metrics"].items():
            out["metrics"][f"{name}.{k}"] = v
        print(json.dumps({name: r}), flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["kg_build", "entity_resolve", "workspace_serve", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        from perfbench import selftest

        selftest.main()
        return
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        res = run_all(args)
    else:
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
