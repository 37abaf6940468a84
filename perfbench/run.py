#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload index_churn --seed 1 --seconds 15 --trace 0

Runs one workload (see perfbench/workloads.py) from the root of a
checkout and prints, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run also wraps
every public call in its own Spark job group and reports the per-layer
counters instead (plus a ``traced_end_to_end`` line, from which
``perfbench/spread.py --trace`` computes the tracing overhead). The line
before the result records the pinned environment. ``--size tiny`` is
the smoke-test input size.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def machine() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    ram_gib = kb / 2**20
    # a quarter of RAM, within [1g, 24g] (24g is the session default,
    # larger than small machines)
    heap_g = max(1, min(24, int(ram_gib // 4)))
    return {"nproc": cpus, "ram_gib": round(ram_gib, 1), "heap": f"{heap_g}g"}


def pin_environment(mach: dict, workdir: str) -> None:
    """Pin cores and heap, put the checkout on the Python workers' path
    (pandas-UDF ops import the package there), and keep every temporary
    file inside the run's directory. Must run before pyspark starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(mach["nproc"])
    os.environ["NEURONDB_SPARK_DRIVER_MEM"] = mach["heap"]
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # every JVM (the launcher and the driver): temp files here, and no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(out) -> dict:
    from perfbench.layers import END_TO_END

    vals = {
        "setup_s": out.setup_s,
        "success_rate": 1.0 - out.failed / out.attempted,
        "call_ms": 1000.0 * statistics.geometric_mean(out.calls),
        "cycle_s": statistics.median(out.cycles),
        "quality": sum(out.quality) / len(out.quality),
    }
    return {name: {"value": vals[name], "unit": u} for name, u, _b, _bd in END_TO_END}


def per_layer(rec, out) -> dict:
    from perfbench.layers import OPS, per_layer_names

    vals = dict(out.state)
    for op, spans in rec.by_name().items():
        if op not in OPS:
            continue
        for c in OPS[op]:
            xs = [s.ms if c == "ms" else s.counters.get(c) for s in spans]
            xs = [x for x in xs if x is not None]
            if xs:
                vals[f"{op}.{c}"] = statistics.median(xs)
    return {name: {"value": float(vals.get(name, 0.0)), "unit": u}
            for name, u in per_layer_names()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is the smoke-test size")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # the package under test must be present (importing starts no JVM)
    import neurondb_spark  # noqa: F401
    import pyspark

    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=work_root)
    mach = machine()
    pin_environment(mach, workdir)

    from perfbench.trace import Recorder
    from perfbench.workloads import Run

    run_id = f"{args.workload}-{args.seed}-{int(time.time())}-{os.getpid()}"
    rec = Recorder(run_id, trace=bool(args.trace))
    run = Run(rec, workdir, args.size)
    try:
        WORKLOADS[args.workload](run, args.seed, args.seconds)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        rec.write(os.path.join(out_dir, f"spans-{run_id}-t{args.trace}.jsonl"))
        shutil.rmtree(workdir, ignore_errors=True)

    out = run.out
    for f in out.failures:
        print(f"FAILED {f}", file=sys.stderr)
    if not out.calls or not out.cycles or not out.quality:
        print("no successful timed call; no result", file=sys.stderr)
        return 1
    env = {**mach, "spark": pyspark.__version__,
           "python": platform.python_version(), "seed": args.seed,
           "workload": args.workload, "seconds": args.seconds,
           "trace": args.trace, "size": args.size,
           "input_digest": out.input_digest, "cycles": len(out.cycles),
           "calls": len(out.calls)}
    print(json.dumps({"env": env}))
    e2e = end_to_end(out)
    if args.trace:
        print(json.dumps({"traced_end_to_end": e2e}))
        metrics = per_layer(rec, out)
    else:
        metrics = e2e
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
