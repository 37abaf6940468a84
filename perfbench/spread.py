#!/usr/bin/env python3
"""Run the benchmark over several seeds and report how steady it is.

    python3 perfbench/spread.py --workload index_churn --seeds 1 2 3 4 5
    python3 perfbench/spread.py --workload curation_batch --seeds 1 2 3 --trace

For each end-to-end metric: the median over seeds and the interquartile
range as a share of the median (``statistics.quantiles(values, n=4)``),
beside a third of the metric's bound from BENCHMARK.json. With
``--trace`` every seed also runs traced, and the tracing overhead (traced
median minus untraced median) is printed for each latency metric. Runs
are sequential: concurrent runs would contend for the same cores.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    lines = [json.loads(x) for x in p.stdout.splitlines() if x.startswith("{")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"seed {seed} trace {trace} failed:\n{p.stderr[-3000:]}")
    return {k: v for d in lines for k, v in d.items()}, wall


def spread(xs: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    plain, traced, walls = [], [], []
    for seed in args.seeds:
        res, wall = run_once(args.workload, seed, seconds, 0)
        plain.append(res)
        walls.append(wall)
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        if args.trace:
            res, wall = run_once(args.workload, seed, seconds, 1)
            traced.append(res)
            print(f"seed {seed} traced: {wall:.1f}s", flush=True)
    print(f"wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    for m in bench["end_to_end"]:
        xs = [r["metrics"][m["name"]]["value"] for r in plain]
        line = (f"{m['name']:14s} median {statistics.median(xs):.4g} {m['unit']:6s} "
                f"spread {spread(xs) if len(xs) > 1 else 0:.4f} "
                f"(bound/3 {m['bound'] / 3:.4f})")
        if traced and m["unit"] in ("ms", "s"):
            ts = [r["traced_end_to_end"][m["name"]]["value"] for r in traced]
            line += f"  tracing overhead {statistics.median(ts) - statistics.median(xs):+.4g}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
