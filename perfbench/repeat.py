#!/usr/bin/env python3
"""Run the benchmark once per seed and summarize each metric.

    python3 perfbench/repeat.py --workload query_mix --seeds 1-10 [--trace 1]

Runs ``run.py`` one seed after another from the checkout root and
prints, per metric: median, first and third quartile, the quartile
spread as a share of the median, and the sample count; then the
operations attempted and failed over all runs. The raw result lines
go to ``--out`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,7,11")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    results = []
    for seed in seeds(a.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
            cwd=os.path.dirname(HERE), capture_output=True, text=True,
        )
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res["seed"] = seed
        results.append(res)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", flush=True)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(res) + "\n")
    print(f"{'metric':58s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'iqr/med':>8s}  n unit")
    for name, first in results[0]["metrics"].items():
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:58s} {med:14.4f} {q1:14.4f} {q3:14.4f} {spread:8.3f} {len(vals):2d} "
              f"{first['unit']}")
    print(f"runs={len(results)} attempted={sum(r['attempted'] for r in results)} "
          f"failed={sum(r['failed'] for r in results)} "
          f"all_correct={all(r['correct'] for r in results)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
