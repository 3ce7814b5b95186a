#!/usr/bin/env python3
"""Stability mode: run one workload repeatedly on unchanged code and print
each metric's median, quartiles and spread (also for the wall-clock
figures of the notes line).

    python3 perfbench/stability.py --workload topk-repeat --runs 10 \
        --first-seed 1 --seconds 5

Each run is ``perfbench/run.py`` with its own seed (first-seed, +1, ...),
one after the other. The spread of a metric is (Q3 - Q1) / median, with
the quartiles from ``statistics.quantiles(values, n=4)``. The last line
is the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan"),
            "n": len(values)}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    values: dict[str, list[float]] = {}
    runs = []
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True)
        wall = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}",
                  file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        notes = next((json.loads(x.split(" ", 1)[1]) for x in lines
                      if x.startswith("perfbench-notes ")), {})
        runs.append({"seed": seed, "wall_s": wall, "correct": res["correct"],
                     "attempted": res["attempted"], "failed": res["failed"],
                     "loadavg": notes.get("loadavg")})
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        figures = {k: v for k, v in notes.items()  # unbounded figures
                   if k.endswith(("_s", "_per_s"))
                   and isinstance(v, (int, float))}
        for k, v in figures.items():
            values.setdefault(f"notes.{k}", []).append(v)
        print(json.dumps({**runs[-1], "metrics": {
            k: round(m["value"], 5) for k, m in res["metrics"].items()},
            "notes": {k: round(v, 5) for k, v in figures.items()}}),
            flush=True)

    summary = {k: summarize(v) for k, v in values.items()}
    for k, s in summary.items():
        print(f"{k:36s} median {s['median']:12.5f}  q1 {s['q1']:12.5f}  "
              f"q3 {s['q3']:12.5f}  spread {s['spread']:.3f}")
    print(json.dumps({"workload": args.workload, "runs": runs,
                      "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
