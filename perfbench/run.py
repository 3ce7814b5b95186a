#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload topk-repeat --seed 1 --seconds 5 \
        --trace 0

Run from the root of a checkout. Spark runs at local[<cores>] with as
many shuffle partitions as cores, one client thread. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it (``perfbench-notes ...``) carries loadavg, the op count, the one-time
cache build time and any errors or mismatches. Exit code 0 on a
completed run, 1 when the workload raised, 2 when the program is not in
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.monotonic()

WORKLOAD_NAMES = ("topk-repeat", "ingest")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    import common

    if not common.program_present():
        print("perfbench: torchtrajectory_spark/ and bench.py are not in "
              f"{common.ROOT}; run from the root of a full checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(common.WORK, "runs", str(os.getpid()))
    common.prepare_process(run_dir)

    spark, run = None, None
    try:
        import probes
        import spans
        import workloads

        spark = common.start_spark(run_dir)
        spark_s = time.monotonic() - T_START
        tracer = spans.Tracer(spark, enabled=bool(args.trace))
        tracer.install()
        run = workloads.Run(spark, tracer, args.seed, args.seconds, T_START)
        metrics = workloads.WORKLOADS[args.workload](run)
        tracer.uninstall()
        if args.trace:
            tracer.resolve_jobs()
            metrics = probes.layer_metrics(run, metrics)
            out = os.path.join(common.WORK, "traces")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(
                out, f"{args.workload}-seed{args.seed}.jsonl"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    run.notes["spark_start_s"] = spark_s
    run.notes["cache_build_s"] = run.cache_build_s
    run.notes["wall_s"] = time.monotonic() - T_START
    print("perfbench-notes " + json.dumps(run.notes, default=float))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
