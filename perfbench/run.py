"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest|registry --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Prints one report line (every workload
figure with its unit and sample count), then, as the last line, the result
object {"correct", "attempted", "failed", "metrics"}: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. Exits non-zero, without
a result, when the engine package is missing or a run raises, and with
code 1, after the result, when a correctness check fails.
"""

from __future__ import annotations

import time

# setup_s runs from here to the first timed operation.
START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve", "ingest", "registry")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A terminated run still stops its JVM and removes its run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    from perfbench.harness import PACKAGE, RunContext, emit_report, log

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"engine package {PACKAGE!r} not found under {ROOT}")
        return 2
    workload = importlib.import_module(f"perfbench.{args.workload}")

    with RunContext(ROOT, args.workload, args.seed, args.seconds,
                    bool(args.trace), START) as ctx:
        session_s = ctx.start_session()
        if args.trace:
            from perfbench.trace import Tracer

            ctx.tracer = Tracer(ctx.spark)
            ctx.tracer.install()
            ctx.layers["session.start_s"] = session_s
        correct, gated = workload.run(ctx, session_s)
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            ctx.tracer.dump(os.path.join(
                out, f"spans-{args.workload}-{args.seed}.jsonl"))
        result = ctx.result(correct, gated)
    emit_report(ctx)
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
