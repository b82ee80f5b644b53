"""Steadiness and tracing-overhead evidence for the benchmark.

    python3 perfbench/steady.py [--workloads ingest registry] --seeds 1-10 \
        --seconds 6 [--trace 0|1] --out .perfbench_out/set1.json
    python3 perfbench/steady.py --compare set1.json set2.json

The first form runs perfbench/run.py once per (workload, seed), one run at
a time, and prints for each metric the median and the quartile spread
(Q3 - Q1) / median over the seeds, with the wall time of each run. The
second form prints, per workload and metric, how far the second set's
median moved from the first's, over the (workload, seed) pairs both sets
ran (a traced set against an untraced one gives the tracing overhead).
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
ROOT = os.path.dirname(HERE)


def seeds_of(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_set(workloads, seeds, seconds, trace) -> dict:
    runs = []
    for w in workloads:
        for s in seeds:
            t0 = time.perf_counter()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(seconds),
                 "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            wall = time.perf_counter() - t0
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 else None
            runs.append({"workload": w, "seed": s, "wall_s": wall,
                         "code": p.returncode, "result": result})
            print(f"{w} seed {s}: exit {p.returncode}, {wall:.1f}s, "
                  f"{json.dumps(result) if result else p.stderr[-2000:]}",
                  flush=True)
    return {"seconds": seconds, "trace": trace, "runs": runs}


def summarize(data: dict, only: set | None = None) -> dict:
    """Print and return median and spread per workload and metric, over
    the runs whose (workload, seed) is in `only` (all runs by default)."""
    table: dict[str, dict[str, list[float]]] = {}
    for r in data["runs"]:
        if r["result"] is None or (only and (r["workload"], r["seed"]) not in only):
            continue
        for m, v in r["result"]["metrics"].items():
            table.setdefault(r["workload"], {}).setdefault(m, []).append(
                v["value"])
    out = {}
    for w, metrics in table.items():
        walls = [r["wall_s"] for r in data["runs"] if r["workload"] == w]
        print(f"== {w}: {len(walls)} runs, wall median "
              f"{statistics.median(walls):.1f}s max {max(walls):.1f}s")
        for m, vals in metrics.items():
            med = statistics.median(vals)
            sp = spread(vals) if len(vals) >= 2 and med else float("nan")
            out.setdefault(w, {})[m] = {"median": med, "spread": sp}
            print(f"   {m:40s} median {med:14.6g}  spread {sp:7.4f}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+",
                    help="default: the workloads in BENCHMARK.json")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        sets = [json.load(open(p)) for p in args.compare]
        common = set.intersection(*(
            {(r["workload"], r["seed"]) for r in d["runs"]} for d in sets))
        a, b = (summarize(d, common) for d in sets)
        for w in a:
            for m in a[w]:
                other = b.get(w, {}).get(m) or b.get(w, {}).get(f"traced.{m}")
                if other:
                    shift = (other["median"] - a[w][m]["median"]) / a[w][m]["median"]
                    print(f"{w} {m}: {a[w][m]['median']:.6g} -> "
                          f"{other['median']:.6g} ({shift:+.2%})")
        return 0
    if not args.workloads:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            args.workloads = [w["name"] for w in json.load(f)["workloads"]]
    data = run_set(args.workloads, seeds_of(args.seeds), args.seconds,
                   args.trace)
    summarize(data)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(data, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
