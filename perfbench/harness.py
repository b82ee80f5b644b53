"""Run context shared by the workloads: environment, Spark session, clocks,
statistics and the result record.

Every path the benchmark writes lives under ``<checkout>/.perfbench_tmp``
(one directory per run, removed at exit) or ``<checkout>/.perfbench_out``
(span dumps of traced runs). Session settings come from the host, never
from the engine's defaults: cores from the CPU affinity mask (what
``nproc`` prints) and the driver heap from physical memory.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext

PACKAGE = "opensearch_jvector_plugin_spark"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A quarter of physical memory, capped at 4 GiB: the host is shared
    and the workloads hold at most a few hundred MB of index state."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return int(max(1024, min(4096, total // 4 // (1 << 20))))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100])."""
    s = sorted(values)
    idx = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[idx]


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def metric_units(root: str, kind: str) -> dict[str, str]:
    """name -> unit of the `kind` ("end_to_end" or "per_layer") metrics
    listed in the checkout's BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class RunContext:
    """Owns the per-run directory, the SparkSession and the result record.

    Use as a context manager: on exit the session and its JVM are stopped
    and waited for, and the run directory is removed."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, start: float):
        self.root = root
        self.start = start
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        base = os.path.join(root, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.run_dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=base)
        self.tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(self.tmp)
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.report: dict[str, dict] = {}
        # Correctness-check failures by kind, for the report line.
        self.check_errors: dict[str, list[str]] = {}
        self.layers: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    # ------------------------------------------------------------ session

    def start_session(self) -> float:
        """Start Spark with benchmark-owned settings and warm the Python
        worker pool. Returns the wall time in seconds."""
        t0 = time.perf_counter()
        # Python workers import the engine from the checkout; every temp
        # file (Python, JVM, Spark shuffle) lands in the run directory.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        # Every JVM, the spark-submit launcher included: no perf-data file
        # under /tmp, temp files in the run directory.
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        )
        tempfile.tempdir = self.tmp
        from opensearch_jvector_plugin_spark.session import get_spark

        cores = host_cores()
        self.spark = get_spark(
            cores=cores,
            app_name=f"perfbench-{self.workload}",
            extra_conf={
                "spark.driver.memory": f"{driver_heap_mb()}m",
                "spark.local.dir": self.tmp,
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        n = cores * 2
        self.spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").count()
        return time.perf_counter() - t0

    def setup_s(self) -> float:
        """Wall time from the start of the process to now; a workload calls
        this right before its first timed operation."""
        return time.perf_counter() - self.start

    def close(self) -> None:
        try:
            if self.spark is not None:
                gateway = self.spark.sparkContext._gateway
                proc = getattr(gateway, "proc", None)
                try:
                    self.spark.stop()
                    gateway.shutdown()
                finally:
                    # The JVM exits when its stdin closes; wait so no
                    # process outlives the run.
                    if proc is not None:
                        proc.stdin.close()
                        try:
                            proc.wait(timeout=60)
                        except subprocess.TimeoutExpired:
                            proc.kill()
                            proc.wait()
                self.spark = None
        finally:
            shutil.rmtree(self.run_dir, ignore_errors=True)

    def __enter__(self) -> "RunContext":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    @contextmanager
    def op(self, name: str):
        """Time one client operation (a root span when tracing). Yields a
        dict whose "s" holds the wall time once the block exits."""
        timing = {"s": None}
        self.attempted += 1
        with self.tracer.op(name) if self.tracer else nullcontext():
            t0 = time.perf_counter()
            yield timing
            timing["s"] = time.perf_counter() - t0

    def span(self, name: str):
        """A nested span inside an operation; nothing when untraced."""
        return self.tracer.span(name) if self.tracer else nullcontext()

    def failure(self, what: str) -> None:
        """Count a failed or refused operation and log its traceback."""
        import traceback

        self.failed += 1
        log(f"{what} failed:\n{traceback.format_exc()}")

    # ------------------------------------------------------------ results

    def metric(self, name: str, value: float, unit: str, samples: int,
               note: str = "") -> None:
        """Record an end-to-end figure for the human-readable report."""
        entry = {"value": value, "unit": unit, "samples": samples}
        if note:
            entry["note"] = note
        self.report[name] = entry

    def result(self, correct: bool, gated: dict[str, float]) -> dict:
        """The benchmark's last stdout line: end-to-end metrics untraced,
        per-layer metrics traced (0 for a layer the workload never enters).
        Names and units come from BENCHMARK.json."""
        if self.trace:
            values = dict(self.layers)
            values.update({f"traced.{k}": v for k, v in gated.items()})
            units = metric_units(self.root, "per_layer")
        else:
            values, units = gated, metric_units(self.root, "end_to_end")
        return {
            "correct": bool(correct),
            "attempted": int(max(1, self.attempted)),
            "failed": int(self.failed),
            "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u}
                        for n, u in units.items()},
        }


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def emit_report(ctx: RunContext) -> None:
    """One stdout line before the result: every workload figure by name,
    with its unit and sample count."""
    print(json.dumps({"workload": ctx.workload, "seed": ctx.seed,
                      "report": ctx.report,
                      "check_errors": {k: len(v) for k, v in
                                       ctx.check_errors.items()}},
                     sort_keys=True), flush=True)
