"""Spans and Spark job counts for the traced run.

The tracer replaces public engine functions by wrappers, from this file
only: every module of the engine package that holds a reference to a
wrapped function gets the wrapper, so calls between engine modules are
traced too. No program file is edited.

A span records (id, name, op, parent, start, end) and the Spark jobs,
stages and tasks launched while it was the innermost open span. Each span
runs under its own Spark job group, so jobs are attributed exactly; the
counts are read from the status tracker when the span closes. Spans are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

from .harness import PACKAGE

# (module, function) pairs wrapped in the traced run, and their span names.
TRACED = [
    ("plans.docids", "assign_doc_ids", "docids.assign"),
    ("operators.build", "build_index", "build.build_index"),
    ("operators.build", "finalize_index", "build.finalize"),
    ("streaming.incremental", "append_batch", "incremental.append"),
    ("operators.merge", "merge_segments", "merge.merge"),
    ("operators.deletes", "delete_docs", "deletes.delete"),
    ("operators.query", "search", "query.search"),
    ("operators.query", "lookup_term_dfs", "query.dict_lookup"),
    ("operators.query", "search_weighted", "query.plan"),
]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op = None
        self._next = 0

    # ------------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = self._next
        self._next += 1
        s = {"id": sid, "name": name, "op": self._op,
             "parent": parent["id"] if parent else None,
             "jobs": 0, "stages": 0, "tasks": 0}
        group = f"perfbench-span-{sid}"
        self._stack.append(s)
        self.sc.setJobGroup(group, name)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-span-{parent['id']}",
                                    parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(group, s)
            self.spans.append(s)

    @contextmanager
    def op(self, name: str):
        """A root span: one operation of the workload's client."""
        self._op = f"{name}#{self._next}"
        with self.span(name) as s:
            yield s
        self._op = None

    def _count_jobs(self, group: str, s: dict) -> None:
        # Listener events arrive asynchronously; drain the bus first so
        # every job of the group is registered.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            s["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is not None and st.numTasks:
                    s["stages"] += 1
                    s["tasks"] += st.numTasks

    # ---------------------------------------------------------- wrapping

    def install(self) -> None:
        import importlib

        for mod_name, fn_name, span_name in TRACED:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            orig = getattr(mod, fn_name)

            def wrapper(*a, __orig=orig, __name=span_name, **kw):
                with self.span(__name):
                    return __orig(*a, **kw)

            functools.update_wrapper(wrapper, orig)
            for m in list(sys.modules.values()):
                if m is None or not getattr(m, "__name__", "").startswith(PACKAGE):
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapper)

    # ---------------------------------------------------------- analysis

    def by_name(self, name: str) -> list[dict]:
        """Spans of `name` inside a timed operation (set-up excluded)."""
        return [s for s in self.spans if s["name"] == name and s["op"]]

    def children(self, s: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == s["id"]]

    def self_time(self, s: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(s))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s["end"] - s["start"]) - covered

    def subtree(self, s: dict, key: str) -> int:
        return s[key] + sum(self.subtree(c, key) for c in self.children(s))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
