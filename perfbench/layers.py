"""Per-layer metrics derived from the traced run's spans.

Only calls made inside the timed window count. Times are means per call,
so they do not grow with the number of calls a faster run fits into its
window. A layer the workload never enters in its window reports 0.
"""

from __future__ import annotations

from .trace import Tracer


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _self_excluding(tr: Tracer, s: dict, names: set[str]) -> float:
    """Span duration minus the children whose names are in `names`."""
    kids = [c for c in tr.children(s) if c["name"] in names]
    return (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in kids)


def engine_layers(tr: Tracer, search_op: str) -> dict[str, float]:
    """Layers below the engine's public functions. `search_op` names the
    workload's single-query search operation."""
    out: dict[str, float] = {}
    assign = tr.by_name("docids.assign")
    out["docids.assign_s"] = _mean(s["end"] - s["start"] for s in assign)

    builds = tr.by_name("build.build_index")
    out["build.encode_write_s"] = _mean(
        _self_excluding(tr, s, {"build.finalize"}) for s in builds
    )
    out["build.jobs"] = _mean(s["jobs"] for s in builds)
    out["build.tasks"] = _mean(s["tasks"] for s in builds)
    out["build.finalize_s"] = _mean(
        s["end"] - s["start"] for s in tr.by_name("build.finalize")
    )

    appends = tr.by_name("incremental.append")
    out["incremental.append_s"] = _mean(s["end"] - s["start"] for s in appends)
    out["incremental.append_self_s"] = _mean(tr.self_time(s) for s in appends)
    out["incremental.jobs_per_append"] = _mean(
        tr.subtree(s, "jobs") for s in appends
    )

    searches = tr.by_name("query.search")
    out["query.compile_s"] = _mean(
        _self_excluding(tr, s, {"query.dict_lookup", "query.plan"})
        for s in searches
    )
    lookups = tr.by_name("query.dict_lookup")
    out["query.dict_lookup_s"] = _mean(s["end"] - s["start"] for s in lookups)
    out["query.dict_jobs"] = _mean(s["jobs"] for s in lookups)
    out["query.dict_hit_ratio"] = (
        sum(1 for s in lookups if s["jobs"] == 0) / len(lookups)
        if lookups else 0.0
    )
    out["query.plan_s"] = _mean(
        s["end"] - s["start"] for s in tr.by_name("query.plan")
    )
    out["query.execute_s"] = _mean(
        s["end"] - s["start"] for s in tr.by_name("query.execute")
        if s["op"] and s["op"].startswith(search_op + "#")
    )
    ops = tr.by_name(search_op)
    for key, name in (("jobs", "query.jobs_per_search"),
                      ("stages", "query.stages_per_search"),
                      ("tasks", "query.tasks_per_search")):
        out[name] = _mean(tr.subtree(s, key) for s in ops)

    merges = tr.by_name("merge.merge")
    out["merge.merge_s"] = _mean(s["end"] - s["start"] for s in merges)
    out["merge.jobs"] = _mean(tr.subtree(s, "jobs") for s in merges)
    deletes = tr.by_name("deletes.delete")
    out["deletes.delete_s"] = _mean(s["end"] - s["start"] for s in deletes)
    return out
