"""Index metrics log — the analog of the reference's stats counters
(KNNCounter/StatNames monotonic counters and the REST stats handler,
plugin/stats/KNNCounter.java, plugin/rest/RestKNNStatsHandler.java).

Index builds, appends and merges call `append_metrics` with one JSON record,
kept next to the index: a line of `metrics.jsonl`, or, on an object store,
one object under `metrics/`. `read_metrics` returns the records of both
layouts.
"""

from __future__ import annotations

import json
import os
import time


def append_metrics(index_dir: str, record: dict, storage=None) -> None:
    """Append one JSON metrics record (build/query/merge) to the index's
    metrics log — the lineage + build-metrics surface of the north rule.

    Default (POSIX): append a line to metrics.jsonl. With an IndexStorage
    client: object stores cannot append, so each record becomes its own
    object under metrics/ (one PUT, no read-modify-write race);
    read_metrics merges both layouts."""
    record = {"ts": time.time(), **record}
    data = json.dumps(record, sort_keys=True)
    from ..storage import PosixStorage

    if storage is not None and not isinstance(storage, PosixStorage):
        storage.put_bytes(
            os.path.join(
                index_dir, "metrics", f"{time.time_ns()}.json"
            ),
            data.encode(),
        )
        return
    path = os.path.join(index_dir, "metrics.jsonl")
    with open(path, "a") as f:
        f.write(data + "\n")


def read_metrics(index_dir: str) -> list[dict]:
    out = []
    path = os.path.join(index_dir, "metrics.jsonl")
    if os.path.exists(path):
        with open(path) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    mdir = os.path.join(index_dir, "metrics")
    if os.path.isdir(mdir):
        for fn in sorted(os.listdir(mdir)):
            if fn.endswith(".json"):
                with open(os.path.join(mdir, fn)) as f:
                    out.append(json.load(f))
    return out
