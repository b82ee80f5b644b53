"""Merge wall time at two index shapes: the measurement behind
`operators.merge.BATCH_VALUES` and the chunked merge kernel.

Builds (once) two indexes from seeded perfbench transcript turns:
- `ingest`: the `ingest` benchmark's first merge input, a 10k-turn base
  on the `seg_size` path (4 segments of 2,500) plus two 1,000-turn
  `append_batch` segments;
- `200k`: 200,000 turns in 5 segments (`seg_size=40_000`).

Then runs `merge_segments` (fan_in=None) 3 times on each, after one
warm-up merge, and prints one JSON line per index with the median wall
time and the median `merge_ms` (the merged segment's task time: read,
kernel, write) from the merged manifest.

Usage: python scripts/merge_scale.py [ingest|200k ...]   (default: both)
Indexes are kept under $OJS_MERGE_SCALE_DIR (default: a temp dir), so
two checkouts can time merges of the same input segments in turn.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPS = 3


def main() -> None:
    sys.path.insert(0, ROOT)
    # The corpus generator runs in Python workers, which import perfbench.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    import numpy as np

    from opensearch_jvector_plugin_spark.operators.build import build_index
    from opensearch_jvector_plugin_spark.operators.merge import merge_segments
    from opensearch_jvector_plugin_spark.operators.query import load_index
    from opensearch_jvector_plugin_spark.plans.docids import assign_doc_ids
    from opensearch_jvector_plugin_spark.session import get_spark
    from opensearch_jvector_plugin_spark.streaming.incremental import (
        append_batch,
    )
    from perfbench import data, ingest

    shapes = sys.argv[1:] or ["ingest", "200k"]
    work = os.environ.get("OJS_MERGE_SCALE_DIR") or tempfile.mkdtemp(
        prefix="ojs_merge_scale_"
    )
    spark = get_spark(cores=4, shuffle_partitions=8)

    def build(name: str, turns: int, seg_size: int, appends: int) -> str:
        base = os.path.join(work, name)
        idx = f"{base}/index"
        if os.path.exists(f"{idx}/stats.json"):
            return idx
        src = f"{base}/turns.parquet"
        ingest.write_turns(spark, 7, 0, turns, src)
        corpus = assign_doc_ids(spark.read.parquet(src), ["conv_id", "turn_idx"])
        build_index(corpus, idx, seg_size=seg_size)
        corpus._ojs_persisted.unpersist()
        for a in range(appends):
            first = turns + a * ingest.APPEND_TURNS
            ids = np.arange(first, first + ingest.APPEND_TURNS, dtype=np.int64)
            pdf = data.turns(ids, 7, ingest.TURNS_PER_CONV)
            append_batch(
                spark.createDataFrame(
                    pdf[["conv_id", "turn_idx", "text"]], ingest.COLUMNS
                ),
                idx, seg_size=seg_size,
            )
        return idx

    indexes = {
        "ingest": lambda: build(
            "ingest", ingest.BASE_TURNS, ingest.SEG_SIZE, 2
        ),
        "200k": lambda: build("200k", 200_000, 40_000, 0),
    }
    paths = {s: indexes[s]() for s in shapes}
    # Warm the Python workers and the merge path before timing.
    merge_segments(spark, load_index(paths[shapes[0]]))
    for shape in shapes:
        walls, task_ms = [], []
        for _ in range(REPS):
            t = time.perf_counter()
            manifest = merge_segments(spark, load_index(paths[shape]))
            walls.append(time.perf_counter() - t)
            task_ms.append(sum(m["merge_ms"] for m in manifest["merged_segments"]))
        m = manifest["merged_segments"][0]
        print(json.dumps({
            "shape": shape, "inputs": len(manifest["input_segments"]),
            "n_terms": m["n_terms"], "n_postings": m["n_postings"],
            "merge_s": round(statistics.median(walls), 3),
            "merge_ms": statistics.median(task_ms),
            "runs_s": [round(w, 3) for w in walls],
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
