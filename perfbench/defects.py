"""Reproductions of the engine's known write-path defects, on tiny inputs.

    python3 perfbench/defects.py

The timed `ingest` workload keeps clear of these sequences, because every
operation a benchmark run times must succeed and return correct results;
this script runs them instead. It prints one JSON line mapping each defect
to {"fixed": bool, "detail": str}. The self-test marks each one as an
expected failure (strict), so a fix shows up as an unexpected pass.

- (a) `append_batch` after an `align_partitions=True` build reuses docIDs
  when a partition holds more than `seg_size` docs (base_doc =
  base_seg * seg_size).
- (b) `delete_docs` refuses live appended docIDs once appends leave docID
  gaps, because `finalize_index` sets max_doc = n_docs.
- (c) An append after a merge that purged deletes re-counts the purged
  docs: `finalize_index` sums n_docs and total_dl over the segment
  manifests, and later merges adjust only pending purges.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BASE, SEG, APPEND = 3_000, 1_000, 500


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import checks, data
    from perfbench.harness import RunContext

    with RunContext(ROOT, "defects", 0, 0, False, time.perf_counter()) as ctx:
        ctx.start_session()
        from opensearch_jvector_plugin_spark.operators.build import (
            build_index,
            committed_segments,
        )
        from opensearch_jvector_plugin_spark.operators.deletes import delete_docs
        from opensearch_jvector_plugin_spark.operators.merge import merge_segments
        from opensearch_jvector_plugin_spark.operators.query import load_index
        from opensearch_jvector_plugin_spark.plans.docids import assign_doc_ids
        from opensearch_jvector_plugin_spark.streaming.incremental import (
            append_batch,
        )
        import numpy as np

        spark = ctx.spark

        def frame(first: int, n: int, partitions: int = 4):
            pdf = data.turns(np.arange(first, first + n), seed=1)
            return spark.createDataFrame(
                pdf[["conv_id", "turn_idx", "text"]]).repartition(partitions)

        def base_index(name: str, aligned: bool = False) -> str:
            idx = ctx.path(name)
            corpus = assign_doc_ids(frame(0, BASE, 1 if aligned else 4),
                                    ["conv_id", "turn_idx"])
            if aligned:
                corpus = corpus.coalesce(1)
            build_index(corpus, idx, seg_size=SEG, align_partitions=aligned)
            return idx

        def stats(idx: str) -> dict:
            with open(os.path.join(idx, "stats.json")) as f:
                return json.load(f)

        out = {}

        idx = base_index("a", aligned=True)
        append_batch(frame(BASE, APPEND), idx, seg_size=SEG)
        overlaps = checks.disjoint_ranges(committed_segments(idx))
        out["a"] = {"fixed": not overlaps, "detail": "; ".join(overlaps)}

        idx = base_index("b")
        append_batch(frame(BASE, APPEND), idx, seg_size=SEG)
        append_batch(frame(BASE + APPEND, APPEND), idx, seg_size=SEG)
        live = max(m["doc_hi"] for m in committed_segments(idx).values())
        try:
            delete_docs(idx, [live])
            out["b"] = {"fixed": True, "detail": f"deleted docID {live}"}
        except ValueError as e:
            out["b"] = {"fixed": False, "detail": str(e)}

        idx = base_index("c")
        delete_docs(idx, list(range(10)))
        merge_segments(spark, load_index(idx))
        append_batch(frame(BASE, APPEND), idx, seg_size=SEG)
        merge_segments(spark, load_index(idx))
        n_docs, want = stats(idx)["n_docs"], BASE - 10 + APPEND
        out["c"] = {"fixed": n_docs == want,
                    "detail": f"n_docs {n_docs}, expected {want}"}
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
