"""Driver vs Spark serving crossover: the measurement behind
`operators.query.LOCAL_SERVE_POSTINGS`.

For each corpus size, builds the `serve` benchmark's index shape (seeded
perfbench transcript turns, an aligned 5-segment build), then times
`search(...).collect()` on each executor (the bound raised past every call,
then forced to 0) for single queries over the 1..64 most frequent terms and
for batches of 1, 100, 500, 2000 and 4000 benchmark queries. Prints one
JSON line per case with the sum of df of the terms read (what the bound
compares) and the median of 3 warm runs per executor.

Usage: python scripts/serve_crossover.py [N_TURNS ...]   (default 30000 300000)
Indexes are kept under $OJS_CROSSOVER_DIR (default: a temp dir).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SINGLE_TERMS = (1, 2, 4, 8, 16, 32, 64)
BATCHES = (1, 100, 500, 2000, 4000)
REPS = 3


def main() -> None:
    sys.path.insert(0, ROOT)
    # The corpus generator runs in Python workers, which import perfbench.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    import pandas as pd

    from opensearch_jvector_plugin_spark.operators import query
    from opensearch_jvector_plugin_spark.operators.build import build_index
    from opensearch_jvector_plugin_spark.plans.state import term_df_map
    from opensearch_jvector_plugin_spark.session import get_spark
    from perfbench import data, serve

    sizes = [int(a) for a in sys.argv[1:]] or [30_000, 300_000]
    work = os.environ.get("OJS_CROSSOVER_DIR") or tempfile.mkdtemp(
        prefix="ojs_crossover_"
    )
    spark = get_spark(cores=4, shuffle_partitions=8)
    for n in sizes:
        base = os.path.join(work, f"t{n}")
        corpus, idx_dir = f"{base}/corpus.parquet", f"{base}/index"
        if not os.path.exists(f"{idx_dir}/stats.json"):
            serve.write_corpus(spark, 7, n, corpus)
            build_index(
                spark.read.parquet(corpus).repartitionByRange(
                    serve.SEGMENTS, "doc_id"
                ),
                idx_dir, align_partitions=True,
            )
        index = query.load_index(idx_dir)
        dfs = term_df_map(index.dict_path)
        frequent = [t for t, _ in sorted(dfs.items(), key=lambda kv: -kv[1])]

        def timed(qs, bound):
            query.LOCAL_SERVE_POSTINGS = bound
            runs = []
            for _ in range(REPS):
                t = time.perf_counter()
                query.search(spark, index, qs).collect()
                runs.append(time.perf_counter() - t)
            return statistics.median(runs)

        cases = [
            (f"single top{m}", pd.DataFrame(
                [(0, " ".join(frequent[:m]), 10)],
                columns=["query_id", "query_text", "k"],
            ))
            for m in SINGLE_TERMS
        ] + [
            (f"batch {b}", data.queries(11, b, stream=f"probe-{b}"))
            for b in BATCHES
        ]
        # Warm both executors (JIT, the dictionary read) before timing.
        for bound in (0, 1 << 62):
            query.LOCAL_SERVE_POSTINGS = bound
            query.search(spark, index, cases[-1][1]).collect()
        for name, qs in cases:
            _w, _k, terms = query._query_weights(spark, index, qs)
            print(json.dumps({
                "n_turns": n, "case": name, "queries": len(qs),
                "sum_df": sum(dfs[t] for t in terms),
                "driver_s": round(timed(qs, 1 << 62), 3),
                "spark_s": round(timed(qs, 0), 3),
            }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
