"""Driver vs Spark state-build crossover: the measurement behind
`operators.build.DRIVER_BUILD_MAX_ROWS`.

For each corpus size, times the registry's state builds that the bound
switches on each executor (the bound raised past every size, then forced
to 0), over a documents.parquet of N synthesized transcript turns:

  - `index`: `entry_queries._index_for` (segment index of 8 segments);
  - `toks`: `entry_queries._toks` (tokenized corpus);
  - `postings`: `query.write_decoded_postings` of that index (the flat
    postings sidecar of a corpus state);
  - `minhash` / `simhash_pairs`: the near-dup band kernel
    (`dedup.minhash_lsh_pairs` n=2 threshold 0.3, `dedup.simhash_pairs`
    max_hamming 3) over the tokenized corpus, collected with `collect()`.

Prints one JSON line per (size, build) with the median of 3 warm runs per
executor, in seconds.

Usage: python scripts/build_crossover.py [N_TURNS ...]
(default 1500 10000 50000 200000). Work files go to a temp dir that is
removed at exit.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TURNS_PER_CONV = 10
REPS = 3


def main() -> None:
    sys.path.insert(0, ROOT)
    import numpy as np

    from opensearch_jvector_plugin_spark import entry_queries as eq
    from opensearch_jvector_plugin_spark.operators import build, query
    from opensearch_jvector_plugin_spark.operators import dedup as dd
    from opensearch_jvector_plugin_spark.session import get_spark
    from opensearch_jvector_plugin_spark.sources.transcripts import (
        synthesize_transcripts_pdf,
    )

    sizes = [int(a) for a in sys.argv[1:]] or [1500, 10_000, 50_000, 200_000]
    work = tempfile.mkdtemp(prefix="ojs_build_crossover_")
    spark = get_spark(cores=4, shuffle_partitions=8)

    def set_bound(driver: bool) -> None:
        build.DRIVER_BUILD_MAX_ROWS = 1 << 62 if driver else 0

    def fresh_sf(docs: str) -> str:
        # A new directory per run: _index_for and _toks memoize by sf_dir.
        sf = tempfile.mkdtemp(dir=work)
        shutil.copyfile(docs, os.path.join(sf, "documents.parquet"))
        return sf

    try:
        for n in sizes:
            docs = os.path.join(work, f"documents-{n}.parquet")
            pdf = synthesize_transcripts_pdf(
                np.arange(n), n // TURNS_PER_CONV, TURNS_PER_CONV
            )
            pdf.insert(0, "doc_id", np.arange(n, dtype=np.int64))
            pdf[["doc_id", "text"]].to_parquet(docs, index=False)
            idx = eq._index_for(spark, fresh_sf(docs))
            toks = eq._toks_path(spark, fresh_sf(docs))
            builds = {
                "index": lambda: eq._index_for(spark, fresh_sf(docs)),
                "toks": lambda: eq._toks(spark, fresh_sf(docs)),
                "postings": lambda: query.write_decoded_postings(
                    spark, idx, tempfile.mkdtemp(dir=work)
                ),
                "minhash": lambda: dd.minhash_lsh_pairs(
                    spark, toks, n=2, threshold=0.3
                ).collect(),
                "simhash_pairs": lambda: dd.simhash_pairs(
                    spark, toks, max_hamming=3
                ).collect(),
            }
            for name, run in builds.items():
                times = {}
                for driver in (True, False):
                    set_bound(driver)
                    run()  # warm-up
                    runs = []
                    for _ in range(REPS):
                        t = time.perf_counter()
                        run()
                        runs.append(time.perf_counter() - t)
                    times[driver] = statistics.median(runs)
                print(json.dumps({
                    "n_turns": n, "build": name,
                    "driver_s": round(times[True], 3),
                    "spark_s": round(times[False], 3),
                }), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
