"""Driver-side replays of executor kernels, for the traced run.

Executor-side code cannot be wrapped from the driver, so the traced run
calls the same kernels in-process on seeded inputs: `encode_segment` on a
20k-turn batch, `decode_segment_postings` on that segment's postings for
the terms of a 500-query batch, and `maxscore_topk` on the decoded lists
(the loop of the search kernel). Token and posting counts repeat exactly
for a given seed; times are medians of three repetitions.
"""

from __future__ import annotations

import time
from collections import Counter

import numpy as np

from . import data
from .harness import median

REPLAY_TURNS = 20_000
REPLAY_QUERIES = 500
REPS = 3


def _timed(fn):
    times, out = [], None
    for _ in range(REPS):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return median(times), out


def run(seed: int) -> dict[str, float]:
    from opensearch_jvector_plugin_spark.functions.bm25 import bm25_idf_py
    from opensearch_jvector_plugin_spark.functions.tokenizer import tokenize_text
    from opensearch_jvector_plugin_spark.operators.query import (
        decode_segment_postings,
    )
    from opensearch_jvector_plugin_spark.operators.segment import encode_segment
    from opensearch_jvector_plugin_spark.operators.wand import (
        maxscore_topk,
        term_upper_bound,
    )

    batch = data.turns(np.arange(REPLAY_TURNS, dtype=np.int64), seed)
    doc_ids = np.arange(REPLAY_TURNS, dtype=np.int64)
    t_enc, (rows, summary) = _timed(lambda: encode_segment(doc_ids, batch["text"]))
    tokens = int(summary["sum_dl"])

    qs = data.queries(seed, REPLAY_QUERIES, stream="replay")
    qtfs = [Counter(tokenize_text(t)) for t in qs["query_text"]]
    wanted = sorted({t for c in qtfs for t in c})
    pruned = rows[rows["term"].isin(wanted)].reset_index(drop=True)
    t_dec, decoded = _timed(lambda: decode_segment_postings(pruned))
    n_post = int(sum(len(v[0]) for v in decoded.values()))

    n_docs = int(summary["n_docs"])
    avgdl = tokens / n_docs
    meta = {r.term: (np.asarray(r.block_max_tf, dtype=np.int64),
                     np.asarray(r.block_min_dl, dtype=np.int64))
            for r in pruned.itertuples(index=False)}
    df = dict(zip(pruned["term"], pruned["df"]))
    ub_base = {t: term_upper_bound(1.0, *meta[t], avgdl) for t in decoded}

    def topk_all():
        cache: dict = {}
        for qtf, k in zip(qtfs, qs["k"]):
            tp = {t: decoded[t] for t in qtf if t in decoded}
            if not tp:
                continue
            tw = {t: qtf[t] * bm25_idf_py(int(df[t]), n_docs) for t in tp}
            ubs = {t: tw[t] * ub_base[t] for t in tp}
            maxscore_topk(tp, tw, ubs, int(k), avgdl, tf_norm_cache=cache)

    t_topk, _ = _timed(topk_all)
    return {
        "segment.encode_s_per_mtoken": t_enc / (tokens / 1e6),
        "codec.decode_s_per_mposting": t_dec / max(n_post, 1) * 1e6,
        "codec.postings_decoded": float(n_post),
        "wand.topk_s_per_query": t_topk / REPLAY_QUERIES,
    }
