"""serve: read-only serving from a bulk-built, partition-aligned index.

Set-up synthesizes a seeded transcript corpus, builds the index once with
`build_index(..., align_partitions=True)` over SEGMENTS range partitions,
then runs warm-up searches; setup_s is the wall time from process start
to the first timed search. The timed window alternates SINGLES_PER_BATCH
single-query `search(...).collect()` calls (the latency metric: bound by
fixed per-search costs — jobs, stages, broadcasts) with one batch of BATCH
queries (the throughput metric: bound by postings decode and the MaxScore
kernel), at least MIN_BATCHES times. The term dictionary is small, so the driver-side dictionary
cache always hits here.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from . import checks, data, layers, replay
from .harness import RunContext, dir_bytes, log, median, percentile

TURNS_PER_CONV = 10
N_TURNS = 30_000
SEGMENTS = 5
BATCH = 500
SINGLES_PER_BATCH = 2
# Every run makes at least this many cycles of singles and a batch, however
# short its window.
MIN_BATCHES = 2
CHECK_BATCH_QUERIES = 100
WARM_BATCH = 100


def write_corpus(spark, seed: int, n_turns: int, path: str) -> None:
    """Synthesize turns 0..n_turns-1 on the executors and write them with
    their docIDs. Turn i is (conv i // 10, turn i % 10), so its rank in
    (conv_id, turn_idx) order, the docID contract, is i."""
    tpc = TURNS_PER_CONV

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = data.turns(ids, seed, tpc)
            out["doc_id"] = ids
            yield out[["doc_id", "conv_id", "turn_idx", "text"]]

    (spark.range(0, n_turns, 1, SEGMENTS)
     .mapInPandas(gen, "doc_id LONG, conv_id STRING, turn_idx INT, text STRING")
     .write.parquet(path))


def reference(corpus_path: str) -> checks.BM25Reference:
    """BM25 reference over the corpus files, with docIDs re-derived from
    (conv_id, turn_idx) rather than read back."""
    import duckdb

    return checks.BM25Reference(duckdb.connect(), f"""
        SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS doc_id,
               text FROM read_parquet('{corpus_path}/*.parquet')""")


def _rows(df) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in df.collect()],
                        columns=["query_id", "rank", "doc_id", "score"])


def run(ctx: RunContext, session_s: float) -> tuple[bool, dict[str, float]]:
    from opensearch_jvector_plugin_spark.operators.build import build_index
    from opensearch_jvector_plugin_spark.operators.query import load_index, search

    spark = ctx.spark
    t0 = time.perf_counter()
    corpus_path = ctx.path("corpus.parquet")
    write_corpus(spark, ctx.seed, N_TURNS, corpus_path)
    gen_s = time.perf_counter() - t0

    idx_dir = ctx.path("index")
    t = time.perf_counter()
    aligned = spark.read.parquet(corpus_path).repartitionByRange(
        SEGMENTS, "doc_id"
    )
    build_index(aligned, idx_dir, align_partitions=True)
    build_s = time.perf_counter() - t
    index = load_index(idx_dir)
    # Warm-up: a fresh JVM is still compiling the search path's code over
    # its first searches (measured 1.5 s for the first, 1.1-1.2 s for the
    # next few, 0.85-1.0 s later), and the first batch of a process ran 20%
    # slower than the next, so the window opens after one batch of
    # WARM_BATCH queries, which runs the same code as a single search.
    t = time.perf_counter()
    search(spark, index, data.queries(ctx.seed, WARM_BATCH, "warm")).collect()
    warm_s = time.perf_counter() - t
    log(f"serve set-up: session {session_s:.2f}s gen {gen_s:.2f}s "
        f"build {build_s:.2f}s warm-up {warm_s:.2f}s")

    single_s, singles = [], []
    batch_s, batches = [], []
    qs = data.queries(ctx.seed, 1_000, stream="single")
    setup_s = ctx.setup_s()
    deadline = time.perf_counter() + ctx.seconds
    i = b = 0
    # Singles and batches alternate over the whole window, so both metrics
    # sample the same stretch of time on a host whose speed drifts.
    while b < MIN_BATCHES or time.perf_counter() < deadline:
        for _ in range(SINGLES_PER_BATCH):
            q = qs.iloc[[i]]
            i += 1
            try:
                with ctx.op("serve.search") as t:
                    df = search(spark, index, q)
                    with ctx.span("query.execute"):
                        res = _rows(df)
            except Exception:
                ctx.failure("search")
                continue
            single_s.append(t["s"])
            singles.append((q, res))
        batch = data.queries(ctx.seed, BATCH, stream=f"batch-{b}")
        b += 1
        try:
            with ctx.op("serve.batch") as t:
                res = _rows(search(spark, index, batch))
        except Exception:
            ctx.failure("batch search")
            continue
        batch_s.append(t["s"])
        batches.append((batch, res))

    # ---- correctness, outside the timed window
    errors = []
    ref = reference(corpus_path)
    if single_s and batch_s:
        g = data.rng(ctx.seed, "check")
        bq, br = batches[int(g.integers(0, len(batches)))]
        pick = bq.iloc[np.sort(g.choice(len(bq), CHECK_BATCH_QUERIES,
                                        replace=False))]
        # Single and batch query ids overlap; check each set on its own.
        for qset, rset in ((pd.concat([q for q, _ in singles]),
                            pd.concat([r for _, r in singles])),
                           (pick, br[br["query_id"].isin(pick["query_id"])])):
            want = ref.topk(qset)
            ks = dict(zip(qset["query_id"].astype(int), qset["k"].astype(int)))
            errors += checks.compare_topk(rset, want, ks)
    else:
        errors.append("no successful search")
    ctx.check_errors = {"topk": errors}
    for e in errors[:10]:
        log(f"serve check: {e}")

    text_bytes = int(ref.con.execute(
        "SELECT sum(strlen(text)) FROM ref_docs").fetchone()[0])
    idx_ratio = dir_bytes(idx_dir) / text_bytes
    log(f"serve window: singles {[round(x, 2) for x in single_s]} "
        f"batches {[round(x, 2) for x in batch_s]}")
    n = len(single_s)
    lat = median(single_s) if single_s else float("nan")
    # Median over batch calls: one slow stretch moves one sample, not the
    # run's figure.
    qps = median([BATCH / t for t in batch_s]) if batch_s else float("nan")
    ctx.metric("setup_s", setup_s, "s", 1,
               "process start to the first timed search: session, corpus "
               "generation, aligned build, warm-up searches")
    ctx.metric("search_p50_s", lat, "s", n)
    ctx.metric("search_p90_s", percentile(single_s, 90) if n else float("nan"),
               "s", n, "valid" if n - int(np.ceil(0.9 * n)) >= 10
               else "not valid: fewer than 10 samples beyond p90")
    ctx.metric("batch_qps", qps, "1/s", len(batch_s),
               f"median over batch calls of {BATCH} queries")
    ctx.metric("index_bytes_per_text_byte", idx_ratio, "B/B", 1)
    ctx.metric("error_rate", ctx.failed / max(1, ctx.attempted), "1",
               ctx.attempted)

    if ctx.tracer is not None:
        tr = ctx.tracer
        ctx.layers.update(layers.engine_layers(tr, "serve.search"))
        ctx.layers.update(replay.run(ctx.seed))
        ctx.layers["query.segments_searched"] = float(index.n_segments)
        ctx.layers["storage.bytes_written_per_text_byte"] = idx_ratio

    gated = {"setup_s": setup_s, "latency_p50_s": lat, "throughput_per_s": qps}
    return not errors, gated
