"""ingest: writes beside reads on one index.

Set-up writes the seeded base corpus, runs a warm-up build of a separate
small corpus and a warm-up search; setup_s is the wall time from process
start to the first timed operation.
The timed window bulk-builds the base on the `seg_size` path
(`assign_doc_ids` + `build_index`, BASE_TURNS // SEG_SIZE segments), then
loops: `append_batch` of APPEND_TURNS new turns and a forced
`merge_segments` every MERGE_EVERY appends. When the window closes it
makes one `delete_docs` of DELETE_N live base docIDs and a final merge,
which purges them. SEARCHES_PER_WRITE single-query searches follow the
bulk build and every write.
Appends and merges rewrite the term dictionary, so the searches after
them miss the driver's dictionary cache; searches after the delete hit it.

Every operation of the window succeeds on the engine as it is. Deletes
come last and draw from the base because of two known write-path defects
(reproduced by `perfbench/defects.py`, see NOTES.md): `delete_docs`
refuses live appended docIDs once appends leave docID gaps (b), and an
append after a merge that purged deletes re-counts the purged docs in the
index statistics (c).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from . import checks, data, layers, replay
from .harness import RunContext, dir_bytes, log, median

TURNS_PER_CONV = 10
SEG_SIZE = 2_500
BASE_TURNS = 10_000
WARM_TURNS = 1_000
APPEND_TURNS = 1_000
DELETE_N = 20
MERGE_EVERY = 2
# The loop runs until the window closes but makes at least MIN_APPENDS
# appends, so every run covers the same sequence of commit kinds: append,
# merge, an append after a merge, a delete and a purging merge.
MIN_APPENDS = 3
WARM_SEARCHES = 1
# Searches after each write: the first after a commit reloads the term
# dictionary, the next finds it cached. Two per write give 12 latency
# samples a run; with one, the median of 6 spread 0.29 over ten seeds.
SEARCHES_PER_WRITE = 2
CHECK_QUERIES = 30

COLUMNS = "conv_id STRING, turn_idx INT, text STRING"


def write_turns(spark, seed: int, first: int, n: int, path: str) -> None:
    def gen(batches):
        for pdf in batches:
            out = data.turns(pdf["id"].to_numpy(), seed, TURNS_PER_CONV)
            yield out[["conv_id", "turn_idx", "text"]]

    spark.range(first, first + n, 1, 4).mapInPandas(gen, COLUMNS).write.parquet(
        path
    )


def base_docs(path: str) -> pd.DataFrame:
    """The base corpus as the reference sees it: docIDs re-derived from
    (conv_id, turn_idx) order rather than read from the index."""
    import pyarrow.parquet as pq

    pdf = pq.read_table(path).to_pandas().sort_values(
        ["conv_id", "turn_idx"], kind="mergesort")
    return pd.DataFrame({"text": pdf["text"].to_numpy(),
                         "doc_id": np.arange(len(pdf), dtype=np.int64)})


def text_bytes(docs: pd.DataFrame) -> int:
    import pyarrow as pa
    import pyarrow.compute as pc

    return int(pc.sum(pc.binary_length(pa.array(docs["text"], pa.string())))
               .as_py() or 0)


def run(ctx: RunContext, session_s: float) -> tuple[bool, dict[str, float]]:
    from opensearch_jvector_plugin_spark.operators.build import (
        build_index,
        committed_segments,
    )
    from opensearch_jvector_plugin_spark.operators.deletes import delete_docs
    from opensearch_jvector_plugin_spark.operators.merge import merge_segments
    from opensearch_jvector_plugin_spark.operators.query import load_index, search
    from opensearch_jvector_plugin_spark.plans.docids import assign_doc_ids
    from opensearch_jvector_plugin_spark.streaming.incremental import append_batch

    spark = ctx.spark
    seed = ctx.seed

    def bulk_build(src: str, out: str) -> None:
        corpus = assign_doc_ids(spark.read.parquet(src), ["conv_id", "turn_idx"])
        build_index(corpus, out, seg_size=SEG_SIZE)
        corpus._ojs_persisted.unpersist()

    # ---- set-up: inputs, then warm-up builds of a separate corpus
    t0 = time.perf_counter()
    base_path = ctx.path("base.parquet")
    write_turns(spark, seed, 0, BASE_TURNS, base_path)
    warm_path = ctx.path("warm.parquet")
    write_turns(spark, seed + 1, 0, WARM_TURNS, warm_path)
    gen_s = time.perf_counter() - t0
    t = time.perf_counter()
    warm_idx = ctx.path("warm")
    bulk_build(warm_path, warm_idx)
    warm_s = time.perf_counter() - t
    # Searches on the warm-up index, so the first timed searches do not pay
    # the JVM's compilation of the search path. Appends share build's code
    # path: the first timed append measured no slower than later ones.
    t = time.perf_counter()
    for q in range(WARM_SEARCHES):
        search(spark, load_index(warm_idx),
               data.queries(seed, 1, f"warm-{q}")).collect()
    warm_search_s = time.perf_counter() - t
    log(f"ingest set-up: session {session_s:.2f}s gen {gen_s:.2f}s "
        f"warm-up build {warm_s:.2f}s searches {warm_search_s:.2f}s")

    idx = ctx.path("index")
    qs = data.queries(seed, 1_000, stream="ingest-search")
    appended: list[pd.DataFrame] = []  # (doc_id, text) of appended turns
    deleted: set[int] = set()
    manifests_after_append: list[dict] = []
    search_s, append_s, merge_s, write_s = [], [], [], []
    segs_searched = []
    bytes_written = 0

    setup_s = ctx.setup_s()
    start = time.perf_counter()
    deadline = start + ctx.seconds
    with ctx.op("ingest.build") as t:
        bulk_build(base_path, idx)
    build_s = t["s"]
    write_s.append(build_s)
    bytes_written += dir_bytes(idx)
    next_seg = BASE_TURNS // SEG_SIZE
    next_turn = BASE_TURNS

    merges: list[tuple[int, frozenset, int]] = []

    def do_merge() -> None:
        nonlocal bytes_written
        try:
            with ctx.op("ingest.merge") as t:
                merge_segments(spark, load_index(idx))
        except Exception:
            ctx.failure("merge")
            return
        merge_s.append(t["s"])
        write_s.append(t["s"])
        merged = dir_bytes(os.path.join(idx, "merged"))
        bytes_written += merged
        merges.append((merged, frozenset(deleted), len(appended)))

    n_searches = 0

    def search_after_write() -> None:
        nonlocal n_searches
        index = load_index(idx)
        for _ in range(SEARCHES_PER_WRITE):
            q = qs.iloc[[n_searches]]
            n_searches += 1
            if ctx.tracer is not None:
                segs_searched.append(1 if index.merged_is_current()
                                     else index.n_segments)
            try:
                with ctx.op("ingest.search") as t:
                    df = search(spark, index, q)
                    with ctx.span("query.execute"):
                        df.collect()
            except Exception:
                ctx.failure("search")
                continue
            search_s.append(t["s"])

    search_after_write()
    step = 0
    while step < MIN_APPENDS or time.perf_counter() < deadline:
        step += 1
        ids = np.arange(next_turn, next_turn + APPEND_TURNS, dtype=np.int64)
        next_turn += APPEND_TURNS
        pdf = data.turns(ids, seed, TURNS_PER_CONV)
        batch = spark.createDataFrame(pdf[["conv_id", "turn_idx", "text"]],
                                      COLUMNS)
        before = dir_bytes(idx)
        try:
            with ctx.op("ingest.append") as t:
                append_batch(batch, idx, seg_size=SEG_SIZE)
        except Exception:
            ctx.failure("append")
            continue
        append_s.append(t["s"])
        write_s.append(t["s"])
        bytes_written += max(0, dir_bytes(idx) - before)
        doc_ids = next_seg * SEG_SIZE + (ids - ids[0])
        next_seg += 1
        appended.append(pd.DataFrame({"text": pdf["text"].to_numpy(),
                                      "doc_id": doc_ids}))
        manifests_after_append.append(committed_segments(idx))
        search_after_write()
        if step % MERGE_EVERY == 0:
            do_merge()
            search_after_write()

    victims = data.delete_set(seed, step, np.arange(BASE_TURNS), DELETE_N)
    try:
        with ctx.op("ingest.delete"):
            delete_docs(idx, victims.tolist())
    except Exception:
        ctx.failure("delete")
    else:
        deleted.update(victims.tolist())
        search_after_write()
    do_merge()
    window_s = time.perf_counter() - start
    log(f"ingest window: build {build_s:.2f}s appends "
        f"{[round(a, 2) for a in append_s]} merges "
        f"{[round(m, 2) for m in merge_s]} searches "
        f"{[round(q, 2) for q in search_s]}")

    # ---- correctness, outside the timed window
    ranges = []
    for i, m in enumerate(manifests_after_append):
        ranges += [f"after append {i + 1}: {e}"
                   for e in checks.disjoint_ranges(m)]
    base = base_docs(base_path)

    def live_docs(dels=deleted, n_appended=None) -> pd.DataFrame:
        docs = pd.concat([base] + appended[:n_appended], ignore_index=True)
        return docs[~docs["doc_id"].isin(dels)]

    merge_ratio = [b / text_bytes(live_docs(d, n)) for b, d, n in merges]
    docs = live_docs()
    import duckdb

    con = duckdb.connect()
    con.register("live_docs", docs)
    ref = checks.BM25Reference(con, "SELECT doc_id, text FROM live_docs")
    check_q = data.queries(seed, CHECK_QUERIES, stream="ingest-check")
    got = search(spark, load_index(idx), check_q).toPandas()
    want = ref.topk(check_q)
    ks = dict(zip(check_q["query_id"].astype(int), check_q["k"].astype(int)))
    ctx.check_errors = {"ranges": ranges,
                        "final": checks.compare_topk(got, want, ks)}
    for kind, errs in ctx.check_errors.items():
        for e in errs[:5]:
            log(f"ingest check ({kind}): {e}")

    text_ingested = text_bytes(pd.concat([base] + appended))
    turns_ingested = BASE_TURNS + APPEND_TURNS * len(append_s)
    lat = median(search_s) if search_s else float("nan")
    tput = turns_ingested / sum(write_s)
    ctx.metric("setup_s", setup_s, "s", 1,
               "process start to the timed bulk build: session, input "
               "generation, a warm-up build and search")
    ctx.metric("search_p50_s", lat, "s", len(search_s))
    ctx.metric("build_turns_per_s", BASE_TURNS / build_s, "1/s", 1,
               f"{BASE_TURNS} turns, {BASE_TURNS // SEG_SIZE} segments")
    ctx.metric("append_p50_s", median(append_s) if append_s else float("nan"),
               "s", len(append_s), f"{APPEND_TURNS} turns per append")
    ctx.metric("merge_p50_s", median(merge_s) if merge_s else float("nan"),
               "s", len(merge_s))
    ctx.metric("write_turns_per_s", tput, "1/s", len(write_s),
               "turns ingested per second of build, append and merge time")
    ctx.metric("index_bytes_per_text_byte",
               dir_bytes(idx) / text_bytes(docs), "B/B", 1)
    ctx.metric("error_rate", ctx.failed / max(1, ctx.attempted), "1",
               ctx.attempted)
    ctx.metric("window_s", window_s, "s", 1)

    if ctx.tracer is not None:
        tr = ctx.tracer
        ctx.layers.update(layers.engine_layers(tr, "ingest.search"))
        ctx.layers.update(replay.run(seed))
        ctx.layers["query.segments_searched"] = (
            sum(segs_searched) / len(segs_searched) if segs_searched else 0.0
        )
        ctx.layers["merge.bytes_written_per_text_byte"] = (
            sum(merge_ratio) / len(merge_ratio) if merge_ratio else 0.0
        )
        ctx.layers["storage.bytes_written_per_text_byte"] = (
            bytes_written / text_ingested
        )

    gated = {"setup_s": setup_s, "latency_p50_s": lat, "throughput_per_s": tput}
    return not any(ctx.check_errors.values()), gated
