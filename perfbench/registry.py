"""registry: declarative operators of the query registry (`entry_queries`).

Set-up writes seeded harness tables (documents, embeddings, events and the
TPC-H-like tables) and makes one cold pass, which builds the per-process
corpus, transcript and vector-index state. The timed window makes complete
passes over QUERIES, in the same order in every run, fetching each result
with `toPandas()`. The set holds one query per operator family, because a
pass over all 89 entries takes about 90 s on four cores and every run
pays the cold pass again. Single queries vary between passes, so the
throughput metric is registry queries per second over whole passes.
"""

from __future__ import annotations

import os
import time

from . import checks, data
from .harness import RunContext, log, median

# One entry per family: positional phrase scoring over the corpus state
# (the BM25 family), transcript aggregation over the transcript state,
# MinHash LSH dedup, trained IVF serving, and a relational join.
QUERIES = {
    "bm25_phrase": "bm25",
    "transcript_terms_agg": "transcript",
    "dedup_minhash": "dedup",
    "ann_ivf_trained": "ann",
    "tpch_q3": "other",
}
# Every run makes at least this many timed passes: with one, the mean
# query time of a pass spread 0.26 over ten seeds.
MIN_PASSES = 2
TABLES = ["customer", "orders", "lineitem", "events", "documents",
          "embeddings"]


def run(ctx: RunContext, session_s: float) -> tuple[bool, dict[str, float]]:
    from opensearch_jvector_plugin_spark import entry_queries as eq

    spark = ctx.spark
    sf_dir = ctx.path("tables")
    data.harness_tables(ctx.seed, sf_dir)
    # One order for every seed: with the order drawn from the seed, the
    # median query time moved with which query followed which (quartile
    # spread 0.21 over ten seeds); the seed varies the tables only.
    order = list(QUERIES)
    first: dict[str, float] = {}
    for name in order:
        t = time.perf_counter()
        eq.QUERIES[name](spark, sf_dir).toPandas()
        spark.catalog.clearCache()
        first[name] = time.perf_counter() - t
    log(f"registry set-up: session {session_s:.2f}s cold pass "
        f"{ {n: round(t, 2) for n, t in first.items()} }")

    calls: dict[str, list[float]] = {n: [] for n in order}
    results = {}
    pass_s, pass_mean_s = [], []
    setup_s = ctx.setup_s()
    deadline = time.perf_counter() + ctx.seconds
    while len(pass_s) < MIN_PASSES or time.perf_counter() < deadline:
        p0 = time.perf_counter()
        done = []
        for name in order:
            try:
                with ctx.op(f"registry.{name}") as t:
                    results[name] = eq.QUERIES[name](spark, sf_dir).toPandas()
            except Exception:
                ctx.failure(name)
                continue
            finally:
                spark.catalog.clearCache()
            calls[name].append(t["s"])
            done.append(t["s"])
        pass_s.append(time.perf_counter() - p0)
        if done:
            pass_mean_s.append(sum(done) / len(done))

    # ---- correctness: each result against its oracle SQL in DuckDB
    import duckdb

    con = duckdb.connect()
    eq._transcript_parquet()  # the transcript oracle's input fixture
    for tname in TABLES:
        con.execute(f"CREATE VIEW {tname} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, tname + '.parquet')}'")
    errors = []
    for name in order:
        if name not in results:
            errors.append(f"{name}: no result")
            continue
        errors += checks.frames_equal(
            name, results[name], con.execute(eq.ORACLES[name]).df()
        )
    ctx.check_errors = {"oracle": errors}
    for e in errors:
        log(f"registry check: {e}")

    all_calls = [t for ts in calls.values() for t in ts]
    n_done = len(all_calls)
    # The queries differ in cost, so the median over single calls is the
    # time of whichever query sits in the middle (quartile spread 0.24 over
    # five seeds); the gated latency is the mean query time of a pass,
    # median over passes.
    lat = median(pass_mean_s) if pass_mean_s else float("nan")
    qps = n_done / sum(pass_s)
    ctx.metric("setup_s", setup_s, "s", 1,
               "process start to the first timed query: session, table "
               "generation, one cold pass")
    ctx.metric("queries_per_s", qps, "1/s", n_done,
               f"{len(pass_s)} passes of {len(order)} queries")
    ctx.metric("query_p50_s", median(all_calls) if all_calls
               else float("nan"), "s", n_done)
    ctx.metric("query_mean_s", lat, "s", len(pass_mean_s),
               "mean query time of a pass, median over passes")
    ctx.metric("error_rate", ctx.failed / max(1, ctx.attempted), "1",
               ctx.attempted)

    if ctx.tracer is not None:
        tr = ctx.tracer
        ops = [s for s in tr.spans if s["parent"] is None
               and s["name"].startswith("registry.")]
        ctx.layers["registry.jobs_per_query"] = (
            sum(tr.subtree(s, "jobs") for s in ops) / len(ops) if ops else 0.0
        )
        for fam in set(QUERIES.values()):
            ctx.layers[f"registry.{fam}_s"] = sum(
                median(calls[n]) for n, f in QUERIES.items()
                if f == fam and calls[n]
            )
        ctx.layers["registry.state_build_s"] = sum(
            first[n] - median(calls[n]) for n in order if calls[n]
        )

    gated = {"setup_s": setup_s, "latency_p50_s": lat, "throughput_per_s": qps}
    return not errors, gated
