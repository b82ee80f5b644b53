"""End-to-end index lifecycle tests (the analog of KNNJVectorTests):
build -> query rank-identity vs oracle; single- vs multi-segment identity;
merge-then-query identity (KNNJVectorTests.java:175-309); filtered search
(:479-531); checkpoint resume (manifest commit-marker discipline)."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest
from conftest import spark_jobs
from test_local_serve import assert_served_locally

from opensearch_jvector_plugin_spark.operators import query
from opensearch_jvector_plugin_spark.operators.build import (
    build_index,
    committed_segments,
    finalize_index,
)
from opensearch_jvector_plugin_spark.operators.merge import merge_segments
from opensearch_jvector_plugin_spark.operators.query import load_index, search
from opensearch_jvector_plugin_spark.oracle import build_oracle_index, oracle_topk
from opensearch_jvector_plugin_spark.sources.transcripts import reference_queries

from tests.test_bruteforce_rank_identity import assert_rank_identical


@pytest.fixture(scope="module")
def built(spark, small_corpus_pdf, tmp_path_factory):
    """small corpus built twice: as 1 segment and as 8 segments."""
    base = tmp_path_factory.mktemp("idx")
    corpus = spark.createDataFrame(small_corpus_pdf).repartition(8)
    one = str(base / "one")
    eight = str(base / "eight")
    build_index(corpus, one, seg_size=10**9)
    build_index(corpus, eight, seg_size=250)
    return one, eight


def test_build_manifests_and_stats(built, small_corpus_pdf):
    one, eight = built
    m1 = committed_segments(one)
    m8 = committed_segments(eight)
    assert len(m1) == 1
    assert len(m8) == 8
    oracle = build_oracle_index(small_corpus_pdf)
    for idx_dir in (one, eight):
        with open(os.path.join(idx_dir, "stats.json")) as f:
            stats = json.load(f)
        assert stats["n_docs"] == oracle.n_docs
        assert stats["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)
    assert sum(m["n_docs"] for m in m8.values()) == 2000
    # Disjoint doc ranges in segment order.
    ranges = [(m["doc_lo"], m["doc_hi"]) for _, m in sorted(m8.items())]
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2


def test_finalize_reads_segments_with_fixed_schema(
    spark, tiny_corpus_pdf, tmp_path
):
    """The dictionary job reads the segments with the codec's fixed schema,
    so it launches no schema-inference job."""
    d = str(tmp_path / "fin")
    build_index(spark.createDataFrame(tiny_corpus_pdf), d, seg_size=25)
    stats, jobs = spark_jobs(spark, lambda: finalize_index(spark, d))
    assert stats["n_docs"] == len(tiny_corpus_pdf)
    assert jobs <= 2


def test_search_rank_identity_single_and_multi_segment(
    spark, built, small_corpus_pdf
):
    queries = reference_queries(2000)
    want = oracle_topk(build_oracle_index(small_corpus_pdf), queries)
    for idx_dir in built:
        index = load_index(idx_dir)
        got = search(spark, index, queries).toPandas()
        assert_rank_identical(got, want)


def test_search_rank_identity_many_terms(
    spark, built, small_corpus_pdf, monkeypatch
):
    """A query batch spanning MORE than 64 unique terms routes the postings
    filter through the broadcast-join branch of _filter_terms (round 4:
    the multi-thousand-literal In() cost seconds of serial driver time per
    batch); results must stay rank-identical to the oracle. The bound is
    forced to 0 so the batch takes the distributed scan this pins."""
    monkeypatch.setattr(query, "LOCAL_SERVE_POSTINGS", 0)
    from opensearch_jvector_plugin_spark.functions.tokenizer import (
        tokenize_text,
    )

    vocab = sorted(
        {t for txt in small_corpus_pdf["text"] for t in tokenize_text(txt)}
    )
    assert len(vocab) > 64
    terms = vocab[:96]
    rows = [
        (i, " ".join(terms[i * 3: i * 3 + 3]), 10)
        for i in range(32)
    ]
    queries = pd.DataFrame(rows, columns=["query_id", "query_text", "k"])
    want = oracle_topk(build_oracle_index(small_corpus_pdf), queries)
    index = load_index(built[1])
    got = search(spark, index, queries).toPandas()
    assert_rank_identical(got, want)
    # The plan must show the broadcast join, not a 96-literal In filter.
    plan = search(spark, index, queries)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # Served in the driver, the batch is rank-identical too and rescans
    # nothing.
    monkeypatch.setattr(query, "LOCAL_SERVE_POSTINGS", 1 << 40)
    local = search(spark, index, queries)
    assert_served_locally(spark, local)
    assert_rank_identical(local.toPandas(), want)


def test_merge_then_query_identity(spark, built, small_corpus_pdf):
    one, eight = built
    index = load_index(eight)
    manifest = merge_segments(spark, index, fan_in=None)
    assert len(manifest["merged_segments"]) == 1
    assert index.has_merged()

    queries = reference_queries(2000)
    want = oracle_topk(build_oracle_index(small_corpus_pdf), queries)
    got = search(spark, index, queries, use_merged=True).toPandas()
    assert_rank_identical(got, want)

    # Merged index must byte-match the 1-segment build's postings stats.
    one_m = committed_segments(one)[0]
    merged_m = manifest["merged_segments"][0]
    assert merged_m["n_terms"] == one_m["n_terms"]
    assert merged_m["n_postings"] == one_m["n_postings"]
    assert merged_m["crc"] == one_m["crc"]


def test_partial_merge_identity(spark, built, small_corpus_pdf):
    _, eight = built
    index = load_index(eight)
    manifest = merge_segments(spark, index, fan_in=3)  # 8 -> 3 merged segs
    assert len(manifest["merged_segments"]) == 3
    queries = reference_queries(2000)
    want = oracle_topk(build_oracle_index(small_corpus_pdf), queries)
    got = search(spark, index, queries, use_merged=True).toPandas()
    assert_rank_identical(got, want)


def test_filtered_search(spark, built, small_corpus_pdf):
    _, eight = built
    index = load_index(eight)
    allowed = np.sort(
        small_corpus_pdf.loc[
            small_corpus_pdf["role"] == "assistant", "doc_id"
        ].to_numpy()
    )
    queries = reference_queries(2000).iloc[:7]
    want = oracle_topk(
        build_oracle_index(small_corpus_pdf),
        queries,
        filters={int(q): set(allowed.tolist()) for q in queries["query_id"]},
    )
    got = search(spark, index, queries, allowed_docs=allowed).toPandas()
    assert_rank_identical(got, want)


def test_resume_skips_committed_segments(spark, small_corpus_pdf, tmp_path):
    corpus = spark.createDataFrame(small_corpus_pdf).repartition(4)
    full = str(tmp_path / "full")
    part = str(tmp_path / "part")
    build_index(corpus, full, seg_size=500)

    # Simulate a killed build: copy only segments 0-1 with their manifests.
    os.makedirs(os.path.join(part, "manifests"))
    os.makedirs(os.path.join(part, "segments"))
    for s in (0, 1):
        shutil.copytree(
            os.path.join(full, "segments", f"seg_id={s}"),
            os.path.join(part, "segments", f"seg_id={s}"),
        )
        shutil.copy(
            os.path.join(full, "manifests", f"seg-{s:05d}.json"),
            os.path.join(part, "manifests", f"seg-{s:05d}.json"),
        )
    before = {
        s: os.path.getmtime(os.path.join(part, "segments", f"seg_id={s}",
                                         "postings.parquet"))
        for s in (0, 1)
    }
    build_index(corpus, part, seg_size=500, resume=True)

    # Committed segments were not rebuilt (mtime unchanged) ...
    for s in (0, 1):
        assert os.path.getmtime(
            os.path.join(part, "segments", f"seg_id={s}", "postings.parquet")
        ) == before[s]
    # ... and final manifests are identical to the uninterrupted build
    # (modulo the wall-clock build_ms metric).
    def strip(ms):
        return {
            s: {k: v for k, v in m.items() if k != "build_ms"}
            for s, m in ms.items()
        }

    got = committed_segments(part)
    want = committed_segments(full)
    assert strip(got) == strip(want)
    # Query results identical too.
    queries = reference_queries(2000).iloc[:5]
    oracle = oracle_topk(build_oracle_index(small_corpus_pdf), queries)
    res = search(spark, load_index(part), queries).toPandas()
    assert_rank_identical(res, oracle)
