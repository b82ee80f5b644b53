"""Index-served text-query surface (operators/indexed_text.py): each
served variant must be frame-identical (round-6) to its declarative
operator on the same corpus, and its serving plan must read ONLY the
persisted index — no corpus scan, no re-tokenize (the
JVectorReader.java:108-133 discipline: queries are answered from the
on-disk structure, never the source data)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from test_local_serve import assert_served_locally

from opensearch_jvector_plugin_spark.operators import query
from opensearch_jvector_plugin_spark.operators.build import build_index
from opensearch_jvector_plugin_spark.operators.fuzzy import (
    fuzzy_scores,
    prefix_scores,
    regexp_scores,
    wildcard_scores,
)
from opensearch_jvector_plugin_spark.operators.indexed_text import (
    search_boolean,
    search_fuzzy,
    search_msm,
    search_prefix,
    search_regexp,
    search_weighted_all,
    search_wildcard,
)
from opensearch_jvector_plugin_spark.operators.phrase import (
    boolean_scores,
    msm_scores,
)
from opensearch_jvector_plugin_spark.operators.query import load_index


@pytest.fixture(scope="module")
def corpus_and_index(spark, small_corpus_pdf, tmp_path_factory):
    corpus = spark.createDataFrame(small_corpus_pdf).cache()
    idx_dir = str(tmp_path_factory.mktemp("itext_idx"))
    build_index(corpus, idx_dir, seg_size=256)  # multi-segment
    idx = load_index(idx_dir)
    assert idx.n_segments > 1
    yield corpus, idx
    corpus.unpersist()


def _norm_scores(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[["query_id", "doc_id", "score"]].copy()
    pdf["score"] = pdf["score"].round(6)
    return (
        pdf.astype({"query_id": np.int64, "doc_id": np.int64})
        .sort_values(["query_id", "doc_id"], kind="mergesort")
        .reset_index(drop=True)
    )


def _topk(pdf: pd.DataFrame, ks: dict[int, int]) -> pd.DataFrame:
    """Round-6 rank (score desc, doc_id asc), cut at each query's k."""
    pdf = _norm_scores(pdf)
    pdf = pdf.sort_values(
        ["query_id", "score", "doc_id"],
        ascending=[True, False, True],
        kind="mergesort",
    )
    pdf["rank"] = pdf.groupby("query_id").cumcount() + 1
    pdf = pdf[pdf.apply(lambda r: r["rank"] <= ks[r["query_id"]], axis=1)]
    return pdf.reset_index(drop=True)


def _assert_served_from_index(df) -> None:
    """The serving plan must not tokenize or scan the corpus: every scan in
    the executed plan is an index parquet (segments/merged/dict), and the
    tokenizer regexp never appears (the declarative paths all carry it)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "regexp_extract_all" not in plan, plan
    # Any non-index relation in the plan would be a corpus rescan; the
    # in-memory test corpus would surface as LocalTableScan / InMemory*.
    assert "LocalTableScan" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan


def _served_both(spark, monkeypatch, call) -> list:
    """`call()`'s result on both serving executors, each shown to read only
    the persisted index: in the driver (a small call), the plan is the
    result alone and collecting it launches no job; forced onto Spark
    (LOCAL_SERVE_POSTINGS = 0), the plan scans only index parquet."""
    local = call()
    assert_served_locally(spark, local)
    with monkeypatch.context() as m:
        m.setattr(query, "LOCAL_SERVE_POSTINGS", 0)
        dist = call()
    _assert_served_from_index(dist)
    return [local, dist]


FUZZY_Q = [(0, "term0001", 10), (1, "term0001 term0100", 10),
           (2, "qqqqq", 10)]
PREFIX_Q = [(0, "term00", 10), (1, "hot", 10), (2, "qqq", 10)]
WILD_P = [(0, "term000?"), (1, "hot*"), (2, "zz*")]
REGEX_P = [(0, "term000(1|2)"), (1, "hot.*"), (2, "zzz+")]
KS3 = {0: 10, 1: 10, 2: 10}


def test_fuzzy_indexed_matches_declarative(
    spark, corpus_and_index, monkeypatch
):
    corpus, idx = corpus_and_index
    qpdf = pd.DataFrame(FUZZY_Q, columns=["query_id", "query_text", "k"])
    queries = spark.createDataFrame(qpdf)
    want = _topk(fuzzy_scores(corpus, queries).toPandas(), KS3)
    for res in _served_both(
        spark, monkeypatch, lambda: search_fuzzy(spark, idx, qpdf, tie_epsilon=1e-6)
    ):
        got = _topk(res.select("query_id", "doc_id", "score").toPandas(), KS3)
        pd.testing.assert_frame_equal(got, want)


def test_prefix_indexed_matches_declarative(
    spark, corpus_and_index, monkeypatch
):
    corpus, idx = corpus_and_index
    qpdf = pd.DataFrame(PREFIX_Q, columns=["query_id", "query_text", "k"])
    queries = spark.createDataFrame(qpdf)
    want = _topk(prefix_scores(corpus, queries).toPandas(), KS3)
    for res in _served_both(
        spark, monkeypatch, lambda: search_prefix(spark, idx, qpdf, tie_epsilon=1e-6)
    ):
        got = _topk(res.select("query_id", "doc_id", "score").toPandas(), KS3)
        pd.testing.assert_frame_equal(got, want)


def test_wildcard_indexed_matches_declarative(
    spark, corpus_and_index, monkeypatch
):
    corpus, idx = corpus_and_index
    want = _topk(wildcard_scores(corpus, WILD_P).toPandas(), KS3)
    for res in _served_both(
        spark, monkeypatch, lambda: search_wildcard(spark, idx, WILD_P, KS3, tie_epsilon=1e-6)
    ):
        got = _topk(res.select("query_id", "doc_id", "score").toPandas(), KS3)
        pd.testing.assert_frame_equal(got, want)


def test_regexp_indexed_matches_declarative(
    spark, corpus_and_index, monkeypatch
):
    corpus, idx = corpus_and_index
    want = _topk(regexp_scores(corpus, REGEX_P).toPandas(), KS3)
    for res in _served_both(
        spark, monkeypatch, lambda: search_regexp(spark, idx, REGEX_P, KS3, tie_epsilon=1e-6)
    ):
        got = _topk(res.select("query_id", "doc_id", "score").toPandas(), KS3)
        pd.testing.assert_frame_equal(got, want)


MSM_Q = [(0, "term0001 term0002 term0003", 2), (1, "hotcommon term0001", 2),
         (2, "term0001 zzznotaword", 2)]


def test_msm_indexed_matches_declarative(
    spark, corpus_and_index, monkeypatch
):
    corpus, idx = corpus_and_index
    queries = spark.createDataFrame(
        [(q, t) for q, t, _m in MSM_Q], "query_id INT, query_text STRING"
    )
    msm = {q: m for q, _t, m in MSM_Q}
    want = _norm_scores(msm_scores(corpus, queries, msm).toPandas())
    qpdf = pd.DataFrame([(q, t) for q, t, _m in MSM_Q],
                        columns=["query_id", "query_text"])
    for res in _served_both(
        spark, monkeypatch, lambda: search_msm(spark, idx, qpdf, msm)
    ):
        got = _norm_scores(res.toPandas())
        pd.testing.assert_frame_equal(got, want)
        # The OOV-term msm=2 query must be empty on both sides.
        assert 2 not in set(got["query_id"])


BOOL_Q = [
    (0, "term0001", "hotcommon", ""),       # must + should boost
    (1, "term0001 term0002", "", ""),        # pure conjunction
    (2, "", "hotcommon", "term0001"),        # should with exclusion
    (3, "term0001", "", "term0001"),         # self-cancelling -> empty
    (4, "zzznotaword", "hotcommon", ""),     # OOV must -> empty
]


def test_boolean_indexed_matches_declarative(
    spark, corpus_and_index, monkeypatch
):
    corpus, idx = corpus_and_index
    bq = spark.createDataFrame(
        BOOL_Q,
        "query_id INT, must_text STRING, should_text STRING,"
        " must_not_text STRING",
    )
    want = _norm_scores(boolean_scores(corpus, bq).toPandas())
    bpdf = pd.DataFrame(BOOL_Q, columns=[
        "query_id", "must_text", "should_text", "must_not_text"
    ])
    for res in _served_both(
        spark, monkeypatch, lambda: search_boolean(spark, idx, bpdf)
    ):
        got = _norm_scores(res.toPandas())
        pd.testing.assert_frame_equal(got, want)
        assert {3, 4}.isdisjoint(set(got["query_id"]))


def test_weighted_all_empty_weights_returns_empty(spark, corpus_and_index):
    _corpus, idx = corpus_and_index
    out = search_weighted_all(spark, idx, {0: {}})
    assert out.count() == 0
