"""search_after pagination (operators/paginate.py) and _explain breakdown
(operators/explain.py): page partition of the full ranking, tie-crossing
cursor semantics, exhaustion, and the contrib-sum == score invariant."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from opensearch_jvector_plugin_spark.operators.explain import explain_hits
from opensearch_jvector_plugin_spark.operators.paginate import (
    page_cursors,
    search_after,
)
from opensearch_jvector_plugin_spark.operators.score import score_all, topk


@pytest.fixture(scope="module")
def corpus_queries(spark, tiny_corpus_pdf):
    corpus = spark.createDataFrame(tiny_corpus_pdf)
    queries = spark.createDataFrame(
        [(0, "term0001", 7), (1, "term0002 term0010", 5), (2, "hotcommon", 9)],
        "query_id INT, query_text STRING, k LONG",
    )
    return corpus, queries


def _ranked_full(spark, scored):
    from pyspark.sql.window import Window as W

    s6 = F.round(F.col("score"), 6)
    w = W.partitionBy("query_id").orderBy(s6.desc(), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("query_id", "rank", "doc_id", s6.alias("score"))
        .toPandas()
    )


def test_pages_partition_the_full_ranking(spark, corpus_queries):
    """Iterating search_after until exhaustion must reproduce the complete
    ranking exactly: disjoint pages, contiguous global ranks, no repeats."""
    corpus, queries = corpus_queries
    scored = score_all(corpus, queries)
    full = _ranked_full(spark, scored)
    ks = queries.select("query_id", F.col("k").alias("_k"))

    s6 = F.round(F.col("score"), 6)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("query_id").orderBy(s6.desc(), F.asc("doc_id"))
    page = (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .join(F.broadcast(ks), "query_id")
        .where(F.col("rank") <= F.col("_k"))
        .select("query_id", "rank", "doc_id", s6.alias("score"))
    )
    seen = []
    offsets = {int(r.query_id): 0 for r in queries.select("query_id").collect()}
    plan_sizes = []
    for _page_no in range(40):
        # Cursors are literal rows, so no page's plan nests the pages
        # before it: page N's plan is no larger than page 2's.
        plan_sizes.append(
            len(page._jdf.queryExecution().analyzed().treeString().splitlines())
        )
        pdf = page.toPandas()
        if pdf.empty:
            break
        pdf = pdf.copy()
        pdf["global_rank"] = pdf.apply(
            lambda r: r["rank"] + offsets[r["query_id"]], axis=1
        )
        seen.append(pdf)
        for qid, cnt in pdf.groupby("query_id").size().items():
            offsets[qid] += int(cnt)
        cursors = page_cursors(page, ks)
        page = search_after(scored, cursors)
    else:
        pytest.fail("pagination did not terminate")
    assert len(plan_sizes) > 3
    assert max(plan_sizes[2:]) <= plan_sizes[1]

    got = (
        pd.concat(seen)[["query_id", "global_rank", "doc_id", "score"]]
        .rename(columns={"global_rank": "rank"})
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    want = full.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"rank": np.int64}), want.astype({"rank": np.int64})
    )


def test_cursor_crosses_score_ties_on_doc_id(spark):
    """Tied round-6 scores across a page boundary: the cursor must resume
    at the next doc_id within the tie, not skip or repeat it."""
    scored = spark.createDataFrame(
        [(0, d, 1.0) for d in (10, 11, 12, 13)] + [(0, 99, 0.5)],
        "query_id INT, doc_id LONG, score DOUBLE",
    )
    cursors = spark.createDataFrame(
        [(0, 1.0, 11, 2)],
        "query_id INT, after_score DOUBLE, after_doc_id LONG, _k LONG",
    )
    got = (
        search_after(scored, cursors)
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    assert list(got.doc_id) == [12, 13]
    assert list(got["rank"]) == [1, 2]


def test_exhausted_queries_emit_no_cursor(spark, corpus_queries):
    corpus, queries = corpus_queries
    scored = score_all(corpus, queries)
    # Page size larger than any result set -> page 1 short for all queries.
    ks = queries.select("query_id", F.lit(100000).cast("long").alias("_k"))
    page1 = topk(scored, queries.withColumn("k", F.lit(100000).cast("long")))
    page1 = page1.withColumn("score", F.round("score", 6))
    assert page_cursors(page1, ks).count() == 0


def test_explain_contribs_sum_to_score(spark, corpus_queries):
    corpus, queries = corpus_queries
    scored = score_all(corpus, queries)
    hits = (
        topk(scored, queries)
        .where(F.col("rank") <= 3)
        .select("query_id", "doc_id")
    )
    exp = explain_hits(corpus, queries, hits).toPandas()
    sums = exp.groupby(["query_id", "doc_id"])["contrib"].sum()
    want = (
        scored.join(F.broadcast(hits), ["query_id", "doc_id"])
        .toPandas()
        .set_index(["query_id", "doc_id"])["score"]
    )
    joined = pd.concat([sums, want], axis=1).dropna()
    assert len(joined) == len(want)
    # contribs are individually round-6 -> allow one ulp per term.
    np.testing.assert_allclose(
        joined["contrib"], joined["score"], atol=5e-6, rtol=1e-9
    )
    # Breakdown statistics are consistent: df >= tf occurrences, dl > 0.
    assert (exp.df >= 1).all() and (exp.tf >= 1).all() and (exp.dl > 0).all()
