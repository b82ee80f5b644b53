"""The two executors of `operators.query._serve_segments`: a call under
`LOCAL_SERVE_POSTINGS` runs the per-segment bodies and the global reduce in
the driver and returns a local frame (no Spark job); any other runs as
Spark jobs. Both must give the same frame for every index-served query,
with acceptDocs, liveDocs, the tie_epsilon cut and the stale-merge rule."""

from __future__ import annotations

import shutil

import numpy as np
import pandas as pd
import pytest
from conftest import spark_jobs
from test_entry_oracles import SF_DIRS

from opensearch_jvector_plugin_spark import entry_queries as eq
from opensearch_jvector_plugin_spark.operators import query
from opensearch_jvector_plugin_spark.operators.build import build_index
from opensearch_jvector_plugin_spark.operators.deletes import delete_docs
from opensearch_jvector_plugin_spark.operators.indexed_text import search_msm
from opensearch_jvector_plugin_spark.operators.merge import merge_segments
from opensearch_jvector_plugin_spark.operators.phrase import search_phrase
from opensearch_jvector_plugin_spark.operators.query import (
    load_index,
    search,
    search_min_score,
)
from opensearch_jvector_plugin_spark.plans import state
from opensearch_jvector_plugin_spark.sources.transcripts import (
    reference_queries,
)
from opensearch_jvector_plugin_spark.streaming.incremental import append_batch


def assert_served_locally(spark, df) -> None:
    """A locally served result never rescans anything: its plan is a single
    LocalTableScan of the result rows and collecting it launches no Spark
    job."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.strip().splitlines()
    assert len(lines) == 1 and lines[0].startswith("LocalTableScan"), plan
    _rows, jobs = spark_jobs(spark, df.collect)
    assert jobs == 0


@pytest.fixture
def choices(monkeypatch):
    """The executor each `_serve_segments` call chose: True = driver."""
    orig = query._serves_locally
    seen: list[bool] = []

    def recorded(*a, **kw):
        seen.append(orig(*a, **kw))
        return seen[-1]

    monkeypatch.setattr(query, "_serves_locally", recorded)
    return seen


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    """Unrounded rows in one order (the distributed output is unordered)."""
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


def both_executors(monkeypatch, choices, call):
    """(local, distributed) pandas outputs of `call()`: once as the bound
    chooses, which must be the driver for every serving call, then with the
    bound forced to 0, which must be Spark for every one."""
    local = _sorted(call().toPandas())
    assert choices and all(choices)
    choices.clear()
    with monkeypatch.context() as m:
        m.setattr(query, "LOCAL_SERVE_POSTINGS", 0)
        dist = _sorted(call().toPandas())
    assert choices and not any(choices)
    choices.clear()
    return local, dist


INDEX_SERVED = [
    "bm25_topk_indexed", "bm25_topk_deleted", "bm25_minscore",
    "bm25_maxdistance", "bm25_phrase_indexed", "bm25_fuzzy_indexed",
    "bm25_prefix_indexed", "bm25_wildcard_indexed", "bm25_regexp_indexed",
    "bm25_msm_indexed", "bm25_boolean_indexed",
]


@pytest.mark.parametrize("name", INDEX_SERVED)
def test_registry_entry_same_on_both_executors(
    name, spark, monkeypatch, choices
):
    fn = eq.QUERIES[name]
    local, dist = both_executors(
        monkeypatch, choices, lambda: fn(spark, SF_DIRS[0])
    )
    assert len(local)
    pd.testing.assert_frame_equal(local, dist)


@pytest.fixture(scope="module")
def built(spark, small_corpus_pdf, tmp_path_factory):
    """A multi-segment index over the small corpus."""
    d = str(tmp_path_factory.mktemp("local_serve") / "idx")
    build_index(spark.createDataFrame(small_corpus_pdf), d, seg_size=256)
    assert load_index(d).n_segments > 1
    return d


def test_single_search_launches_no_job(spark, built, monkeypatch):
    index = load_index(built)
    q = reference_queries(2000).iloc[[0]]
    search(spark, index, q).collect()  # the dictionary is read once
    res = search(spark, index, q)
    assert_served_locally(spark, res)
    # The distributed scan has the codec's fixed schema, so it pays no
    # schema-inference job: 4 jobs, not 5.
    monkeypatch.setattr(query, "LOCAL_SERVE_POSTINGS", 0)
    rows, jobs = spark_jobs(spark, lambda: search(spark, index, q).collect())
    assert jobs == 4
    assert sorted(map(tuple, rows)) == sorted(map(tuple, res.collect()))


def test_over_the_bound_runs_on_spark(spark, built, monkeypatch, choices):
    index = load_index(built)
    batch = reference_queries(2000).iloc[:8]
    _weights, _ks, terms = query._query_weights(spark, index, batch)
    dfs = state.term_df_map(index.dict_path)
    postings = sum(dfs[t] for t in terms)
    want = _sorted(search(spark, index, batch).toPandas())
    assert choices == [True]
    # One posting over the bound: the batch goes to Spark, while a single
    # query of it, with fewer postings, still runs in the driver.
    monkeypatch.setattr(query, "LOCAL_SERVE_POSTINGS", postings - 1)
    got, jobs = spark_jobs(
        spark, lambda: _sorted(search(spark, index, batch).toPandas())
    )
    assert jobs > 0 and choices[-1] is False
    pd.testing.assert_frame_equal(got, want)
    assert_served_locally(spark, search(spark, index, batch.iloc[[0]]))
    assert choices[-1] is True


def test_large_dictionary_runs_on_spark(spark, built, monkeypatch, choices):
    index = load_index(built)
    q = reference_queries(2000).iloc[[1]]
    want = _sorted(search(spark, index, q).toPandas())
    monkeypatch.setattr(state, "DICT_DRIVER_MAX_BYTES", 0)
    got, jobs = spark_jobs(
        spark, lambda: _sorted(search(spark, index, q).toPandas())
    )
    assert jobs > 0 and choices == [True, False]
    pd.testing.assert_frame_equal(got, want)


def test_accept_live_docs_and_ties_same_on_both_executors(
    spark, built, small_corpus_pdf, tmp_path, monkeypatch, choices
):
    d = str(tmp_path / "deleted")
    shutil.copytree(built, d)
    queries = reference_queries(2000).iloc[:6]
    allowed = np.arange(0, 2000, 3, dtype=np.int64)
    index = load_index(d)

    def calls():
        yield lambda: search(spark, index, queries, allowed_docs=allowed)
        yield lambda: search(spark, index, queries, tie_epsilon=1e-6)
        yield lambda: search_min_score(
            spark, index, queries.drop(columns=["k"]).assign(min_score=1.0),
            allowed_docs=allowed,
        )
        yield lambda: search_msm(
            spark, index, queries[["query_id", "query_text"]],
            {int(q): 2 for q in queries["query_id"]},
        )
        yield lambda: search_phrase(
            spark, index, spark.createDataFrame(small_corpus_pdf),
            pd.DataFrame([(0, "hotcommon term0001"), (1, "term0002 term0003")],
                         columns=["query_id", "query_text"]),
        )

    before = [both_executors(monkeypatch, choices, c) for c in calls()]
    for local, dist in before:
        pd.testing.assert_frame_equal(local, dist)
    # Tombstones (liveDocs) apply on both executors.
    hits = set(before[1][0]["doc_id"]) | set(before[3][0]["doc_id"])
    victims = sorted(hits)[::2]
    delete_docs(d, victims)
    for call in calls():
        local, dist = both_executors(monkeypatch, choices, call)
        pd.testing.assert_frame_equal(local, dist)
        assert not set(local["doc_id"]) & set(victims)


def test_stale_merge_rule_same_on_both_executors(
    spark, small_corpus_pdf, tmp_path, monkeypatch, choices
):
    d = str(tmp_path / "stale")
    corpus = small_corpus_pdf.drop(columns=["doc_id"])
    append_batch(spark.createDataFrame(corpus.iloc[:1000]), d, seg_size=250)
    merge_segments(spark, load_index(d))
    append_batch(spark.createDataFrame(corpus.iloc[1000:]), d, seg_size=250)
    index = load_index(d)
    assert index.has_merged() and not index.merged_is_current()
    queries = reference_queries(2000).iloc[:5]
    local, dist = both_executors(
        monkeypatch, choices, lambda: search(spark, index, queries)
    )
    pd.testing.assert_frame_equal(local, dist)
    # Auto mode serves the raw segments, so appended docs are found.
    assert (local["doc_id"] >= 1000).any()
    with pytest.raises(ValueError, match="stale"):
        search(spark, index, queries, use_merged=True)


def test_current_merge_same_on_both_executors(
    spark, built, tmp_path, monkeypatch, choices
):
    """A merged index written by the current code, read through the
    fixed-schema scan and in the driver, ranks as its raw segments do."""
    d = str(tmp_path / "merged")
    shutil.copytree(built, d)
    merge_segments(spark, load_index(d))
    index = load_index(d)
    assert index.merged_is_current()
    queries = reference_queries(2000).iloc[:6]
    local, dist = both_executors(
        monkeypatch, choices,
        lambda: search(spark, index, queries, use_merged=True),
    )
    pd.testing.assert_frame_equal(local, dist)
    raw = _sorted(search(spark, index, queries, use_merged=False).toPandas())
    pd.testing.assert_frame_equal(local, raw)
