"""multi_match best_fields / DisjunctionMax (operators/dismax.py):
tie-breaker identity against independent single-field runs, per-field
statistics isolation, boost scaling, NULL-field docCount exclusion."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from opensearch_jvector_plugin_spark.operators.dismax import (
    field_postings_df,
    multi_match_scores,
)


def _pdf(df) -> pd.DataFrame:
    out = df.toPandas()
    p = getattr(df, "_ojs_persisted", None)
    if p is not None:
        p.unpersist()
    return out


@pytest.fixture(scope="module")
def two_field_corpus(spark):
    rows = [
        (0, "apple banana apple", "grep"),
        (1, "banana cherry", "bash"),
        (2, "apple", None),  # no tool value: absent from field 1 entirely
        (3, "delta echo foxtrot golf hotel", "grep apple"),
        (4, "", "bash"),  # no text value: absent from field 0
    ]
    return spark.createDataFrame(
        rows, "doc_id LONG, text STRING, tool STRING"
    )


def test_field_postings_null_and_empty_excluded(spark, two_field_corpus):
    fp = field_postings_df(two_field_corpus, ["text", "tool"]).toPandas()
    # doc 2 has no tool postings; doc 4 has no text postings.
    assert fp[(fp.doc_id == 2) & (fp.field == "tool")].empty
    assert fp[(fp.doc_id == 4) & (fp.field == "text")].empty
    # dl is per-(doc, field): doc 0 text has 3 tokens, tool has 1.
    d0 = fp[fp.doc_id == 0].set_index("field")["dl"].groupby(level=0).first()
    assert int(d0["text"]) == 3 and int(d0["tool"]) == 1
    # tf counts repeats within a field: apple x2 in doc 0's text.
    row = fp[(fp.doc_id == 0) & (fp.field == "text") & (fp.term == "apple")]
    assert int(row["tf"].iloc[0]) == 2


def test_tie_breaker_identity_vs_single_field_runs(spark, two_field_corpus):
    """score(tb) == max_f s_f + tb * (sum_f s_f - max_f s_f) where s_f are
    the scores of independent single-field runs — per-field stats must be
    unaffected by which other fields participate."""
    queries = spark.createDataFrame(
        [(0, "apple", 10), (1, "bash cherry", 10)],
        "query_id INT, query_text STRING, k LONG",
    )
    fields = [("text", 1.0), ("tool", 2.0)]
    singles = []
    for name, boost in fields:
        s = _pdf(multi_match_scores(two_field_corpus, queries, [(name, boost)]))
        singles.append(
            s.set_index(["query_id", "doc_id"])["score"]
        )
    per_field = pd.concat(singles, axis=1, keys=["s0", "s1"]).fillna(0.0)
    best = per_field.max(axis=1)
    total = per_field.sum(axis=1)
    for tb in (0.0, 0.3, 1.0):
        got = (
            _pdf(multi_match_scores(two_field_corpus, queries, fields, tie_breaker=tb))
            .set_index(["query_id", "doc_id"])["score"]
            .sort_index()
        )
        want = (best + tb * (total - best)).sort_index()
        assert got.index.equals(want.index)
        np.testing.assert_allclose(got.to_numpy(), want.to_numpy(), rtol=1e-9)


def test_tie_breaker_one_is_boosted_sum(spark, two_field_corpus):
    """tb=1.0 degenerates to the plain sum of per-field scores."""
    queries = spark.createDataFrame(
        [(0, "grep apple", 10)], "query_id INT, query_text STRING, k LONG"
    )
    fields = [("text", 1.0), ("tool", 2.0)]
    got = _pdf(
        multi_match_scores(two_field_corpus, queries, fields, tie_breaker=1.0)
    ).set_index(["query_id", "doc_id"])["score"]
    parts = [
        _pdf(multi_match_scores(two_field_corpus, queries, [f])).set_index(
            ["query_id", "doc_id"]
        )["score"]
        for f in fields
    ]
    want = pd.concat(parts, axis=1).fillna(0.0).sum(axis=1)
    got, want = got.sort_index(), want.sort_index()
    assert got.index.equals(want.index)
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy(), rtol=1e-9)


def test_boost_scales_field_score_linearly(spark, two_field_corpus):
    """Doubling a field's boost doubles that field's contribution: for a
    query matching ONLY the tool field, score scales exactly with boost."""
    queries = spark.createDataFrame(
        [(0, "bash", 10)], "query_id INT, query_text STRING, k LONG"
    )
    lo = _pdf(
        multi_match_scores(two_field_corpus, queries, [("text", 1.0), ("tool", 1.0)])
    ).set_index("doc_id")["score"].sort_index()
    hi = _pdf(
        multi_match_scores(two_field_corpus, queries, [("text", 1.0), ("tool", 2.0)])
    ).set_index("doc_id")["score"].sort_index()
    assert lo.index.equals(hi.index)
    np.testing.assert_allclose(hi.to_numpy(), 2.0 * lo.to_numpy(), rtol=1e-9)


def test_docs_matching_no_field_absent(spark, two_field_corpus):
    queries = spark.createDataFrame(
        [(0, "zzznothing", 10), (1, "delta", 10)],
        "query_id INT, query_text STRING, k LONG",
    )
    got = _pdf(
        multi_match_scores(
            two_field_corpus, queries, [("text", 1.0), ("tool", 2.0)]
        )
    )
    assert got[got.query_id == 0].empty
    assert set(got[got.query_id == 1].doc_id) == {3}


def test_field_order_does_not_move_boosts(spark, two_field_corpus):
    """Boosts and per-field stats follow the field NAME: the same fields in
    the opposite order — over the corpus, or over a field-postings sidecar
    built in the other order — score identically."""
    queries = spark.createDataFrame(
        [(0, "grep apple", 10), (1, "bash cherry", 10), (2, "apple", 10)],
        "query_id INT, query_text STRING, k LONG",
    )
    fields = [("text", 1.0), ("tool", 2.0)]
    sidecar = field_postings_df(two_field_corpus, ["text", "tool"])
    want = _pdf(
        multi_match_scores(two_field_corpus, queries, fields, tie_breaker=0.3)
    ).set_index(["query_id", "doc_id"])["score"].sort_index()
    for postings in (None, sidecar):
        got = _pdf(
            multi_match_scores(
                two_field_corpus, queries, fields[::-1], tie_breaker=0.3,
                postings=postings,
            )
        ).set_index(["query_id", "doc_id"])["score"].sort_index()
        assert got.index.equals(want.index)
        np.testing.assert_allclose(got.to_numpy(), want.to_numpy(), rtol=1e-12)
    # A subset of the sidecar's fields scores as if only it were indexed.
    tool = ("tool", 2.0)
    sub, alone = (
        _pdf(multi_match_scores(two_field_corpus, queries, [tool], postings=p))
        .set_index(["query_id", "doc_id"])["score"].sort_index()
        for p in (sidecar, None)
    )
    assert sub.index.equals(alone.index)
    np.testing.assert_allclose(sub.to_numpy(), alone.to_numpy(), rtol=1e-12)
