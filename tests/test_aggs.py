"""Search-hit aggregations (operators/aggs.py): terms bucket ordering +
size cut + NULL skip, date_histogram gap-filling and bucket alignment,
stats values, per-query isolation."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from opensearch_jvector_plugin_spark.operators.aggs import (
    date_histogram_agg,
    stats_agg,
    terms_agg,
    terms_stats_agg,
)


@pytest.fixture(scope="module")
def hit_attrs(spark):
    """Two queries' hit sets over a 8-doc attr table."""
    attrs = spark.createDataFrame(
        [
            (0, "bash", dt.datetime(2024, 1, 1, 0, 5), 0),
            (1, "bash", dt.datetime(2024, 1, 1, 0, 45), 1),
            (2, "editor", dt.datetime(2024, 1, 1, 1, 10), 2),
            (3, None, dt.datetime(2024, 1, 1, 4, 0), 3),
            (4, "search", dt.datetime(2024, 1, 1, 4, 30), 4),
            (5, "editor", dt.datetime(2024, 1, 2, 0, 0), 5),
            (6, "grep", dt.datetime(2024, 1, 2, 1, 0), 6),
            (7, "bash", dt.datetime(2024, 1, 2, 2, 0), 7),
        ],
        "doc_id LONG, tool STRING, ts TIMESTAMP, turn_idx INT",
    )
    hits = spark.createDataFrame(
        # q0 hits docs 0-4 (incl. a NULL tool); q1 hits 5-7.
        [(0, d) for d in range(5)] + [(1, d) for d in (5, 6, 7)],
        "query_id INT, doc_id LONG",
    )
    return hits, attrs


def test_terms_agg_counts_nulls_and_cut(spark, hit_attrs):
    hits, attrs = hit_attrs
    got = terms_agg(hits, attrs, "tool", size=2).toPandas()
    q0 = got[got.query_id == 0].sort_values(["doc_count", "key"],
                                            ascending=[False, True])
    # q0 non-null tools: bash x2, editor x1, search x1 -> size=2 keeps bash
    # then the key-asc tie-break between editor/search keeps editor.
    assert list(map(tuple, q0[["key", "doc_count"]].to_numpy())) == [
        ("bash", 2), ("editor", 1)
    ]
    # NULL tool (doc 3) contributes no bucket anywhere.
    assert not (got.key.isna()).any()
    # q1: one bucket each -> key-asc keeps bash, editor.
    q1 = set(map(tuple, got[got.query_id == 1][["key", "doc_count"]].to_numpy()))
    assert q1 == {("bash", 1), ("editor", 1)}


def test_terms_stats_sub_aggregation(spark, hit_attrs):
    """terms bucket + stats sub-agg: same bucket cut/ordering as plain
    terms, with count/min/max/sum/avg of the metric INSIDE each bucket; a
    NULL metric value keeps its doc in doc_count but not in m_count."""
    hits, attrs = hit_attrs
    # Null out one metric value inside q0's bash bucket (doc 1).
    import pyspark.sql.functions as F

    attrs2 = attrs.withColumn(
        "turn_idx",
        F.when(F.col("doc_id") == 1, None).otherwise(F.col("turn_idx")),
    )
    got = terms_stats_agg(
        hits, attrs2, "tool", "turn_idx", size=2
    ).toPandas()
    q0 = got[got.query_id == 0].set_index("key")
    # bash bucket: docs {0, 1}; doc 1's metric is NULL.
    assert q0.loc["bash", "doc_count"] == 2
    assert q0.loc["bash", "m_count"] == 1
    assert q0.loc["bash", "m_min"] == 0.0 == q0.loc["bash", "m_max"]
    assert q0.loc["bash", "m_sum"] == 0.0 and q0.loc["bash", "m_avg"] == 0.0
    # editor bucket (key-asc tie winner): doc 2 only.
    assert q0.loc["editor", "doc_count"] == 1
    assert q0.loc["editor", "m_sum"] == 2.0
    # Same cut as the plain terms agg.
    plain = terms_agg(hits, attrs2, "tool", size=2).toPandas()
    assert set(map(tuple, got[["query_id", "key"]].to_numpy())) == set(
        map(tuple, plain[["query_id", "key"]].to_numpy())
    )
    with pytest.raises(ValueError, match="positive"):
        terms_stats_agg(hits, attrs2, "tool", "turn_idx", size=0)


def test_extended_stats_values(spark, hit_attrs):
    """extended_stats: OpenSearch's documented formulas — population
    variance = sumsq/n - mean^2, std = sqrt(variance)."""
    from opensearch_jvector_plugin_spark.operators.aggs import (
        extended_stats_agg,
    )

    hits, attrs = hit_attrs
    got = extended_stats_agg(hits, attrs, "turn_idx").toPandas()
    q0 = got[got.query_id == 0].iloc[0]
    # q0 metric values: 0,1,2,3,4 -> n=5, sum=10, sumsq=30, mean=2,
    # var = 30/5 - 4 = 2.
    assert q0["count"] == 5 and q0["sum"] == 10.0
    assert q0["sum_of_squares"] == 30.0
    assert q0["avg"] == 2.0 and q0["variance"] == 2.0
    assert q0["std_deviation"] == pytest.approx(2.0 ** 0.5, rel=1e-12)
    assert q0["min"] == 0.0 and q0["max"] == 4.0


def test_extended_stats_clamps_rounding_negative_variance(spark):
    """Three 0.1s have variance 0, but sumsq/n - mean^2 rounds to -1.7e-18:
    both the Spark operator and the DuckDB oracle clamp it to 0 (as
    OpenSearch's InternalExtendedStats.getVariance does), so the std is 0,
    not NaN on Spark and not an error on DuckDB."""
    import duckdb

    from opensearch_jvector_plugin_spark.entry_queries import (
        EXTENDED_STATS_SELECT_SQL,
    )
    from opensearch_jvector_plugin_spark.operators.aggs import (
        extended_stats_agg,
    )

    vals = [0.1, 0.1, 0.1]
    n, total = len(vals), sum(vals)
    assert sum(v * v for v in vals) / n - (total / n) ** 2 < 0
    attrs = spark.createDataFrame(
        [(d, v) for d, v in enumerate(vals)], "doc_id LONG, x DOUBLE"
    )
    hits = spark.createDataFrame(
        [(0, d) for d in range(n)], "query_id INT, doc_id LONG"
    )
    got = extended_stats_agg(hits, attrs, "x").toPandas().iloc[0]
    assert got["variance"] == 0.0 and got["std_deviation"] == 0.0

    oracle = duckdb.sql(
        "WITH b AS (SELECT 0 AS query_id, count(x)::BIGINT AS count,"
        " min(x) AS min, max(x) AS max, sum(x) AS sum,"
        " sum(x * x) AS sum_of_squares"
        " FROM (VALUES (0.1::DOUBLE), (0.1), (0.1)) t(x))"
        + EXTENDED_STATS_SELECT_SQL
    ).df().iloc[0]
    assert oracle["variance"] == 0.0 and oracle["std_deviation"] == 0.0


def test_pipeline_aggs_cumsum_and_derivative(spark, hit_attrs):
    """cumulative_sum runs per query over bucket order; derivative of the
    first bucket is NULL (no previous bucket, the OpenSearch contract)."""
    from opensearch_jvector_plugin_spark.operators.aggs import pipeline_aggs

    hits, attrs = hit_attrs
    hist = date_histogram_agg(hits, attrs, "ts", 3600)
    got = (
        pipeline_aggs(hist)
        .toPandas()
        .sort_values(["query_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    for _, g in got.groupby("query_id"):
        assert list(g["cumulative_sum"]) == list(g["doc_count"].cumsum())
        assert pd.isna(g["derivative"].iloc[0])
        diffs = g["doc_count"].diff().iloc[1:]
        assert list(g["derivative"].iloc[1:]) == list(diffs)


def test_terms_agg_rejects_bad_size(spark, hit_attrs):
    hits, attrs = hit_attrs
    with pytest.raises(ValueError, match="size"):
        terms_agg(hits, attrs, "tool", size=0)


def test_date_histogram_gap_fill(spark, hit_attrs):
    hits, attrs = hit_attrs
    got = date_histogram_agg(hits, attrs, "ts", 3600).toPandas()
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    q0 = got[got.query_id == 0].set_index("bucket_ts")["doc_count"].to_dict()
    # q0 occupies hours 0, 1, 4 -> grid fills hours 2 and 3 with zeros.
    assert q0 == {
        base + 0 * 3600: 2,
        base + 1 * 3600: 1,
        base + 2 * 3600: 0,
        base + 3 * 3600: 0,
        base + 4 * 3600: 2,
    }
    # q1 occupies 24, 25, 26 contiguously -> no zeros, bounds per query.
    q1 = got[got.query_id == 1].set_index("bucket_ts")["doc_count"].to_dict()
    assert q1 == {base + h * 3600: 1 for h in (24, 25, 26)}


def test_stats_agg_values(spark, hit_attrs):
    hits, attrs = hit_attrs
    got = (
        stats_agg(hits, attrs, "turn_idx")
        .toPandas()
        .set_index("query_id")
        .sort_index()
    )
    assert got.loc[0].to_dict() == {
        "count": 5, "min": 0.0, "max": 4.0, "sum": 10.0, "avg": 2.0
    }
    assert got.loc[1].to_dict() == {
        "count": 3, "min": 5.0, "max": 7.0, "sum": 18.0, "avg": 6.0
    }
