"""Search-hit aggregations — the OpenSearch aggs surface over a top-k result.

The reference exposes its field data to OpenSearch's aggregation framework
through doc values (KNNVectorIndexFieldData.java:1-60 builds the
IndexFieldData the agg/scripting layer consumes; stored fields ride along
the index via KNN80DocValuesConsumer). The serving analog here: the hit set
of a query (query_id, doc_id, ...) is joined back to the corpus attributes
and reduced per query — `terms`, `date_histogram`, and `stats` buckets with
OpenSearch's documented semantics:

- **terms**: one bucket per distinct field value among the hits, missing
  (NULL) values skipped, ordered doc_count desc then key asc, top `size`
  buckets per query.
- **date_histogram** (fixed interval): bucket key = floor(ts / interval),
  and `min_doc_count=0` gap-filling — every interval between a query's
  first and last non-empty bucket is emitted, zeros included (the
  OpenSearch default for histograms).
- **stats**: count / min / max / sum / avg of a numeric field over the hits.

Plan shape (scale-first): the hit set is ≤ Σ_q k_q rows — broadcast it into
ONE scan of the corpus attributes (inner broadcast-hash join, no corpus
shuffle); every aggregation after the join runs on hit-sized data, so the
only exchanges are tiny. Gap-filling is a per-query `sequence()` explode on
bucket bounds — pure Catalyst, rows ≤ buckets emitted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def _hit_attrs(hits: DataFrame, attrs: DataFrame, cols: list[str]) -> DataFrame:
    """(query_id, <cols>) — broadcast the tiny hit set into the attr scan."""
    h = hits.select("query_id", "doc_id")
    return attrs.select("doc_id", *cols).join(F.broadcast(h), "doc_id")


def terms_agg(
    hits: DataFrame, attrs: DataFrame, field: str, size: int
) -> DataFrame:
    """Per-query terms buckets: (query_id, key, doc_count), top `size` by
    (doc_count desc, key asc), NULL field values skipped (OpenSearch
    `missing`-less default)."""
    if size <= 0:
        raise ValueError(f"terms agg size must be positive, got {size}")
    counts = (
        _hit_attrs(hits, attrs, [field])
        .where(F.col(field).isNotNull())
        .groupBy("query_id", F.col(field).alias("key"))
        .agg(F.count("*").alias("doc_count"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("doc_count").desc(), F.col("key").asc()
    )
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= size)
        .select("query_id", "key", "doc_count")
    )


def terms_stats_agg(
    hits: DataFrame,
    attrs: DataFrame,
    field: str,
    metric_field: str,
    size: int,
) -> DataFrame:
    """terms bucket + stats SUB-aggregation (the canonical OpenSearch agg
    composition: `"aggs": {"by_field": {"terms": ...,"aggs": {"m":
    {"stats": ...}}}}`): per-query buckets over `field` with
    count/min/max/sum/avg of `metric_field` INSIDE each bucket, same
    (doc_count desc, key asc) top-`size` cut as the plain terms agg.

    Semantics pinned to OpenSearch: NULL bucket keys are skipped; NULL
    metric values still count toward the bucket's doc_count but are
    excluded from the sub-stats (m_count can be < doc_count) — exactly
    Spark's null-ignoring aggregate behavior, so the whole composition is
    ONE hit-sized groupBy after the broadcast attribute join."""
    if size <= 0:
        raise ValueError(f"terms agg size must be positive, got {size}")
    m = F.col(metric_field)
    counts = (
        _hit_attrs(hits, attrs, [field, metric_field])
        .where(F.col(field).isNotNull())
        .groupBy("query_id", F.col(field).alias("key"))
        .agg(
            F.count("*").alias("doc_count"),
            F.count(m).alias("m_count"),
            F.min(m).cast("double").alias("m_min"),
            F.max(m).cast("double").alias("m_max"),
            F.sum(m).cast("double").alias("m_sum"),
            F.avg(m).cast("double").alias("m_avg"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("doc_count").desc(), F.col("key").asc()
    )
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= size)
        .select(
            "query_id", "key", "doc_count", "m_count",
            "m_min", "m_max", "m_sum", "m_avg",
        )
    )


def pipeline_aggs(histogram: DataFrame, bucket_col: str = "bucket_ts") -> DataFrame:
    """OpenSearch PIPELINE aggregations over a (gap-filled) histogram:
    cumulative_sum and derivative of doc_count as window functions over
    the parent agg's buckets — the sibling-pipeline shape (`"aggs":
    {"cum": {"cumulative_sum": {"buckets_path": "_count"}}, "deriv":
    {"derivative": ...}}`). Derivative of the first bucket is NULL (the
    documented OpenSearch behavior: no previous bucket). Input must be
    min_doc_count=0 gap-filled (date_histogram_agg/histogram_agg are), so
    the derivative's unit is per-interval."""
    w = W.partitionBy("query_id").orderBy(bucket_col)
    return histogram.select(
        "query_id",
        bucket_col,
        "doc_count",
        F.sum("doc_count")
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("cumulative_sum"),
        (F.col("doc_count") - F.lag("doc_count").over(w))
        .cast("long")
        .alias("derivative"),
    )


def extended_stats_agg(
    hits: DataFrame, attrs: DataFrame, field: str
) -> DataFrame:
    """extended_stats aggregation: the stats set plus sum_of_squares,
    population variance and std_deviation, computed exactly as OpenSearch
    documents them (variance = sumsq/n - mean^2) from the same one
    hit-sized groupBy. NULL metric values are excluded throughout.

    A rounding error can make the variance of equal values a tiny negative
    number (three 0.1s give -1.7e-18); like InternalExtendedStats
    .getVariance it is clamped to 0, and std_deviation is the root of the
    clamped value, not NaN."""
    m = F.col(field)
    base = (
        _hit_attrs(hits, attrs, [field])
        .groupBy("query_id")
        .agg(
            F.count(m).alias("count"),
            F.min(m).cast("double").alias("min"),
            F.max(m).cast("double").alias("max"),
            F.sum(m).cast("double").alias("sum"),
            F.sum(m * m).cast("double").alias("sum_of_squares"),
        )
    )
    mean = F.col("sum") / F.col("count")
    raw = F.col("sum_of_squares") / F.col("count") - mean * mean
    var = F.when(raw < 0, F.lit(0.0)).otherwise(raw)
    return base.select(
        "query_id", "count", "min", "max", "sum", "sum_of_squares",
        mean.alias("avg"),
        var.alias("variance"),
        F.sqrt(var).alias("std_deviation"),
    )


def date_histogram_agg(
    hits: DataFrame,
    attrs: DataFrame,
    ts_col: str,
    interval_s: int,
) -> DataFrame:
    """Per-query fixed-interval histogram: (query_id, bucket_ts, doc_count)
    with bucket_ts = epoch-second bucket start and min_doc_count=0
    gap-filling between each query's first and last occupied bucket."""
    if interval_s <= 0:
        raise ValueError(f"interval must be positive, got {interval_s}")
    step = F.lit(int(interval_s)).cast("long")
    bucketed = _hit_attrs(hits, attrs, [ts_col]).select(
        "query_id",
        (
            F.floor(F.col(ts_col).cast("long") / step) * step
        ).alias("bucket_ts"),
    )
    counts = bucketed.groupBy("query_id", "bucket_ts").agg(
        F.count("*").alias("doc_count")
    )
    # Gap fill: per-query bucket range -> sequence -> left join counts.
    # All hit-sized; the sequence length is bounded by the hit time span.
    bounds = counts.groupBy("query_id").agg(
        F.min("bucket_ts").alias("_lo"), F.max("bucket_ts").alias("_hi")
    )
    grid = bounds.select(
        "query_id",
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"), step)).alias(
            "bucket_ts"
        ),
    )
    return grid.join(counts, ["query_id", "bucket_ts"], "left").select(
        "query_id",
        "bucket_ts",
        F.coalesce(F.col("doc_count"), F.lit(0)).alias("doc_count"),
    )


def significant_terms_agg(
    hits: DataFrame,
    postings: DataFrame,
    term_df: DataFrame,
    n_docs: float,
    size: int = 10,
    min_doc_count: int = 3,
) -> DataFrame:
    """OpenSearch significant_terms over the hit set, JLH heuristic:
    (query_id, term, doc_count, bg_count, score).

    Foreground = the query's hit docs, background = the whole corpus.
    With fg_pct = doc_count / |hits_q| and bg_pct = bg_count / n_docs,
    JLH = (fg_pct - bg_pct) * (fg_pct / bg_pct), kept only when
    fg_pct > bg_pct (terms no more frequent in the hits than the corpus
    score 0 and are dropped) and doc_count >= min_doc_count (the
    OpenSearch default 3). Top `size` per query by (round-6 score desc,
    term asc).

    Plan shape: the hit set (≤ Σk rows) is broadcast into the shared
    postings derivation — ONE corpus-sized scan; the foreground counts,
    the df join (foreground term set is hit-sized, so the join output is
    too), and the ranking all run on hit-sized data.
    """
    if size <= 0:
        raise ValueError(f"significant_terms size must be positive: {size}")
    h = hits.select("query_id", "doc_id")
    fg = (
        postings.select("doc_id", "term")
        .join(F.broadcast(h), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.count("*").cast("long").alias("doc_count"))
    )
    fg_tot = h.groupBy("query_id").agg(
        F.count("*").cast("double").alias("_fg_total")
    )
    fg_pct = F.col("doc_count") / F.col("_fg_total")
    bg_pct = F.col("bg_count") / F.lit(float(n_docs))
    scored = (
        fg.where(F.col("doc_count") >= min_doc_count)
        .join(term_df.select("term", F.col("df").alias("bg_count")), "term")
        .join(F.broadcast(fg_tot), "query_id")
        .withColumn("score", (fg_pct - bg_pct) * (fg_pct / bg_pct))
        .where(fg_pct > bg_pct)
    )
    w = W.partitionBy("query_id").orderBy(
        F.round("score", 6).desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= size)
        .select(
            "query_id",
            "term",
            "doc_count",
            "bg_count",
            F.round("score", 6).alias("score"),
        )
    )


def stats_agg(hits: DataFrame, attrs: DataFrame, field: str) -> DataFrame:
    """Per-query numeric stats over the hits:
    (query_id, count, min, max, sum, avg) — NULLs excluded from all five,
    matching OpenSearch's stats agg."""
    vals = _hit_attrs(hits, attrs, [field]).where(F.col(field).isNotNull())
    c = F.col(field).cast("double")
    return vals.groupBy("query_id").agg(
        F.count("*").alias("count"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.sum(c).alias("sum"),
        F.avg(c).alias("avg"),
    )


def top_hits_agg(
    hits: DataFrame, attrs: DataFrame, field: str, size: int
) -> DataFrame:
    """top_hits sub-aggregation under a terms bucketing: for every distinct
    non-NULL value of `field` among a query's hits, the bucket's top `size`
    hits by (round-6 score desc, doc_id asc) —
    (query_id, key, hit_rank, doc_id, score).

    OpenSearch evaluates top_hits per bucket over the already-matched hit
    set (the fetch-phase doc-values path, KNNVectorIndexFieldData.java:1-60)
    — so unlike collapse this consumes the CUT hit set, not the full scored
    relation: a bucket's hits are by definition hits of the query. Plan:
    the broadcast hit-attr join (hit-sized), then one window per
    (query, bucket)."""
    if size <= 0:
        raise ValueError(f"top_hits size must be positive, got {size}")
    j = (
        attrs.select("doc_id", field)
        .join(F.broadcast(hits.select("query_id", "doc_id", "score")), "doc_id")
        .where(F.col(field).isNotNull())
    )
    s6 = F.round(F.col("score"), 6)
    w = W.partitionBy("query_id", field).orderBy(s6.desc(), F.asc("doc_id"))
    return (
        j.withColumn("hit_rank", F.row_number().over(w).cast("int"))
        .where(F.col("hit_rank") <= size)
        .select(
            "query_id",
            F.col(field).alias("key"),
            "hit_rank",
            "doc_id",
            s6.alias("score"),
        )
    )


def cardinality_agg(
    hits: DataFrame, attrs: DataFrame, field: str, exact: bool = True
) -> DataFrame:
    """cardinality aggregation: (query_id, value) distinct non-NULL field
    values among the hits. exact=True is countDistinct (hit-sized input, so
    exact is cheap at serving time — the hit set is ≤ Σk rows); exact=False
    is approx_count_distinct (HyperLogLog++, rsd 0.5% — OpenSearch's own
    cardinality agg is HLL-approximate above precision_threshold, and the
    sketch path is the one that matters when the agg runs over a full-corpus
    match instead of a top-k cut)."""
    vals = _hit_attrs(hits, attrs, [field]).where(F.col(field).isNotNull())
    agg = (
        F.countDistinct(field)
        if exact
        else F.approx_count_distinct(field, 0.005)
    )
    return vals.groupBy("query_id").agg(agg.cast("long").alias("value"))


def percentiles_agg(
    hits: DataFrame, attrs: DataFrame, field: str, percents: list[float]
) -> DataFrame:
    """percentiles aggregation: (query_id, percent, value) with exact
    linear-interpolation percentiles (index p·(n−1), interpolate) — the
    same definition as SQL percentile_cont, so the DuckDB oracle twin is
    quantile_cont. OpenSearch serves TDigest approximations; over a
    hit-sized input exact is both cheaper and strictly more accurate, and
    Spark's percentile_approx is the drop-in when the input is a
    full-corpus match. NULLs excluded."""
    if not percents or not all(0.0 <= p <= 100.0 for p in percents):
        raise ValueError(f"percents must be within [0, 100]: {percents}")
    vals = _hit_attrs(hits, attrs, [field]).where(F.col(field).isNotNull())
    fracs = [float(p) / 100.0 for p in percents]
    arr = vals.groupBy("query_id").agg(
        F.percentile(F.col(field).cast("double"), F.array(
            *[F.lit(f) for f in fracs]
        )).alias("_vals")
    )
    pairs = F.arrays_zip(
        F.array(*[F.lit(float(p)) for p in percents]).alias("percent"),
        F.col("_vals").alias("value"),
    )
    return arr.select(
        "query_id", F.explode(pairs).alias("_p")
    ).select(
        "query_id",
        F.col("_p.percent").alias("percent"),
        F.round(F.col("_p.value"), 6).alias("value"),
    )


def range_agg(
    hits: DataFrame,
    attrs: DataFrame,
    field: str,
    ranges: list[tuple[float | None, float | None]],
) -> DataFrame:
    """range aggregation: (query_id, range_key, doc_count) with OpenSearch's
    half-open [from, to) buckets and open ends (None). Buckets may overlap
    (a doc can land in several — the OpenSearch contract), so each range is
    an independent conditional count in ONE pass over the hit-attr join;
    empty buckets emit doc_count 0 (ranges are a fixed spec, not data-driven
    like terms). range_key = 'from-to' with '*' for an open end."""
    if not ranges:
        raise ValueError("range agg needs at least one range")
    vals = _hit_attrs(hits, attrs, [field]).where(F.col(field).isNotNull())
    v = F.col(field).cast("double")
    aggs = []
    keys = []
    for i, (lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (v >= float(lo))
        if hi is not None:
            cond = cond & (v < float(hi))
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"_c{i}")
        )
        fmt = lambda x: "*" if x is None else f"{float(x):g}"
        keys.append(f"{fmt(lo)}-{fmt(hi)}")
    counted = vals.groupBy("query_id").agg(*aggs)
    buckets = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("range_key"),
                    F.col(f"_c{i}").alias("doc_count"),
                )
                for i, k in enumerate(keys)
            ]
        )
    )
    return counted.select("query_id", buckets.alias("_b")).select(
        "query_id",
        F.col("_b.range_key").alias("range_key"),
        F.col("_b.doc_count").alias("doc_count"),
    )


def histogram_agg(
    hits: DataFrame, attrs: DataFrame, field: str, interval: float
) -> DataFrame:
    """Numeric fixed-interval histogram (the OpenSearch `histogram` agg):
    (query_id, bucket_key, doc_count) with bucket_key =
    floor(value / interval) * interval and min_doc_count=0 gap-filling
    between each query's first and last occupied bucket — date_histogram's
    numeric twin. The gap grid runs over integral bucket INDICES (Spark
    sequence() is integral-only) and multiplies back, so float intervals
    stay exact at the key. NULL values excluded."""
    if interval <= 0:
        raise ValueError(f"interval must be positive, got {interval}")
    step = float(interval)
    idx = F.floor(F.col(field).cast("double") / F.lit(step)).cast("long")
    bucketed = (
        _hit_attrs(hits, attrs, [field])
        .where(F.col(field).isNotNull())
        .select("query_id", idx.alias("_idx"))
    )
    counts = bucketed.groupBy("query_id", "_idx").agg(
        F.count("*").alias("doc_count")
    )
    bounds = counts.groupBy("query_id").agg(
        F.min("_idx").alias("_lo"), F.max("_idx").alias("_hi")
    )
    grid = bounds.select(
        "query_id",
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(1).cast("long"))
        ).alias("_idx"),
    )
    return grid.join(counts, ["query_id", "_idx"], "left").select(
        "query_id",
        F.round(F.col("_idx").cast("double") * F.lit(step), 6).alias(
            "bucket_key"
        ),
        F.coalesce(F.col("doc_count"), F.lit(0)).alias("doc_count"),
    )
