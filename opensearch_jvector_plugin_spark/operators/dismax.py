"""Multi-field DisjunctionMax scoring — ES `multi_match` (best_fields).

The reference wraps arbitrary Lucene queries as its filter clause
(KNNQueryBuilder.java accepts any QueryBuilder, which in OpenSearch includes
MultiMatchQueryBuilder); the actual multi-field semantics live in Lucene's
DisjunctionMaxQuery. For the full-text engine they are part of the serving
contract, so they are implemented here, Spark-first:

- **Per-field BM25 with per-field statistics** (Lucene's per-field
  similarity state): each searchable field f keeps its own document count
  N_f (docs with at least one token in f — Lucene `docCount`), its own
  average length avgdl_f over those docs, and its own per-term df_f. A
  field-level score is the standard BM25 sum over the query's term
  occurrences against THAT field's postings, scaled by the field boost.
- **DisjunctionMax combine** (DisjunctionMaxQuery with tieBreakerMultiplier):
  score(q, d) = max_f s_f + tie_breaker * (sum_f s_f - max_f s_f), over the
  fields where the doc matched; docs matching no field are absent.

Plan shape (scale-first): ONE corpus scan projects every field's token
array into a (field, toks) struct array; one explode chain + a map-side-
combined groupBy yields the field-tagged postings (doc_id, field, dl, term,
tf) — the only corpus-sized shuffle. Field stats and per-(field, term) df
reduce those postings to broadcast-sized tables; the scoring join is a
broadcast of (query_id, field, term, w, avgdl_f) rows, and the dis_max fold
is ONE groupBy(query_id, doc_id) with a conditional sum per field (the
field list is static), so the combine adds zero shuffles beyond the scoring
aggregation itself — the same discipline as score_all/msm_scores.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.bm25 import bm25_idf, bm25_tf_norm
from ..functions.tokenizer import tokenize_col, tokenize_series
from .score import query_terms_df


def field_postings_df(
    corpus: DataFrame,
    fields: list[str],
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, field, dl, term, tf) over every field in one corpus scan.

    `field` is the field's name, so a consumer joins per-field boosts and
    stats by name whatever order its field list has. NULL / empty field
    values simply produce no postings for that (doc, field) — exactly
    Lucene's "document has no value for the field" (it is then absent from
    that field's docCount and avgdl).
    """
    structs = [
        F.struct(
            F.lit(name).alias("field"),
            tokenize_col(name).alias("toks"),
        )
        for name in fields
    ]
    per_field = (
        corpus.select(
            F.col(doc_id_col).cast("long").alias("doc_id"),
            F.explode(F.array(*structs)).alias("s"),
        )
        .select(
            "doc_id",
            F.col("s.field").alias("field"),
            F.col("s.toks").alias("toks"),
        )
        .where(F.size("toks") > 0)
    )
    toks = per_field.select(
        "doc_id",
        "field",
        F.size("toks").cast("int").alias("dl"),
        F.explode("toks").alias("term"),
    )
    return toks.groupBy("doc_id", "field", "dl", "term").agg(
        F.count("*").cast("int").alias("tf")
    )


def field_postings_pdf(pdf: pd.DataFrame, fields: list[str]) -> pd.DataFrame:
    """The pandas twin of `field_postings_df` over a driver-held corpus:
    the same (doc_id, field, dl, term, tf) rows, tokenized with
    `tokenize_series`."""
    parts = []
    for name in fields:
        toks = tokenize_series(pdf[name])
        dl = toks.str.len()
        keep = (dl > 0).to_numpy()
        rows = pd.DataFrame({
            "doc_id": pdf["doc_id"].to_numpy("int64")[keep],
            "dl": dl.to_numpy("int32")[keep],
            "term": toks.to_numpy()[keep],
        }).explode("term")
        tf = rows.groupby(["doc_id", "dl", "term"], sort=False).size()
        parts.append(
            tf.rename("tf").astype("int32").reset_index()
            .assign(field=name)[["doc_id", "field", "dl", "term", "tf"]]
        )
    return pd.concat(parts, ignore_index=True)


def multi_match_scores(
    corpus: DataFrame,
    queries: DataFrame,
    fields: list[tuple[str, float]],
    tie_breaker: float = 0.0,
    doc_id_col: str = "doc_id",
    postings: DataFrame | None = None,
) -> DataFrame:
    """(query_id, doc_id, score) under multi_match best_fields semantics.

    fields: [(column_name, boost), ...] — static, small (2-5 in practice).
    `postings`: optional pre-derived field_postings_df relation (the
    per-field segment state a mapper persists) — when given, the corpus is
    not rescanned and nothing is persisted; it may hold more fields than
    `fields`, in any order (boosts and stats join by field name). Callers
    release executor storage via the `_ojs_persisted` handle after
    materializing, the repo-wide persist discipline.
    """
    persisted = None
    if postings is None:
        names = [n for n, _b in fields]
        postings = persisted = field_postings_df(
            corpus, names, doc_id_col
        ).persist()

    # Per-field trained state: docCount + avgdl over docs WITH the field.
    # One row per (doc, field) — dl is functionally dependent on the pair,
    # so the distinct is a tiny-row shuffle of Σ_f N_f rows.
    fstats = (
        postings.select("doc_id", "field", "dl")
        .distinct()
        .groupBy("field")
        .agg(
            F.count("*").cast("double").alias("n_f"),
            F.avg(F.col("dl").cast("double")).alias("avgdl_f"),
        )
    )
    fdf = postings.groupBy("field", "term").agg(
        F.count("*").cast("long").alias("df")
    )
    boosts_df = postings.sparkSession.createDataFrame(
        [(n, float(b)) for n, b in fields], "field STRING, boost DOUBLE"
    )
    qterms = query_terms_df(queries)
    # Small side: (query_id, term) × per-field df/stats -> per-(query, field,
    # term) weight. A term absent from a field's dictionary scores nothing
    # there (inner join), exactly like the single-field path.
    weighted = (
        qterms.join(fdf, "term")
        .join(F.broadcast(fstats), "field")
        .join(F.broadcast(boosts_df), "field")
        .select(
            "query_id",
            "field",
            "term",
            (
                F.col("qtf")
                * F.col("boost")
                * bm25_idf(F.col("df"), F.col("n_f"))
            ).alias("w"),
            "avgdl_f",
        )
    )
    contribs = postings.join(F.broadcast(weighted), ["field", "term"]).select(
        "query_id",
        "doc_id",
        "field",
        (
            F.col("w")
            * bm25_tf_norm(F.col("tf"), F.col("dl"), F.col("avgdl_f"))
        ).alias("contrib"),
    )
    # dis_max as one conditional-sum aggregation: the field list is static,
    # so per-field scores are columns of the SAME map-side-combined groupBy
    # the plain scorer runs — no pivot, no second shuffle.
    sums = [
        F.sum(
            F.when(F.col("field") == n, F.col("contrib")).otherwise(F.lit(0.0))
        ).alias(f"_s{i}")
        for i, (n, _b) in enumerate(fields)
    ]
    agged = contribs.groupBy("query_id", "doc_id").agg(*sums)
    scols = [F.col(f"_s{i}") for i in range(len(fields))]
    best = F.greatest(*scols) if len(scols) > 1 else scols[0]
    total = scols[0]
    for c in scols[1:]:
        total = total + c
    out = agged.select(
        "query_id",
        "doc_id",
        (best + F.lit(float(tie_breaker)) * (total - best)).alias("score"),
    )
    if persisted is not None:
        out._ojs_persisted = persisted
    return out
