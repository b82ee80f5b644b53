"""Deep pagination — OpenSearch `search_after` over the (score, doc_id) sort.

OpenSearch pages past `from+size` limits by passing the sort values of the
last hit of the previous page; the next page is every hit strictly after
that cursor in the total sort order, re-limited to the page size. Our sort
contract is the engine-wide (round-6 score desc, doc_id asc) — doc_id is
the mandatory tie-breaker field, exactly the `_id` the docs tell users to
append to their sort.

Plan shape: cursors are one row per query — broadcast them into the scored
relation; the cursor cut is a codegen'd predicate, and the page cut is the
same bounded per-query window every top-k in the engine uses. Nothing
re-scores: `scored` can be the output of any scoring operator (brute-force,
indexed, multi_match), so a pager over a 10^12-turn corpus only pays the
scoring plan once per page plus a broadcast (`page_cursors` collects the
cursors, so no page's plan nests an earlier one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def search_after(
    scored: DataFrame,
    cursors: DataFrame,
    score_col: str = "score",
) -> DataFrame:
    """(query_id, rank, doc_id, score): the next page after each cursor.

    cursors: (query_id, after_score, after_doc_id, _k) — the round-6 score
    and doc_id of the previous page's last hit, plus the page size. Queries
    absent from `cursors` (exhausted result sets) produce no rows; `rank`
    is page-local (1-based).
    """
    s6 = F.round(F.col(score_col), 6)
    nxt = (
        scored.join(F.broadcast(cursors), "query_id")
        .where(
            (s6 < F.col("after_score"))
            | (
                (s6 == F.col("after_score"))
                & (F.col("doc_id") > F.col("after_doc_id"))
            )
        )
    )
    w = W.partitionBy("query_id").orderBy(s6.desc(), F.asc("doc_id"))
    return (
        nxt.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= F.col("_k"))
        .select("query_id", "rank", "doc_id", s6.alias("score"))
    )


def page_cursors(page: DataFrame, ks: DataFrame) -> DataFrame:
    """Extract the search_after cursor from a ranked page: the sort values
    of each query's LAST hit (rank == page size). A query whose page came
    back short has no further results — it yields no cursor, so the next
    `search_after` round naturally drops it.

    The cursors (one row per live query) are collected into a literal
    frame: a lazy one would nest this page's plan, scoring included, into
    the next page's, so page N would re-run all N-1 earlier pages."""
    cursors = (
        page.join(F.broadcast(ks), "query_id")
        .where(F.col("rank") == F.col("_k"))
        .select(
            "query_id",
            F.col("score").alias("after_score"),
            F.col("doc_id").alias("after_doc_id"),
            "_k",
        )
    )
    return page.sparkSession.createDataFrame(
        cursors.collect(), cursors.schema
    )
