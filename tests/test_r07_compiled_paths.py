"""Round-7 equivalence armor: the driver-compiled query-weight paths and
the pre-tokenized-base paths must be frame-identical to the declarative
derivations they replace — pinned here on a corpus and query set DIFFERENT
from the registry fixtures (the oracle replay already pins the registry
queries end-to-end at two SFs)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from opensearch_jvector_plugin_spark.functions.tokenizer import tokenize_col
from opensearch_jvector_plugin_spark.operators.score import (
    compile_query_weights,
    score_all,
)


@pytest.fixture(scope="module")
def corpus(spark, tiny_corpus_pdf):
    return spark.createDataFrame(tiny_corpus_pdf)


@pytest.fixture(scope="module")
def toks_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("toks"))
    (
        corpus.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            tokenize_col("text").alias("toks"),
        )
        .withColumn("dl", F.size("toks").cast("int"))
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


@pytest.fixture(scope="module")
def toks_base(spark, toks_dir):
    return spark.read.parquet(toks_dir)


@pytest.fixture(scope="module")
def state(spark, corpus, toks_base, tmp_path_factory):
    """(stats, postings_df, term_df_df, term_dfs_map) from the base."""
    from opensearch_jvector_plugin_spark.plans.stats import (
        CorpusStats,
        postings_df,
    )

    p = postings_df(corpus).persist()
    td = p.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    row = toks_base.select(
        F.count("*").alias("n"), F.avg(F.col("dl").cast("double")).alias("a")
    ).collect()[0]
    stats = CorpusStats(n_docs=int(row["n"]), avgdl=float(row["a"]))
    tmap = {
        r["term"]: int(r["df"]) for r in td.collect()
    }
    return stats, p, td, tmap


QUERIES = [
    (0, "term0001 term0002", 10),
    (1, "term0003 term0003 hotcommon", 10),  # duplicate -> qtf 2
    (2, "zzzoov term0004", 10),              # partial OOV
    (3, "zzzgone", 10),                      # full OOV
]


def _norm(df):
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_compiled_weights_match_declarative_score_all(spark, corpus, state):
    stats, postings, term_df, tmap = state
    qdf = spark.createDataFrame(
        QUERIES, "query_id INT, query_text STRING, k LONG"
    )
    declarative = score_all(
        None, qdf, stats=stats, postings=postings, term_df=term_df
    )
    rows = compile_query_weights(
        pd.DataFrame(QUERIES, columns=["query_id", "query_text", "k"]),
        tmap, stats.n_docs,
    )
    weighted = spark.createDataFrame(
        rows, "query_id INT, term STRING, w DOUBLE"
    )
    compiled = score_all(
        None, qdf, stats=stats, postings=postings, weighted=weighted
    )
    a, b = _norm(declarative), _norm(compiled)
    # Bit-identical scores: same join semantics, same float arithmetic.
    pd.testing.assert_frame_equal(a, b)


def test_compiled_boolean_matches_declarative(spark, corpus, state):
    from opensearch_jvector_plugin_spark.operators.phrase import (
        boolean_scores,
        compile_boolean_clauses,
    )

    stats, postings, term_df, tmap = state
    bq_rows = [
        (0, "term0001", "term0002 term0003", ""),
        (1, "", "hotcommon", "term0001"),
        (2, "zzzoov", "term0004", ""),          # OOV must -> empty
        (3, "term0002 term0002", "", "zzz"),    # duplicate must tokens
    ]
    bq = spark.createDataFrame(
        bq_rows,
        "query_id INT, must_text STRING, should_text STRING,"
        " must_not_text STRING",
    )
    declarative = boolean_scores(
        None, bq, stats=stats, postings=postings, term_df=term_df
    )
    compiled = boolean_scores(
        None, bq, stats=stats, postings=postings,
        compiled=compile_boolean_clauses(
            pd.DataFrame(
                bq_rows,
                columns=["query_id", "must_text", "should_text",
                         "must_not_text"],
            ),
            tmap, stats.n_docs,
        ),
    )
    pd.testing.assert_frame_equal(_norm(declarative), _norm(compiled))


def test_compiled_boosting_matches_declarative(spark, corpus, state):
    from opensearch_jvector_plugin_spark.operators.phrase import (
        boosting_scores,
        compile_boosting_clauses,
    )

    stats, postings, term_df, tmap = state
    rows = [
        (0, "term0001 term0002", "hotcommon", 0.3),
        (1, "term0003", "zzzoov", 0.5),
        (2, "hotcommon hotcommon", "term0001 term0002", 0.1),
    ]
    bq = spark.createDataFrame(
        rows,
        "query_id INT, positive_text STRING, negative_text STRING,"
        " negative_boost DOUBLE",
    )
    declarative = boosting_scores(
        None, bq, stats=stats, postings=postings, term_df=term_df
    )
    compiled = boosting_scores(
        None, bq, stats=stats, postings=postings,
        compiled=compile_boosting_clauses(
            pd.DataFrame(
                rows[:3],
                columns=["query_id", "positive_text", "negative_text",
                         "negative_boost"],
            )[["query_id", "positive_text", "negative_text"]],
            tmap, stats.n_docs,
        ),
    )
    pd.testing.assert_frame_equal(_norm(declarative), _norm(compiled))


def test_compiled_synonyms_match_declarative(spark, corpus, state):
    from opensearch_jvector_plugin_spark.operators.synonyms import (
        compile_synonym_expansion,
        synonym_scores,
    )

    stats, postings, term_df, tmap = state
    pairs = [("term0001", "term0002"), ("hotcommon", "term0003")]
    qrows = [(0, "term0001 hotcommon"), (1, "term0002 term0002"),
             (2, "zzzoov")]
    qdf = spark.createDataFrame(qrows, "query_id INT, query_text STRING")
    syn = spark.createDataFrame(pairs, "term STRING, member STRING")
    declarative = synonym_scores(
        None, qdf, syn, stats=stats, postings=postings, term_df=term_df
    )
    exp_rows = compile_synonym_expansion(
        pd.DataFrame(qrows, columns=["query_id", "query_text"]),
        pairs, tmap, stats.n_docs,
    )
    compiled = synonym_scores(
        None, qdf, None, stats=stats, postings=postings,
        exp_terms=spark.createDataFrame(
            exp_rows, "query_id INT, term STRING, member STRING, w DOUBLE"
        ),
    )
    pd.testing.assert_frame_equal(_norm(declarative), _norm(compiled))


def test_positional_base_and_gate_match_direct_scan(spark, corpus, toks_base):
    """sloppy/phrase over the pre-tokenized base (with the round-7
    candidate gate) must equal the direct corpus scan."""
    from opensearch_jvector_plugin_spark.operators.phrase import (
        phrase_scores,
        sloppy_scores,
    )

    sq = pd.DataFrame(
        [(0, "term0001 term0002", 2), (1, "hotcommon term0003", 1),
         (2, "term0001 zzzoov", 2)],
        columns=["query_id", "query_text", "slop"],
    )
    direct = sloppy_scores(corpus, sq)
    based = sloppy_scores(None, sq, base=toks_base)
    pd.testing.assert_frame_equal(_norm(direct), _norm(based))

    pq_ = pd.DataFrame(
        [(0, "term0001 term0002", 10), (1, "hotcommon", 10)],
        columns=["query_id", "query_text", "k"],
    )
    pd.testing.assert_frame_equal(
        _norm(phrase_scores(corpus, pq_)),
        _norm(phrase_scores(None, pq_, base=toks_base)),
    )


def test_minhash_base_matches_direct(spark, corpus, toks_dir):
    """Every MinHash pair over the pre-tokenized corpus is an exact n-gram
    Jaccard pair of the direct corpus scan, with the same jaccard (the
    banding may only drop pairs, never change one)."""
    from opensearch_jvector_plugin_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    # This corpus has MinHash pairs only at n=1 and a low threshold.
    direct = ngram_jaccard_pairs(corpus, n=1, threshold=0.05).select(
        "doc_a", "doc_b", "jaccard"
    )
    based = minhash_lsh_pairs(spark, toks_dir, n=1, threshold=0.05)
    got = _norm(based)
    assert len(got) > 0
    pd.testing.assert_frame_equal(
        got, _norm(direct).merge(got[["doc_a", "doc_b"]])
    )
