"""Round-7 phase profiler: where do the expensive registry queries spend
their seconds at sf0.1/local[32]?

Times sub-phases of representative queries with noop-style materialization
(guide §1.4: count() on the final frame only; sub-phases are timed around
the driver actions they already contain). Labels jobs for the event log.

Usage: python scripts/profile_r07.py [phase ...]
"""

from __future__ import annotations

import os
import sys
import time


def t(label, fn):
    t0 = time.monotonic()
    out = fn()
    dt = time.monotonic() - t0
    print(f"  {dt:7.3f}s  {label}", flush=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    which = set(sys.argv[1:])

    import pandas as pd
    from pyspark.sql import functions as F

    from opensearch_jvector_plugin_spark import entry_queries as eq
    from opensearch_jvector_plugin_spark.operators.query import (
        load_index,
        search,
    )
    from opensearch_jvector_plugin_spark.operators.score import score_all
    from opensearch_jvector_plugin_spark.plans.stats import (
        corpus_stats,
        postings_df,
    )
    from opensearch_jvector_plugin_spark.session import get_spark

    spark = get_spark(app_name="ojs-profile",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    # Warm worker pool like bench.py does.
    spark.range(0, 64, 1, 64).mapInPandas(lambda it: it, "id long").count()

    def sel(name):
        return not which or name in which

    if sel("score_all"):
        print("== score_all decomposition (bm25_topk substrate)")
        docs = eq._docs(spark, sf_dir)
        queries = eq._queries_df(spark)
        t("docs.count (scan only)", lambda: docs.count())
        t("corpus_stats (tokenize pass + collect)",
          lambda: corpus_stats(docs))
        p = postings_df(docs)
        t("postings_df full materialize (noop)",
          lambda: p.write.format("noop").mode("overwrite").save())
        t("q_bm25_topk end-to-end", lambda: eq.q_bm25_topk(spark, sf_dir).count())
        t("q_bm25_topk again", lambda: eq.q_bm25_topk(spark, sf_dir).count())
        spark.catalog.clearCache()

    if sel("transcript"):
        print("== transcript family")
        t("q_transcript_bm25_indexed 1st (builds memo index)",
          lambda: eq.q_transcript_bm25_indexed(spark, sf_dir).count())
        t("q_transcript_bm25_indexed 2nd (steady)",
          lambda: eq.q_transcript_bm25_indexed(spark, sf_dir).count())
        from opensearch_jvector_plugin_spark.sources.transcripts import (
            reference_queries,
        )
        idx = load_index(eq._transcript_state(spark).idx_dir)
        qpdf = reference_queries(1500)
        t("search() on transcript idx", lambda: search(spark, idx, qpdf,
                                                       tie_epsilon=1e-6).count())
        from opensearch_jvector_plugin_spark.operators.query import (
            _query_weights,
        )
        t("_query_weights alone (dict lookup)",
          lambda: _query_weights(spark, idx, qpdf))
        t("_transcript_attrs materialize",
          lambda: eq._transcript_attrs(spark).count())
        t("q_transcript_terms_agg end-to-end",
          lambda: eq.q_transcript_terms_agg(spark, sf_dir).count())
        t("q_transcript_collapse end-to-end",
          lambda: eq.q_transcript_collapse(spark, sf_dir).count())
        spark.catalog.clearCache()

    if sel("ivf"):
        print("== ann_ivf_trained_l2 (build vs serve)")
        t("q_ann_ivf_trained_l2 1st (build+train+serve)",
          lambda: eq.q_ann_ivf_trained_l2(spark, sf_dir).count())
        t("q_ann_ivf_trained_l2 2nd (serve only)",
          lambda: eq.q_ann_ivf_trained_l2(spark, sf_dir).count())
        t("q_ann_ivf_trained (cosine, serve)",
          lambda: eq.q_ann_ivf_trained(spark, sf_dir).count())
        t("_corpus_auto_k alone",
          lambda: eq._corpus_auto_k(
              os.path.join(sf_dir, "embeddings.parquet"), 2, 8))
        spark.catalog.clearCache()

    if sel("media"):
        print("== media_pipeline")
        t("q_media_pipeline 1st", lambda: eq.q_media_pipeline(spark, sf_dir).count())
        t("q_media_pipeline 2nd", lambda: eq.q_media_pipeline(spark, sf_dir).count())

    if sel("build"):
        print("== index_build decomposition (bench headline)")
        import tempfile

        from opensearch_jvector_plugin_spark.operators.build import build_index
        from opensearch_jvector_plugin_spark.plans.docids import assign_doc_ids
        from opensearch_jvector_plugin_spark.sources.transcripts import (
            synthesize_transcripts,
        )

        wd = tempfile.mkdtemp(prefix="ojs_prof_")
        cp = os.path.join(wd, "transcripts.parquet")
        synthesize_transcripts(spark, 10000, 10).write.mode(
            "overwrite").parquet(cp)
        raw = spark.read.parquet(cp)

        def full_build(tag):
            out = os.path.join(wd, f"idx_{tag}")
            corpus = assign_doc_ids(raw, ["conv_id", "turn_idx"])
            build_index(corpus, out, align_partitions=True)
            pers = getattr(corpus, "_ojs_persisted", None)
            if pers is not None:
                pers.unpersist()

        t("full index_build (trial 1)", lambda: full_build("a"))
        t("full index_build (trial 2)", lambda: full_build("b"))
        corpus = assign_doc_ids(raw, ["conv_id", "turn_idx"])
        t("assign_doc_ids alone (materialize)", lambda: corpus.count())
        pers = getattr(corpus, "_ojs_persisted", None)
        if pers is not None:
            pers.unpersist()

    if sel("qbatch"):
        print("== bm25_query_batch (bench headline)")
        import tempfile

        from opensearch_jvector_plugin_spark.operators.build import build_index
        from opensearch_jvector_plugin_spark.plans.docids import assign_doc_ids
        from opensearch_jvector_plugin_spark.sources.transcripts import (
            synthesize_transcripts,
        )

        sys.path.insert(0, os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        from bench import bench_queries

        wd = tempfile.mkdtemp(prefix="ojs_prof_")
        cp = os.path.join(wd, "transcripts.parquet")
        synthesize_transcripts(spark, 10000, 10).write.mode(
            "overwrite").parquet(cp)
        corpus = assign_doc_ids(spark.read.parquet(cp),
                                ["conv_id", "turn_idx"])
        idx_dir = os.path.join(wd, "idx")
        build_index(corpus, idx_dir, align_partitions=True)
        qs = bench_queries(200)
        idx = load_index(idx_dir)
        t("search 200q (1)", lambda: search(spark, idx, qs).count())
        t("search 200q (2)", lambda: search(spark, idx, qs).count())
        from opensearch_jvector_plugin_spark.operators.query import (
            _query_weights,
        )
        t("_query_weights 200q alone", lambda: _query_weights(spark, idx, qs))

    spark.stop()


if __name__ == "__main__":
    main()
