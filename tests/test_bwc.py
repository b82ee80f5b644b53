"""Backward compatibility: the CURRENT reader must serve the FROZEN index
fixture (bytes committed to git by scripts/make_bwc_fixture.py) with pinned
results — the restart-upgrade discipline of the reference's
qa/restart-upgrade and qa/rolling-upgrade suites.

If this test fails after a codec/manifest change, either (a) the change
broke reading of existing indexes — fix it, or (b) the format intentionally
changed — bump CODEC_VERSION/FORMAT_VERSION, implement/justify the
migration story, and re-freeze the fixture."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from opensearch_jvector_plugin_spark import FORMAT_VERSION
from opensearch_jvector_plugin_spark.functions.tokenizer import (
    TOKENIZER_VERSION,
)
from opensearch_jvector_plugin_spark.operators import query
from opensearch_jvector_plugin_spark.operators.codec import CODEC_VERSION
from opensearch_jvector_plugin_spark.operators.query import load_index, search

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "bwc_index_v1")

# Pinned at freeze time (scripts/make_bwc_fixture.py prints these).
EXPECTED = [
    (0, 1, 0, 2.290265),
    (0, 2, 7, 2.290265),
    (0, 3, 2, 1.799494),
    (0, 4, 4, 1.574557),
    (1, 1, 1, 2.963209),
    (1, 2, 6, 1.481605),
    (1, 3, 7, 1.481605),
]
BWC_QUERIES = [(0, "spark join", 5), (1, "posting merge", 5)]


def test_fixture_versions_match_current_code():
    """The frozen index declares the format it was written with; the
    current code must still declare the same versions OR ship a migration
    (in which case this assertion is updated alongside a re-freeze)."""
    with open(os.path.join(FIXTURE, "stats.json")) as f:
        stats = json.load(f)
    assert stats["format_version"] == FORMAT_VERSION
    assert stats["codec_version"] == CODEC_VERSION
    assert stats["tokenizer_version"] == TOKENIZER_VERSION
    for name in sorted(os.listdir(os.path.join(FIXTURE, "manifests"))):
        with open(os.path.join(FIXTURE, "manifests", name)) as f:
            m = json.load(f)
        assert m["codec_version"] == CODEC_VERSION, name


def _pinned_rows(res) -> list:
    res = res.toPandas().sort_values(["query_id", "rank"]).reset_index(
        drop=True
    )
    return [
        (int(r.query_id), int(r.rank), int(r.doc_id), round(float(r.score), 6))
        for r in res.itertuples(index=False)
    ]


def _on_both_executors(spark, monkeypatch, idx, **kw) -> list:
    """The BWC queries' pinned-form rows from each serving executor: the
    driver (the default bound; the frozen index is tiny) and Spark (the
    bound forced to 0, so the fixed-schema parquet scan reads the frozen
    files)."""
    qpdf = pd.DataFrame(BWC_QUERIES, columns=["query_id", "query_text", "k"])
    out = []
    for bound, scan in ((query.LOCAL_SERVE_POSTINGS, "LocalTableScan"),
                        (0, "FileScan parquet")):
        with monkeypatch.context() as m:
            m.setattr(query, "LOCAL_SERVE_POSTINGS", bound)
            res = search(spark, idx, qpdf, **kw)
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert scan in plan, plan
        out.append(_pinned_rows(res))
    return out


def test_current_reader_serves_frozen_index(spark, monkeypatch):
    """Query results over the frozen bytes must equal the values pinned at
    freeze time — catches silent codec/scoring drift that a same-session
    build-then-read test cannot — on both serving executors."""
    idx = load_index(FIXTURE)
    assert idx.n_docs == 10 and idx.n_segments == 3
    for got in _on_both_executors(spark, monkeypatch, idx):
        assert got == EXPECTED


VEC_FIXTURE = os.path.join(
    os.path.dirname(__file__), "fixtures", "bwc_vindex_v1"
)
VEC_EXPECTED = [
    (0, 1, 0, 1.0),
    (0, 2, 26, 0.668643),
    (0, 3, 15, 0.662346),
    (0, 4, 23, 0.646611),
    (0, 5, 25, 0.478233),
    (1, 1, 1, 1.0),
    (1, 2, 33, 0.773565),
    (1, 3, 27, 0.734768),
    (1, 4, 21, 0.618656),
    (1, 5, 32, 0.599519),
]


def test_current_reader_serves_frozen_vector_index(spark):
    """The frozen vector index (replicas=2, int8 SQ + PQ codebooks) must be
    served by the current reader with results pinned at freeze time, on
    both the exact and the quantized (each codec) serving paths."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..",
                                    "scripts"))
    from make_bwc_fixture import bwc_vectors

    from opensearch_jvector_plugin_spark.operators.vector_index import (
        ivf_search,
        ivf_search_exact,
        load_vector_index,
    )

    idx = load_vector_index(VEC_FIXTURE)
    assert idx.manifest["n_vecs"] == 40
    assert idx.n_replicas == 2 and idx.pq_m == 4
    emb = spark.createDataFrame(
        bwc_vectors(), "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    q = emb.where("vec_id < 2").selectExpr(
        "cast(vec_id as int) as query_id", "embedding as query_vec"
    )
    res = (
        ivf_search_exact(spark, idx, q, k=5, nprobe=2)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    got = [
        (int(r.query_id), int(r.rank), int(r.vec_id),
         round(float(r.cosine), 6))
        for r in res.itertuples(index=False)
    ]
    assert got == VEC_EXPECTED
    # Quantized codecs read the frozen qvec/pqcode bytes; with full
    # over-query they must agree with the exact path's pinned ids.
    for codec in ("sq", "pq"):
        qres = ivf_search(spark, idx, q.toPandas(), k=5, nprobe=2,
                          over_query=8, codec=codec).toPandas()
        for qid in (0, 1):
            want_ids = [v for (qq, _, v, _) in VEC_EXPECTED if qq == qid]
            got_ids = set(qres[qres.query_id == qid]["vec_id"])
            assert set(want_ids) == got_ids, (codec, qid)


def test_frozen_index_survives_merge(spark, tmp_path, monkeypatch):
    """The current merge must also accept the frozen segments (upgrade
    path: old index, new code, force-merge) and serve identical results
    on both serving executors."""
    import shutil

    from opensearch_jvector_plugin_spark.operators.merge import merge_segments

    work = str(tmp_path / "bwc_copy")
    shutil.copytree(FIXTURE, work)
    merge_segments(spark, load_index(work))
    idx = load_index(work)
    for got in _on_both_executors(spark, monkeypatch, idx, use_merged=True):
        assert got == EXPECTED


def test_frozen_vector_index_survives_compaction(spark, tmp_path):
    """Upgrade path for the vector index: a PRE-generation frozen index
    (legacy buckets/ layout, no bucket_gen field) compacted by the current
    code must flip to the generation-pointer layout and serve the pinned
    results unchanged — covers the round-4 manifest field."""
    import shutil

    from opensearch_jvector_plugin_spark.operators.vector_index import (
        compact_vector_index,
        ivf_search_exact,
        load_vector_index,
    )

    work = str(tmp_path / "bwc_vec_copy")
    shutil.copytree(VEC_FIXTURE, work)
    assert "bucket_gen" not in load_vector_index(work).manifest
    m = compact_vector_index(spark, work)
    assert m["bucket_gen"] == 1
    idx = load_vector_index(work)
    assert idx.buckets_path.endswith("buckets-g0001")
    assert not os.path.exists(os.path.join(work, "buckets"))

    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..",
                                    "scripts"))
    from make_bwc_fixture import bwc_vectors

    emb = spark.createDataFrame(
        bwc_vectors(), "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    q = emb.where("vec_id < 2").selectExpr(
        "cast(vec_id as int) as query_id", "embedding as query_vec"
    )
    res = (
        ivf_search_exact(spark, idx, q, k=5, nprobe=2)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    got = [
        (int(r.query_id), int(r.rank), int(r.vec_id),
         round(float(r.cosine), 6))
        for r in res.itertuples(index=False)
    ]
    assert got == VEC_EXPECTED


def test_frozen_vector_index_accepts_current_appends(spark, tmp_path):
    """Mixed-schema BWC: appending with CURRENT code (which writes the
    round-4 pqerr column) into a PRE-round-4 frozen index must keep every
    serving path working — the old files simply read pqerr as null, and
    radial pq (which needs it) is gated off by the manifest flag."""
    import shutil

    import numpy as np
    import pytest as _pytest

    from opensearch_jvector_plugin_spark.operators.vector_index import (
        append_vectors,
        ivf_search,
        ivf_search_exact,
        ivf_search_radial,
        load_vector_index,
    )

    work = str(tmp_path / "bwc_vec_append")
    shutil.copytree(VEC_FIXTURE, work)
    rng = np.random.default_rng(5)
    rows = [(100 + i, [float(x) for x in rng.normal(size=8)])
            for i in range(12)]
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]}),
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    m = append_vectors(emb, work, batch_id=0)
    # Replicated fixture: 40 originals + 12 appends, 2 rows each.
    idx = load_vector_index(work)
    assert spark.read.parquet(idx.buckets_path).count() == (40 + 12) * 2
    assert m["n_vecs"] == 52

    q = emb.where("vec_id < 102").selectExpr(
        "cast(vec_id as int) as query_id", "embedding as query_vec"
    )
    exact = ivf_search_exact(spark, idx, q, k=5, nprobe=4)
    assert exact.count() == 10
    # Quantized serving over the mixed files (sq reads qvec columns that
    # exist in both generations; pq reads pqcode, also in both).
    for codec in ("sq", "pq"):
        got = ivf_search(spark, idx, q.toPandas(), k=5, nprobe=4,
                         over_query=8, codec=codec)
        assert got.count() == 10, codec
    # Radial sq works; radial pq is gated (no pq_err_col in the manifest).
    r = ivf_search_radial(spark, idx, q, min_score=0.2, nprobe=4,
                          codec="sq")
    assert r.count() > 0
    with _pytest.raises(ValueError, match="pq_err_col"):
        ivf_search_radial(spark, idx, q, min_score=0.2, codec="pq")
