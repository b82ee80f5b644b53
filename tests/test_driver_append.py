"""The driver executors of the write path: an append of at most seg_size
rows runs in the driver through the build's segment and manifest writers,
and `build.write_dict` sums a driver-sized dictionary with pyarrow. Both
must write what their Spark executors write."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from conftest import spark_jobs

from opensearch_jvector_plugin_spark.operators.build import (
    build_index,
    write_dict,
)
from opensearch_jvector_plugin_spark.plans import state
from opensearch_jvector_plugin_spark.plans.docids import assign_doc_ids
from opensearch_jvector_plugin_spark.sources.transcripts import (
    synthesize_transcripts_pdf,
)
from opensearch_jvector_plugin_spark.streaming.incremental import append_batch

SEG = 250


def _batch_pdf() -> pd.DataFrame:
    """200 turns in shuffled order whose sort keys pin Spark's ascending
    order: repeated conv_ids, a null conv_id, and non-ASCII conv_ids ("é"
    sorts after "z" by code point and by UTF-8 bytes)."""
    pdf = synthesize_transcripts_pdf(np.arange(200), 20, 10, seed=7)
    conv = pdf["conv_id"].astype(object).to_numpy()
    conv[:10] = None
    conv[10:20] = "é"
    conv[20:30] = "z"
    conv[30:40] = "Z"
    conv[40:50] = "ça"
    pdf["conv_id"] = conv
    pdf = pdf[["conv_id", "turn_idx", "text"]]
    return pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)


def _read_json(path):
    with open(path) as f:
        return json.load(f)


def _dict_rows(path) -> pd.DataFrame:
    return (
        pq.read_table(path).to_pandas()
        .sort_values("term").reset_index(drop=True)
    )


def test_driver_append_matches_build(spark, tmp_path):
    pdf = _batch_pdf()
    assert len(pdf) <= SEG
    got = str(tmp_path / "append")
    want = str(tmp_path / "build")
    append_batch(spark.createDataFrame(pdf), got, seg_size=SEG)
    assigned = assign_doc_ids(
        spark.createDataFrame(pdf), ["conv_id", "turn_idx"]
    )
    build_index(assigned, want, seg_size=SEG)
    assigned._ojs_persisted.unpersist()

    seg = os.path.join("segments", "seg_id=0", "postings.parquet")
    with open(os.path.join(got, seg), "rb") as a, \
            open(os.path.join(want, seg), "rb") as b:
        assert a.read() == b.read()

    def without(d, key):
        return {k: v for k, v in d.items() if k != key}

    man = os.path.join("manifests", "seg-00000.json")
    assert without(_read_json(os.path.join(got, man)), "build_ms") == \
        without(_read_json(os.path.join(want, man)), "build_ms")
    assert without(_read_json(os.path.join(got, "stats.json")),
                   "build_ms_total") == \
        without(_read_json(os.path.join(want, "stats.json")),
                "build_ms_total")
    pd.testing.assert_frame_equal(
        _dict_rows(os.path.join(got, "dict")),
        _dict_rows(os.path.join(want, "dict")),
    )


def test_driver_append_launches_no_spark_job(spark, small_corpus_pdf,
                                             tmp_path):
    d = str(tmp_path / "idx")
    pdf = small_corpus_pdf.drop(columns=["doc_id"])
    append_batch(spark.createDataFrame(pdf.iloc[:SEG]), d, seg_size=SEG)
    batch = spark.createDataFrame(pdf.iloc[SEG:2 * SEG])
    stats, jobs = spark_jobs(
        spark, lambda: append_batch(batch, d, seg_size=SEG)
    )
    assert jobs == 0
    assert stats["n_docs"] == 2 * SEG and stats["n_segments"] == 2


@pytest.fixture(scope="module")
def index(spark, small_corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dict") / "idx")
    build_index(spark.createDataFrame(small_corpus_pdf), d, seg_size=SEG)
    return d


def test_write_dict_executors_agree(spark, index, tmp_path, monkeypatch):
    segs = os.path.join(index, "segments")
    local, dist = str(tmp_path / "local"), str(tmp_path / "dist")
    _, local_jobs = spark_jobs(spark, lambda: write_dict(spark, segs, local, 8))
    monkeypatch.setattr(state, "DICT_DRIVER_MAX_BYTES", 0)
    _, dist_jobs = spark_jobs(spark, lambda: write_dict(spark, segs, dist, 8))
    assert local_jobs == 0 and dist_jobs > 0
    pd.testing.assert_frame_equal(_dict_rows(local), _dict_rows(dist))
    assert spark.read.parquet(local).schema.simpleString() == \
        spark.read.parquet(dist).schema.simpleString() == \
        "struct<term:string,df:bigint,ctf:bigint>"


def test_driver_dict_rewrite_leaves_one_fresh_file(spark, index, tmp_path):
    segs = os.path.join(index, "segments")
    out = str(tmp_path / "dict")

    def parquet_files():
        return sorted(n for n in os.listdir(out) if n.endswith(".parquet"))

    write_dict(spark, segs, out, 8)
    first = parquet_files()
    write_dict(spark, segs, out, 8)
    second = parquet_files()
    assert len(first) == len(second) == 1 and first != second
    assert sorted(os.listdir(out)) == second
