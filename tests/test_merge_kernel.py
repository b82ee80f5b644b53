"""The chunked merge kernel and its shuffle-free task shape
(operators/merge.py): merged segments are byte-identical to a
single-segment build whatever the chunk budget, the input doc-range layout
or the deletes, and a merge reads its inputs without an exchange."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import spark_jobs

from opensearch_jvector_plugin_spark.operators import merge
from opensearch_jvector_plugin_spark.operators.build import (
    build_index,
    committed_segments,
)
from opensearch_jvector_plugin_spark.operators.codec import (
    PostingList,
    encode_postings,
)
from opensearch_jvector_plugin_spark.operators.deletes import delete_docs
from opensearch_jvector_plugin_spark.operators.merge import merge_segments
from opensearch_jvector_plugin_spark.operators.query import load_index

SMALL_BUDGET = 600  # decoded values per chunk: 200 postings


@pytest.fixture(scope="module")
def corpus(spark, small_corpus_pdf):
    return spark.createDataFrame(small_corpus_pdf).repartition(4)


@pytest.fixture(scope="module")
def one(corpus, tmp_path_factory):
    """The corpus as one segment: what every merge must reproduce."""
    d = str(tmp_path_factory.mktemp("one") / "idx")
    build_index(corpus, d, seg_size=10**9)
    return d


def _postings(idx_dir, sub="merged", seg=0):
    return pq.read_table(
        os.path.join(idx_dir, sub, f"seg_id={seg}", "postings.parquet")
    )


def _bytes(idx_dir, sub="merged", seg=0):
    with open(os.path.join(idx_dir, sub, f"seg_id={seg}", "postings.parquet"),
              "rb") as f:
        return f.read()


def test_small_chunks_match_default_budget(spark, corpus, one, tmp_path,
                                           monkeypatch):
    d = str(tmp_path / "eight")
    build_index(corpus, d, seg_size=250)
    merge_segments(spark, load_index(d))
    default = _postings(d)

    monkeypatch.setattr(merge, "BATCH_VALUES", SMALL_BUDGET)
    manifest = merge_segments(spark, load_index(d))
    chunked = _postings(d)
    dfs = chunked.column("df").to_numpy()
    assert 3 * dfs.sum() > 20 * SMALL_BUDGET  # many chunks ...
    assert 3 * dfs.max() > SMALL_BUDGET  # ... and a term over the budget
    assert chunked.equals(default)
    assert chunked.equals(_postings(one, "segments"))
    assert manifest["merged_segments"][0]["crc"] == committed_segments(one)[0]["crc"]


@pytest.mark.parametrize("budget", [None, SMALL_BUDGET])
def test_overlapping_aligned_inputs_merge_to_build_bytes(
    spark, corpus, one, tmp_path, monkeypatch, budget
):
    # Round-robin partitions: every aligned segment spans the whole docID
    # range, so each chunk needs the (term, doc) sort.
    a = str(tmp_path / "aligned")
    s = str(tmp_path / "ranged")
    build_index(corpus.repartition(5), a, align_partitions=True)
    build_index(corpus, s, seg_size=250)
    ranges = sorted((m["doc_lo"], m["doc_hi"])
                    for m in committed_segments(a).values())
    assert any(hi > lo2 for (_, hi), (lo2, _) in zip(ranges, ranges[1:]))
    if budget is not None:
        monkeypatch.setattr(merge, "BATCH_VALUES", budget)
    merge_segments(spark, load_index(a))
    merge_segments(spark, load_index(s))
    assert _bytes(a) == _bytes(s)
    assert _postings(a).equals(_postings(one, "segments"))


@pytest.mark.parametrize("budget", [None, SMALL_BUDGET])
def test_purging_merge_equals_build_of_live_docs(
    spark, small_corpus_pdf, tmp_path, monkeypatch, budget
):
    victims = sorted(set(range(3, 2000, 37)) | set(range(700, 760)))
    live = small_corpus_pdf[~small_corpus_pdf["doc_id"].isin(victims)]
    d = str(tmp_path / "del")
    want = str(tmp_path / "live")
    build_index(spark.createDataFrame(small_corpus_pdf), d, seg_size=250)
    build_index(spark.createDataFrame(live), want, seg_size=10**9)
    delete_docs(d, victims)
    if budget is not None:
        monkeypatch.setattr(merge, "BATCH_VALUES", budget)
    manifest = merge_segments(spark, load_index(d))

    assert _postings(d).equals(_postings(want, "segments"))
    assert manifest["n_docs_purged"] == len(victims)
    assert manifest["merged_segments"][0]["crc"] == committed_segments(want)[0]["crc"]

    def stats(idx):
        with open(os.path.join(idx, "stats.json")) as f:
            return json.load(f)

    got, exp = stats(d), stats(want)
    # dl_purged is exact: the purge leaves the live corpus' statistics.
    assert (got["n_docs"], got["total_dl"]) == (exp["n_docs"], exp["total_dl"])
    assert got["avgdl"] == pytest.approx(exp["avgdl"], rel=1e-12)
    dict_of = lambda idx: (  # noqa: E731
        pq.read_table(os.path.join(idx, "dict")).to_pandas()
        .sort_values("term").reset_index(drop=True)
    )
    assert dict_of(d).equals(dict_of(want))


def test_purging_merge_launches_one_job(spark, small_corpus_pdf, tmp_path):
    """The merge is one mapInPandas job; the purge's dict rebuild of a
    driver-sized dictionary is summed in the driver."""
    d = str(tmp_path / "purge")
    build_index(spark.createDataFrame(small_corpus_pdf), d, seg_size=250)
    delete_docs(d, list(range(0, 2000, 50)))
    manifest, jobs = spark_jobs(
        spark, lambda: merge_segments(spark, load_index(d))
    )
    assert manifest["n_docs_purged"] == 40
    assert jobs == 1


def test_stray_temp_file_in_input_is_ignored(spark, corpus, one, tmp_path):
    d = str(tmp_path / "stray")
    build_index(corpus, d, seg_size=250)
    # A complete copy of another segment's postings under the writer's temp
    # name: read, it would duplicate that segment's docs.
    seg = os.path.join(d, "segments")
    shutil.copy(os.path.join(seg, "seg_id=1", "postings.parquet"),
                os.path.join(seg, "seg_id=0", "_postings.parquet.tmp"))
    manifest = merge_segments(spark, load_index(d))
    assert manifest["merged_segments"][0]["crc"] == committed_segments(one)[0]["crc"]
    assert _postings(d).equals(_postings(one, "segments"))


def test_merge_runs_without_exchange(spark, corpus, tmp_path, monkeypatch):
    DataFrame = type(spark.range(1))  # the session's concrete frame class
    d = str(tmp_path / "plan")
    build_index(corpus, d, seg_size=250)
    plans = []
    collect = DataFrame.collect

    def recording_collect(self):
        out = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(DataFrame, "collect", recording_collect)
    manifest, jobs = spark_jobs(
        spark, lambda: merge_segments(spark, load_index(d), fan_in=3)
    )
    assert len(manifest["merged_segments"]) == 3
    assert jobs <= 2
    assert plans and all("Exchange" not in p for p in plans)
    assert any("MapInPandas" in p for p in plans)


def _rows(lists, codecs):
    """Input rows as read_segment_rows returns them: one row per (term,
    segment) list, term-sorted, segment order within a term."""
    encs = [
        encode_postings(t, PostingList(*map(np.asarray, pl)), codec=c)
        for (t, pl), c in zip(lists, codecs)
    ]
    return pa.table({
        "term": [e.term for e in encs],
        "df": pa.array([e.df for e in encs], pa.int32()),
        "tf_offset": pa.array([e.tf_offset for e in encs], pa.int32()),
        "dl_offset": pa.array([e.dl_offset for e in encs], pa.int32()),
        "checksum": pa.array([e.checksum for e in encs], pa.int64()),
        "blob": pa.array([e.blob for e in encs], pa.binary()),
        "codec": pa.array([e.codec for e in encs], pa.int32()),
    })


LISTS = [
    ("a", ([1, 5], [1, 2], [3, 4])),
    ("a", ([7, 9, 11], [1, 1, 3], [5, 6, 7])),
    ("b", ([2], [4], [8])),
    ("c", ([3, 4], [1, 1], [2, 2])),
    ("c", ([8], [2], [9])),
]


@pytest.mark.parametrize("budget", [3, 12, 10**6])
def test_kernel_decodes_other_codecs_in_place(budget):
    """A chunk holding packed input lists decodes list by list to the same
    output the flat varint decode gives, whatever the chunking."""
    want, crc, _ = merge.merge_rows(_rows(LISTS, ["varint"] * 5))
    for codecs in (["packed", "varint", "varint", "packed", "varint"],
                   ["packed"] * 5):
        got, got_crc, _ = merge.merge_rows(
            _rows(LISTS, codecs), batch_values=budget
        )
        assert got_crc == crc
        pd_cols = ["term", "df", "ctf", "max_tf", "tf_offset", "dl_offset",
                   "checksum", "blob", "codec"]
        assert got[pd_cols].equals(want[pd_cols])
        for c in ("block_last_doc", "block_max_tf", "block_min_dl"):
            assert [list(x) for x in got[c]] == [list(x) for x in want[c]]


@pytest.mark.parametrize("codecs", [["varint"] * 5, ["packed"] + ["varint"] * 4])
def test_kernel_rejects_corrupt_blob(codecs):
    rows = _rows(LISTS, codecs)
    blobs = rows.column("blob").to_pylist()
    blobs[3] = bytes([blobs[3][0] ^ 1]) + blobs[3][1:]
    rows = rows.set_column(5, "blob", pa.array(blobs, pa.binary()))
    with pytest.raises(ValueError, match="checksum mismatch"):
        merge.merge_rows(rows)


@pytest.mark.parametrize("lists", [
    [("a", ([1, 5], [1, 1], [2, 3])), ("a", ([5, 9], [1, 1], [3, 4]))],
    [("a", ([4, 9], [1, 1], [2, 3])), ("a", ([2, 4], [1, 1], [5, 2]))],
])
def test_kernel_rejects_doc_in_two_inputs(lists):
    """A docID in two input lists of one term (touching or out-of-order
    ranges) is refused, not encoded as a duplicate posting."""
    with pytest.raises(ValueError, match="a docID appears in two input"):
        merge.merge_rows(_rows(lists, ["varint"] * len(lists)))
