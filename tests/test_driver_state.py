"""The driver executors of the registry's one-time state builds: the
transcript state is always built in the driver (a fixed 1,500 turns); the
tokenized corpus (`_toks`), the corpus index (`_index_for`) and the
decoded postings sidecar are built in the driver when their document
count is at most `build.DRIVER_BUILD_MAX_ROWS`. Each must write what the
Spark build writes (for the transcript state, a Spark reference built
here; for the others, the bound monkeypatched to 0), and launch no Spark
job. `state.read_parquet` infers a source's schema once per version, and
`state.write_parquet_dir` replaces what its directory held.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import spark_jobs
from test_entry_oracles import SF_DIRS

from opensearch_jvector_plugin_spark import entry_queries as eq
from opensearch_jvector_plugin_spark.operators import build, query
from opensearch_jvector_plugin_spark.plans import state


def _spark_bounds(monkeypatch):
    monkeypatch.setattr(build, "DRIVER_BUILD_MAX_ROWS", 0)


def _read_json(path):
    with open(path) as f:
        return json.load(f)


def _build_record(index_dir) -> dict:
    with open(os.path.join(index_dir, "metrics.jsonl")) as f:
        (rec,) = [r for r in map(json.loads, f) if r["job"] == "build"]
    return rec


def _sorted_frame(spark, path, keys) -> pd.DataFrame:
    return (
        state.read_parquet(spark, path).toPandas()
        .sort_values(keys).reset_index(drop=True)
    )


def _sf_copy(tmp_path, name: str, src: str | None = None) -> str:
    sf = tmp_path / name
    sf.mkdir()
    shutil.copyfile(src or os.path.join(SF_DIRS[0], "documents.parquet"),
                    str(sf / "documents.parquet"))
    return str(sf)


def _spark_transcript_state(spark) -> eq._SidecarState:
    """The transcript state as Spark builds a corpus state: Spark
    synthesis, offsets docID assignment, `build_index`, and the sidecars
    written by Spark from the same docID-assigned corpus."""
    from opensearch_jvector_plugin_spark.operators.dismax import (
        field_postings_df,
    )
    from opensearch_jvector_plugin_spark.plans.docids import assign_doc_ids
    from opensearch_jvector_plugin_spark.sources.transcripts import (
        synthesize_transcripts,
    )

    corpus = assign_doc_ids(
        synthesize_transcripts(
            spark, eq._TRANSCRIPT_N_CONVS, eq._TRANSCRIPT_TURNS
        ),
        ["conv_id", "turn_idx"],
    )
    idx_dir = state.state_dir("ojs_tidx_")
    build.build_index(corpus, idx_dir, seg_size=eq._TRANSCRIPT_SEG_SIZE)
    st = eq._SidecarState(spark, idx_dir)
    corpus.select(*eq._TRANSCRIPT_ATTRS).write.parquet(
        os.path.join(st.dir, "attrs")
    )
    field_postings_df(
        corpus, [n for n, _b in eq.MULTI_MATCH_FIELDS]
    ).write.parquet(os.path.join(st.dir, "field_postings"))
    corpus._ojs_persisted.unpersist()
    return st


@pytest.fixture(scope="module")
def transcript_states(spark):
    """(driver-built, Spark-built) transcript states and the jobs the
    driver build launched."""
    local, jobs = spark_jobs(spark, lambda: eq._build_transcript_state(spark))
    mp = pytest.MonkeyPatch()
    _spark_bounds(mp)
    try:
        dist = _spark_transcript_state(spark)
    finally:
        mp.undo()
    return local, dist, jobs


def test_transcript_state_build_launches_no_job(transcript_states):
    _local, _dist, jobs = transcript_states
    assert jobs == 0


def test_transcript_state_index_matches_spark_build(transcript_states):
    local, dist, _ = transcript_states
    segs = sorted(os.listdir(os.path.join(dist.idx_dir, "segments")))
    assert segs == sorted(os.listdir(os.path.join(local.idx_dir, "segments")))
    assert len(segs) == 5
    for seg in segs:
        rel = os.path.join("segments", seg, "postings.parquet")
        with open(os.path.join(local.idx_dir, rel), "rb") as a, \
                open(os.path.join(dist.idx_dir, rel), "rb") as b:
            assert a.read() == b.read(), seg
    for side in (local, dist):
        assert state.source_key(side.dict_path)
    pd.testing.assert_frame_equal(
        pq.read_table(local.dict_path).to_pandas().sort_values("term")
        .reset_index(drop=True),
        pq.read_table(dist.dict_path).to_pandas().sort_values("term")
        .reset_index(drop=True),
    )

    def stats(side):
        s = _read_json(os.path.join(side.idx_dir, "stats.json"))
        s.pop("build_ms_total")
        return s

    assert stats(local) == stats(dist)
    assert local.stats == dist.stats
    assert _build_record(local.idx_dir)["executor"] == "driver"
    assert _build_record(dist.idx_dir)["executor"] == "spark"


@pytest.mark.parametrize("name,keys", [
    ("attrs", ["doc_id"]),
    ("postings", ["doc_id", "term"]),
    ("field_postings", ["doc_id", "field", "term"]),
])
def test_transcript_sidecars_match_spark_build(spark, transcript_states,
                                               name, keys):
    local, dist, _ = transcript_states
    got = local.read(spark, name)
    want = dist.read(spark, name)
    assert got.schema == want.schema
    assert len(os.listdir(os.path.join(local.dir, name))) == 1
    g = _sorted_frame(spark, os.path.join(local.dir, name), keys)
    w = _sorted_frame(spark, os.path.join(dist.dir, name), keys)
    pd.testing.assert_frame_equal(g, w)
    if name == "attrs":
        assert dict(got.dtypes)["ts"] == "timestamp"
        assert str(g["ts"].dtype) == "datetime64[ns]"
        # The first turn of the first conversation: 2024-01-01T00:00Z.
        assert str(g["ts"].iloc[0]) == "2024-01-01 00:00:00"
        assert g["tool"].isna().any()


def _unicode_docs(path: str) -> None:
    texts = [
        "\u212aelvin \u212a and DOTTED \u0130stanbul",
        None,
        "",
        "plain text, TEXT; text",
        "\u212a\u212a \u0130\u0130 caf\u00e9 na\u00efve",
        "123 abc9 ---",
    ] * 5
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
    }), path)


def test_toks_matches_spark_build(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "src.parquet")
    _unicode_docs(src)
    local_sf = _sf_copy(tmp_path, "local", src)
    dist_sf = _sf_copy(tmp_path, "dist", src)
    local, jobs = spark_jobs(spark, lambda: eq._toks(spark, local_sf))
    assert jobs == 0
    _spark_bounds(monkeypatch)
    dist, jobs = spark_jobs(spark, lambda: eq._toks(spark, dist_sf))
    assert jobs > 0
    assert local.schema == dist.schema
    assert local.schema.simpleString() == \
        "struct<doc_id:bigint,toks:array<string>,dl:int>"
    g, w = local.toPandas(), dist.toPandas()
    for f in (g, w):
        f["toks"] = f["toks"].map(list)
    pd.testing.assert_frame_equal(g, w)
    assert g["toks"].iloc[0] == ["kelvin", "k", "and", "dotted", "istanbul"]
    assert g["toks"].iloc[1] == [] and g["toks"].iloc[2] == []
    assert g["toks"].iloc[4] == ["kk", "ii", "caf", "na", "ve"]


def test_index_for_matches_spark_build(spark, tmp_path, monkeypatch):
    local_sf = _sf_copy(tmp_path, "local")
    dist_sf = _sf_copy(tmp_path, "dist")
    local, jobs = spark_jobs(spark, lambda: eq._index_for(spark, local_sf))
    assert jobs == 0
    _spark_bounds(monkeypatch)
    dist, jobs = spark_jobs(spark, lambda: eq._index_for(spark, dist_sf))
    assert jobs > 0

    def crcs(d):
        return {s: m["crc"] for s, m in build.committed_segments(d).items()}

    assert len(crcs(local)) == 8
    assert crcs(local) == crcs(dist)
    # The build record names the executor that encoded the segments.
    lr, dr = _build_record(local), _build_record(dist)
    assert (lr["executor"], dr["executor"]) == ("driver", "spark")
    assert lr["segments_built"] == dr["segments_built"] == 8


def test_decoded_postings_executors_agree(spark, tmp_path, monkeypatch):
    idx = eq._index_for(spark, SF_DIRS[0])
    local, dist = str(tmp_path / "local"), str(tmp_path / "dist")
    _, jobs = spark_jobs(
        spark, lambda: query.write_decoded_postings(spark, idx, local)
    )
    assert jobs == 0
    _spark_bounds(monkeypatch)
    _, jobs = spark_jobs(
        spark, lambda: query.write_decoded_postings(spark, idx, dist)
    )
    assert jobs > 0
    assert state.read_parquet(spark, local).schema.simpleString() == \
        spark.read.parquet(dist).schema.simpleString() == \
        "struct<doc_id:bigint,dl:int,term:string,tf:int>"
    pd.testing.assert_frame_equal(
        _sorted_frame(spark, local, ["doc_id", "term"]),
        _sorted_frame(spark, dist, ["doc_id", "term"]),
    )


def test_read_parquet_infers_once_per_source_version(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    first, jobs = spark_jobs(spark, lambda: state.read_parquet(spark, path))
    assert jobs == 0  # the footer schema: no inference job
    again, jobs = spark_jobs(spark, lambda: state.read_parquet(spark, path))
    assert jobs == 0 and again.schema == first.schema
    assert [r.a for r in again.collect()] == [1, 2]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    changed = state.read_parquet(spark, path)
    assert changed.schema.simpleString() == "struct<a:bigint,b:string>"
    assert [tuple(r) for r in changed.collect()] == [(3, "x")]


def test_write_parquet_dir_replaces_the_directory(spark, tmp_path):
    path = str(tmp_path / "side")
    spark.range(6).repartition(3).write.parquet(path)
    assert len([n for n in os.listdir(path) if n.endswith(".parquet")]) > 1
    state.write_parquet_dir(pa.table({"b": ["x", "y"]}), path)
    (only,) = os.listdir(path)
    assert only.startswith("part-") and only.endswith(".parquet")
    got, jobs = spark_jobs(spark, lambda: state.read_parquet(spark, path))
    assert jobs == 0
    assert got.schema.simpleString() == "struct<b:string>"
    assert sorted(r.b for r in got.collect()) == ["x", "y"]
    # A same-content rewrite gets a fresh name, so a new fingerprint.
    state.write_parquet_dir(pa.table({"b": ["x", "y"]}), path)
    assert os.listdir(path) != [only] and len(os.listdir(path)) == 1


def test_footer_schema_is_sparks_and_first_read_launches_no_job(
    spark, tmp_path, monkeypatch
):
    """`state.footer_schema` equals Spark's inferred schema for the harness
    tables, the test-data tables and the registry sidecars (driver- and
    Spark-written), so a first `read_parquet` launches no job."""
    import glob

    from perfbench.data import harness_tables

    sf = SF_DIRS[0]
    corpus, transcripts = eq._corpus_state(spark, sf), eq._transcript_state(
        spark
    )
    paths = [
        *harness_tables(7, str(tmp_path / "harness")).values(),
        *(p for d in SF_DIRS for p in sorted(glob.glob(f"{d}/*.parquet"))),
        eq._toks_path(spark, sf),
        os.path.join(corpus.dir, "postings"),
        corpus.dict_path,
        os.path.join(transcripts.dir, "attrs"),
        os.path.join(transcripts.dir, "field_postings"),
    ]
    _spark_bounds(monkeypatch)
    paths.append(eq._toks_path(spark, _sf_copy(tmp_path, "spark_toks")))
    for p in paths:
        assert state.footer_schema(spark, p) == spark.read.parquet(p).schema, p
        state._MEMO.pop(("parquet_schema", p), None)
        _df, jobs = spark_jobs(spark, lambda: state.read_parquet(spark, p))
        assert jobs == 0, p
