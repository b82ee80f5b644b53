"""plans/state.py — the fingerprint-keyed memo and the one term-df reader —
and the registry state built on them: a rewritten source re-derives its
state, a dictionary over the driver threshold takes the distributed scan,
and the positional-query sidecar scan keeps splits it already has."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import spark_jobs
from test_entry_oracles import SF_DIRS, normalize

from opensearch_jvector_plugin_spark import entry_queries as eq
from opensearch_jvector_plugin_spark.operators import phrase, query
from opensearch_jvector_plugin_spark.plans import state


def _write_dict(path, terms, dfs):
    pq.write_table(pa.table({"term": terms, "df": dfs}), path)


def test_memo_rebuilds_when_source_changes(tmp_path):
    f = str(tmp_path / "src.parquet")
    _write_dict(f, ["a"], [1])
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    assert state.memo("test", "k", [f], build) == 1
    assert state.memo("test", "k", [f], build) == 1
    _write_dict(f, ["a", "b"], [1, 2])
    assert state.memo("test", "k", [f], build) == 2
    assert state.memo("test", "k", [f], build) == 2
    # Another key over the same source is its own entry.
    assert state.memo("test", "other", [f], build) == 3


def test_source_key_covers_directory_parquet_files(tmp_path):
    d = tmp_path / "dict"
    d.mkdir()
    _write_dict(str(d / "part-0.parquet"), ["a"], [1])
    (d / "_SUCCESS").write_text("")
    key = state.source_key(str(d))
    assert [n for n, _s, _m in key] == ["part-0.parquet"]
    _write_dict(str(d / "part-1.parquet"), ["b"], [2])
    assert state.source_key(str(d)) != key


def test_term_df_map_size_guard_and_invalidation(tmp_path, monkeypatch):
    d = tmp_path / "dict"
    d.mkdir()
    _write_dict(str(d / "part-0.parquet"), ["a", "b"], [3, 1])
    assert state.term_df_map(str(d)) == {"a": 3, "b": 1}
    _write_dict(str(d / "part-0.parquet"), ["a", "b", "c"], [4, 1, 2])
    assert state.term_df_map(str(d)) == {"a": 4, "b": 1, "c": 2}
    monkeypatch.setattr(state, "DICT_DRIVER_MAX_BYTES", 0)
    assert state.term_df_map(str(d)) is None
    assert state.term_df_map(str(tmp_path / "missing")) is None


def test_rewritten_documents_rederive_corpus_state(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    docs = str(sf / "documents.parquet")
    shutil.copyfile(os.path.join(SF_DIRS[0], "documents.parquet"), docs)
    before = normalize(eq.q_bm25_topk(spark, str(sf)).toPandas())

    pdf = pd.read_parquet(docs)
    # Every doc takes its neighbour's text; even docs gain query terms.
    pdf["text"] = np.roll(pdf["text"].to_numpy(), 1)
    pdf.loc[pdf["doc_id"] % 2 == 0, "text"] += " customer spark join"
    pdf.to_parquet(docs, index=False)

    got = normalize(eq.q_bm25_topk(spark, str(sf)).toPandas())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    want = normalize(con.execute(eq.ORACLES["bm25_topk"]).df())
    assert not got.equals(before)
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    np.testing.assert_allclose(
        got["score"].to_numpy(float), want["score"].to_numpy(float),
        rtol=0, atol=1.5e-6,
    )
    for c in ("query_id", "rank", "doc_id"):
        assert got[c].tolist() == want[c].tolist(), c


@pytest.fixture
def lookup_jobs(spark, monkeypatch):
    """Spark jobs launched by each lookup_term_dfs call, in call order."""
    orig = query.lookup_term_dfs
    counts: list[int] = []

    def counted(*a, **kw):
        out, jobs = spark_jobs(spark, lambda: orig(*a, **kw))
        counts.append(jobs)
        return out

    for mod in (query, eq, phrase):
        monkeypatch.setattr(mod, "lookup_term_dfs", counted)
    return counts


@pytest.mark.parametrize(
    "name",
    ["bm25_topk", "bm25_synonyms", "bm25_boolean", "transcript_bm25_indexed",
     "bm25_phrase_indexed", "bm25_msm_indexed", "bm25_boolean_indexed"],
)
def test_large_dict_takes_distributed_scan(
    name, spark, monkeypatch, lookup_jobs
):
    fn = eq.QUERIES[name]
    # The indexed phrase query makes one dictionary lookup for all its
    # phrase terms, on either path.
    one_lookup = name == "bm25_phrase_indexed"
    driver = normalize(fn(spark, SF_DIRS[0]).toPandas())
    assert lookup_jobs and not any(lookup_jobs)
    assert not one_lookup or len(lookup_jobs) == 1
    lookup_jobs.clear()
    monkeypatch.setattr(state, "DICT_DRIVER_MAX_BYTES", 0)
    scanned = normalize(fn(spark, SF_DIRS[0]).toPandas())
    assert lookup_jobs and all(lookup_jobs)
    assert not one_lookup or len(lookup_jobs) == 1
    pd.testing.assert_frame_equal(driver, scanned)


def test_toks_parallel_keeps_a_scan_with_enough_splits(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism

    def sidecar(n_files: int) -> str:
        path = str(tmp_path / f"state{n_files}" / "toks")
        (
            spark.range(0, 400)
            .selectExpr("id AS doc_id", "array('a', 'b') AS toks", "2 AS dl")
            .repartition(n_files)
            .write.parquet(path)
        )
        return path

    def plan(path) -> str:
        df = eq._spread_scan(spark, path, parallel=True)
        return df._jdf.queryExecution().executedPlan().toString()

    many = sidecar(2 * par)
    assert spark.read.parquet(many).rdd.getNumPartitions() >= par
    assert "RoundRobinPartitioning" not in plan(many)
    assert "RoundRobinPartitioning" in plan(sidecar(1))


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_corpus_state_decodes_the_source_relation(spark, sf_dir):
    """The corpus state is a view of the segment index: its decoded
    postings sidecar is exactly postings_df of the documents, and its
    stats are the Spark count / avg(dl) of the tokenized source."""
    from pyspark.sql import functions as F

    from opensearch_jvector_plugin_spark.functions.tokenizer import (
        tokenize_col,
    )
    from opensearch_jvector_plugin_spark.plans.stats import postings_df

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    st = eq._corpus_state(spark, sf_dir)
    got = st.read(spark, "postings")
    want = postings_df(docs)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert got.schema.simpleString() == (
        "struct<doc_id:bigint,dl:int,term:string,tf:int>"
    )
    got_rows, want_rows = got.collect(), want.collect()
    assert len(got_rows) == len(set(got_rows))
    assert set(got_rows) == set(want_rows)
    assert len(got_rows) == len(want_rows)

    row = docs.select(
        F.count("*").alias("n"),
        F.avg(F.size(tokenize_col("text")).cast("double")).alias("avgdl"),
    ).collect()[0]
    assert st.stats.n_docs == row["n"]
    assert st.stats.avgdl == row["avgdl"]


def test_one_index_build_per_documents_version(spark, tmp_path, monkeypatch):
    """bm25_topk's state, the indexed top-k and the indexed phrase query
    share one segment index over a fresh sf_dir."""
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        os.path.join(SF_DIRS[0], "documents.parquet"),
        str(sf / "documents.parquet"),
    )
    builds = []

    def spy(entry, dir_arg):
        orig = getattr(eq, entry)

        def spied(*a, **kw):
            builds.append(a[dir_arg])
            return orig(*a, **kw)

        monkeypatch.setattr(eq, entry, spied)

    # Either build executor: the Spark build or the driver build entry.
    spy("build_index", 1)
    spy("build_index_local", 0)
    seen = []
    for name in ("bm25_topk", "bm25_topk_indexed", "bm25_phrase_indexed"):
        eq.QUERIES[name](spark, str(sf)).collect()
        seen.append(len(builds))
    # The first query's corpus state is the build; the others reuse it.
    assert seen == [1, 1, 1]
    assert eq._corpus_state(spark, str(sf)).idx_dir == builds[0]


def test_state_dirs_are_removed_at_exit(tmp_path):
    """Every derived-state directory sits under one per-process root,
    and the exit hook removes the root with everything under it."""
    code = (
        "import os\n"
        "from opensearch_jvector_plugin_spark.plans import state\n"
        "a, b = state.state_dir('ojs_idx_'), state.state_dir('ojs_state_')\n"
        "open(os.path.join(a, 'part.parquet'), 'w').write('x')\n"
        "assert os.path.dirname(a) == os.path.dirname(b) == state._STATE_ROOT\n"
        "print(state._STATE_ROOT, a, b)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True, text=True, check=True,
    )
    root, a, b = out.stdout.split()
    assert os.path.dirname(root) == str(tmp_path)
    for d in (root, a, b):
        assert not os.path.exists(d), d


def test_neardup_block_store_is_removed_at_exit(tmp_path):
    """embedding_near_dup_pairs with no work_dir keeps its block store
    under the per-process state root, so the process leaves none behind."""
    code = (
        "import os\n"
        "from opensearch_jvector_plugin_spark.operators.dedup import "
        "embedding_near_dup_pairs\n"
        "from opensearch_jvector_plugin_spark.plans import state\n"
        "from opensearch_jvector_plugin_spark.session import get_spark\n"
        "spark = get_spark(cores=1, app_name='ojs-neardup-exit')\n"
        "emb = spark.createDataFrame([(1, [1.0, 0.0]), (2, [2.0, 0.0]), "
        "(3, [0.0, 1.0])], 'vec_id LONG, embedding ARRAY<DOUBLE>')\n"
        "pairs = embedding_near_dup_pairs(emb, threshold=0.99).collect()\n"
        "assert [(r.doc_a, r.doc_b) for r in pairs] == [(1, 2)], pairs\n"
        "assert [n for n in os.listdir(state._STATE_ROOT)\n"
        "        if n.startswith('ojs_neardup_')]\n"
        "print(state._STATE_ROOT)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=dict(os.environ, TMPDIR=str(tmp_path), SPARK_DRIVER_MEM="1g"),
        capture_output=True, text=True,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    root = out.stdout.split()[-1]
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
    left = [n for _dir, subdirs, _files in os.walk(tmp_path)
            for n in subdirs if n.startswith("ojs_")]
    assert left == []
