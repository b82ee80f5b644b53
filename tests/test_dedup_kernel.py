"""The near-dup band kernel (operators/dedup.py): MinHash and SimHash pairs
on the driver executor (a corpus of at most `build.DRIVER_BUILD_MAX_ROWS`
docs) and on the Spark executor (the bound monkeypatched to 0) must be
frame-identical, verify MinHash candidates on the shingle strings (never
on the colliding hashes), emit each candidate pair once, and launch the
jobs the executor allows."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import spark_jobs

from opensearch_jvector_plugin_spark import entry_queries as eq
from opensearch_jvector_plugin_spark.operators import build
from opensearch_jvector_plugin_spark.operators import dedup as dd

OPS = {
    "minhash": lambda spark, p, **kw: dd.minhash_lsh_pairs(
        spark, p, n=2, threshold=0.3, **kw),
    "minhash_low": lambda spark, p, **kw: dd.minhash_lsh_pairs(
        spark, p, n=3, threshold=0.05, **kw),
    "simhash": lambda spark, p, **kw: dd.simhash(spark, p),
    "simhash_pairs": lambda spark, p, **kw: dd.simhash_pairs(
        spark, p, max_hamming=3, **kw),
}


class _Count:
    """A plain driver-side work counter (the `counter` sink)."""

    value = 0

    def add(self, n: int) -> None:
        self.value += n


def _frame(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _sf_with_texts(tmp_path, name: str, texts: list[str]) -> str:
    sf = tmp_path / name
    sf.mkdir()
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
    }), str(sf / "documents.parquet"))
    return str(sf)


@pytest.fixture(scope="module")
def harness_toks(spark, tmp_path_factory):
    from perfbench.data import harness_tables

    sf = str(tmp_path_factory.mktemp("harness"))
    harness_tables(7, sf)
    return eq._toks_path(spark, sf)


@pytest.fixture(scope="module")
def adversarial_toks(tmp_path_factory):
    """Null and empty token lists, docs shorter than n, the Kelvin sign
    (U+212A, a non-ASCII md5 input), repeated docs; three files so the
    Spark executor sees several scan partitions."""
    words = ["alpha", "beta", "gamma", "delta", "kelvin", "Kelvin"]
    toks = [None, [], ["solo"], ["beta"], ["Kelvin", "scale"],
            ["kelvin", "scale"], ["Kelvin", "scale", "kelvin"]]
    for i in range(60):
        toks.append([words[(i * 7 + k * 3) % len(words)]
                     for k in range(3 + i % 5)])
    toks += [toks[-1]] * 3 + [["alpha", "beta", "gamma"]] * 4
    d = str(tmp_path_factory.mktemp("adversarial_toks"))
    for f in range(3):
        ids = list(range(f, len(toks), 3))
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "toks": pa.array([toks[i] for i in ids], pa.list_(pa.string())),
        }), os.path.join(d, f"part-{f}.parquet"))
    return d


@pytest.mark.parametrize("op", sorted(OPS))
@pytest.mark.parametrize("corpus", ["harness_toks", "adversarial_toks"])
def test_driver_and_spark_executors_agree(spark, request, monkeypatch, op,
                                          corpus):
    path = request.getfixturevalue(corpus)
    driver = _frame(OPS[op](spark, path))
    monkeypatch.setattr(build, "DRIVER_BUILD_MAX_ROWS", 0)
    distributed = _frame(OPS[op](spark, path))
    assert len(driver) > 0, (op, corpus)
    pd.testing.assert_frame_equal(driver, distributed)


def test_colliding_shingle_hashes_are_not_a_pair(spark, tmp_path,
                                                 monkeypatch):
    """"dup14831_x" and "dup20129_x" share a shingle hash, so the two docs
    share every MinHash band, but their shingle sets are disjoint."""
    assert dd._md5_mod(["dup14831_x", "dup20129_x"]).tolist() == [
        1769986257, 1769986257]
    sf = _sf_with_texts(tmp_path, "collide", ["dup14831 x", "dup20129 x"])
    path = eq._toks_path(spark, sf)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet'")
    assert len(con.execute(eq.SQL_DEDUP_MINHASH).df()) == 0
    counter = _Count()
    assert OPS["minhash"](spark, path, counter=counter).collect() == []
    assert counter.value == 1  # the pair was a candidate, and verified
    monkeypatch.setattr(build, "DRIVER_BUILD_MAX_ROWS", 0)
    assert OPS["minhash"](spark, path).collect() == []


@pytest.mark.parametrize("op", ["minhash", "simhash_pairs"])
def test_each_candidate_pair_is_verified_once(spark, tmp_path, monkeypatch,
                                              op):
    """300 identical docs collide in every band: the pair step's work is
    the 44,850 distinct pairs, not bands x pairs."""
    sf = _sf_with_texts(tmp_path, "same", ["alpha beta gamma delta"] * 300)
    path = eq._toks_path(spark, sf)
    count = _Count()
    assert len(OPS[op](spark, path, counter=count).collect()) == 44_850
    assert count.value == 44_850
    monkeypatch.setattr(build, "DRIVER_BUILD_MAX_ROWS", 0)
    acc = spark.sparkContext.accumulator(0)
    assert len(OPS[op](spark, path, counter=acc).collect()) == 44_850
    assert acc.value == 44_850


def test_executor_job_counts(spark, harness_toks, monkeypatch):
    for op in ("minhash", "simhash", "simhash_pairs"):
        df, jobs = spark_jobs(spark, lambda: OPS[op](spark, harness_toks))
        assert jobs == 0, op  # the driver executor, before collection
        rows, jobs = spark_jobs(spark, df.collect)
        assert len(rows) > 0 and jobs <= 1, (op, jobs)
    monkeypatch.setattr(build, "DRIVER_BUILD_MAX_ROWS", 0)
    rows, jobs = spark_jobs(
        spark, lambda: OPS["minhash"](spark, harness_toks).collect()
    )
    assert len(rows) > 0 and jobs <= 3, jobs


@pytest.mark.parametrize("max_pairs", [1, 7, 1 << 16])
def test_bucket_pairs_match_brute_force(max_pairs):
    """The band step yields exactly the doc pairs equal in some band, each
    once, for any chunk size (small ones split buckets by row blocks)."""
    rng = np.random.default_rng(max_pairs)
    for _ in range(20):
        n, n_bands = int(rng.integers(0, 120)), 4
        keys = rng.integers(0, int(rng.integers(1, 4)), size=(n, n_bands, 2))
        doc = rng.permutation(n).astype(np.int64)
        take = np.repeat(np.arange(n), n_bands)
        rows = pa.table({
            "doc_id": doc[take],
            "band_idx": np.tile(np.arange(n_bands, dtype=np.int32), n),
        })
        count = _Count()
        out = dd._bucket_pairs(
            rows, keys[take], lambda i, j: np.zeros(len(i)),
            lambda v: v == 0, pa.float64(), count, max_pairs=max_pairs,
        )
        got = sorted(zip(out["doc_a"].to_pylist(), out["doc_b"].to_pylist()))
        want = sorted(
            (min(doc[a], doc[b]), max(doc[a], doc[b]))
            for a in range(n) for b in range(a + 1, n)
            if (keys[a] == keys[b]).all(1).any()
        )
        assert got == want and count.value == len(want)
