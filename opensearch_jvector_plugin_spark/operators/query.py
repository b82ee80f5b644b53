"""Index query path: batched BM25 top-k over a built segment index.

Spark trace of the reference's search lifecycle (SURVEY.md §3.1): queries ->
broadcast corpus stats -> term-pruned postings scan -> per-segment kernel
(MaxScore with bounded heap) -> global top-k reduce.

Scale properties:
- The postings scan is filtered by `term isin (query terms)` — a Parquet
  predicate pushdown, so a 100 TB index reads only the row groups containing
  query terms (plus dictionary pages). Same for the global dict lookup.
- Two executors, chosen once per call from one bound (the reference
  searches segments inside the shard process; KNNConcurrentSearchRequest
  Decider picks how). A call whose terms' sum(df) is at most
  `LOCAL_SERVE_POSTINGS` (the postings the driver reads and decodes, so
  also its memory) runs in the driver: a pyarrow term-filtered read, the
  per-segment body per segment, the global reduce in pandas and a local
  result frame — no Spark job. Any other call (more postings, or a
  dictionary over the driver-read size) runs as Spark jobs over the
  fixed-schema scan.
- On Spark, query weights/stats travel to executors as one small broadcast
  (the QuantizationStateCache analog).
- Per-segment top-k uses k' = k: exact for the global reduce (per-segment
  heaps -> union -> rank), the ResultUtil.reduceToTopK shape.
- Pre-filter semantics: an optional set of allowed docIDs is applied inside
  the kernel (acceptDocs, JVectorReader.java:128), never after the heap —
  so a filtered query still returns k results when k matches exist.

One serving path (`_serve_segments`), like the reference's one
`JVectorReader.search`: it picks merged vs raw segments and the executor,
runs the term-pruned read, hands the compiled queries with the acceptDocs
and liveDocs arrays to one per-segment body (`_segment_kernel`) that
decodes each segment's postings once for the batch, and applies the global
reduce (pandas or a Spark window, side by side). Every index-served text
query is one per-query body run there: MaxScore top-k (`search_weighted`),
radial min_score (`search_min_score`), gated full scoring
(`indexed_text.search_weighted_all`) and conjunctive phrase candidates
(`phrase.search_phrase`).
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.bm25 import bm25_idf_py
from ..functions.tokenizer import tokenize_text
from ..plans.state import term_df_map
from .build import POSTINGS_SPARK_SCHEMA
from .codec import decode_postings, decode_postings_batch
from .wand import _tf_norm_np, maxscore_topk, minscore_all, term_upper_bound

RESULT_SCHEMA = "query_id INT, doc_id LONG, score DOUBLE"
RANKED_SCHEMA = "query_id INT, rank INT, doc_id LONG, score DOUBLE"

# A `_serve_segments` call whose terms' sum(df) is at most this many
# postings runs in the driver: the same per-segment body over a pyarrow
# term-filtered read, the global reduce in pandas, and a local result
# frame, so it launches no Spark job. sum(df) is the rows the driver reads
# and decodes (each term once per segment, whatever the batch size), so it
# bounds driver memory. Measured crossover (scripts/serve_crossover.py: 4
# cores, warm, aligned 5-segment indexes of 30k and 300k turns,
# search().collect(), median of 3): every measured call up to sum(df) 5.3M
# ran faster in the driver (one query at 5.3M: 1.44 s against 1.94 s on
# Spark; 100 queries at 4.8M: 1.24 s against 2.35 s; 4000 queries at 1.19M:
# 4.83 s against 5.52 s), and Spark won from 500 queries at 8.0M (3.34 s
# against 3.93 s), its per-segment parallelism beating the driver's one
# thread. The bound is the power of two under the last driver win.
LOCAL_SERVE_POSTINGS = 1 << 22

# Mirror of the reference's K_MAX validation (KNNQueryBuilder.java:82,
# 254-257: k must be in (0, 10000]).
K_MAX = 10_000


def _check_ks(ks: dict[int, int]) -> None:
    for qid, k in ks.items():
        if k <= 0 or k > K_MAX:
            raise ValueError(
                f"query {qid}: k must be in (0, {K_MAX}], got {k}"
            )


@dataclass
class IndexHandle:
    index_dir: str
    n_docs: int
    avgdl: float
    n_segments: int

    @property
    def segments_path(self) -> str:
        return os.path.join(self.index_dir, "segments")

    @property
    def merged_path(self) -> str:
        return os.path.join(self.index_dir, "merged")

    @property
    def dict_path(self) -> str:
        return os.path.join(self.index_dir, "dict")

    def has_merged(self) -> bool:
        return os.path.exists(
            os.path.join(self.index_dir, "merged_manifest.json")
        )

    def deleted(self) -> "np.ndarray":
        """Sorted deleted docIDs (the liveDocs analog) — read fresh per
        call so a delete is visible to the next search on an existing
        handle, like a Lucene reader refresh."""
        from .deletes import deleted_docs

        return deleted_docs(self.index_dir)

    def merged_is_current(self) -> bool:
        """A merge is stale once streaming appends add segments it never
        saw; serving it would silently drop the new docs."""
        if not self.has_merged():
            return False
        with open(os.path.join(self.index_dir, "merged_manifest.json")) as f:
            manifest = json.load(f)
        from .build import committed_segments

        return set(manifest["input_segments"]) == set(
            committed_segments(self.index_dir)
        )


def load_index(index_dir: str) -> IndexHandle:
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    return IndexHandle(
        index_dir=index_dir,
        n_docs=int(stats["n_docs"]),
        avgdl=float(stats["avgdl"]),
        n_segments=int(stats["n_segments"]),
    )


def lookup_term_dfs(
    spark: SparkSession, dict_path: str, terms: list[str]
) -> dict[str, int]:
    """term -> global df from the (term, df) parquet at `dict_path`, for the
    terms that exist. Cost-switched (the FilterIdsSelector.java:78-109
    discipline, round 7): a small dictionary is loaded once per process
    driver-side (plans/state.term_df_map) — no Spark job per query batch,
    the dominant fixed cost of the batched-query path (measured 0.46s of a
    1.8s 200-query batch) — while a large dictionary keeps the distributed
    term-pruned scan."""
    full = term_df_map(dict_path)
    if full is not None:
        return {t: full[t] for t in terms if t in full}

    dict_df = spark.read.parquet(dict_path)
    if len(terms) <= 64:
        # Few terms: the In() predicate pushes into the Parquet scan (row
        # groups without the terms are skipped entirely).
        lookup = dict_df.where(F.col("term").isin(list(terms)))
    else:
        # Many terms: a giant In() is slow to evaluate; broadcast-join the
        # term list instead (the FilterIdsSelector bitmap-vs-id-array
        # cardinality switch, FilterIdsSelector.java:78-109).
        terms_df = spark.createDataFrame([(t,) for t in terms],
                                         "term STRING")
        lookup = dict_df.join(F.broadcast(terms_df), "term")
    df_rows = lookup.select("term", "df").collect()
    return {r["term"]: int(r["df"]) for r in df_rows}


def _query_weights(
    spark: SparkSession, index: IndexHandle, queries: pd.DataFrame
) -> tuple[dict[int, dict[str, float]], dict[int, int], list[str]]:
    """Driver-side query compile: tokenize, global-df lookup (term-pruned
    dict scan), idf -> per-query term weights. Queries are small by contract
    (k <= K_MAX, few thousand queries) so this is cheap."""
    qtfs: dict[int, Counter] = {
        int(q.query_id): Counter(tokenize_text(q.query_text))
        for q in queries.itertuples(index=False)
    }
    ks = (
        {int(q.query_id): int(q.k) for q in queries.itertuples(index=False)}
        if "k" in queries.columns
        else {}
    )
    _check_ks(ks)
    all_terms = sorted({t for c in qtfs.values() for t in c})
    if not all_terms:
        return {qid: {} for qid in qtfs}, ks, []

    global_df = lookup_term_dfs(spark, index.dict_path, all_terms)
    weights = {
        qid: {
            t: float(c) * bm25_idf_py(global_df[t], index.n_docs)
            for t, c in qtf.items()
            if t in global_df
        }
        for qid, qtf in qtfs.items()
    }
    present_terms = sorted({t for w in weights.values() for t in w})
    return weights, ks, present_terms


def _segment_granularity(
    spark: SparkSession, postings: DataFrame, index: IndexHandle
) -> DataFrame:
    """Set the query-kernel stage's task granularity to ~one segment — but
    only when the index actually has more segments than the default shuffle
    layout can spread.

    Measured history (BENCH.md): with the default 2x-cores shuffle
    partitions, MANY segments (128) hash into few coarse tasks and the
    stage inherits multinomial imbalance (~0.63-0.68 scaling efficiency);
    an explicit hash repartition at segment count fixed that (0.92-0.99,
    363 QPS at local[8]). But unconditionally raising the count to
    2x-parallelism regressed the FEW-segment case ~9% at local[32]
    (BENCH_r02 query_qps 82.2 -> 74.7, an 8-segment index shattered into 64
    mostly-empty tasks and pinned past AQE coalescing). Parallelism on a
    few-segment index is capped at n_segments either way (one group = one
    kernel task), so the repartition only pays when n_segments is large
    relative to the parallelism — exactly the regime where it was measured
    to matter. The explicit repartition satisfies the groupBy's required
    distribution (no second exchange) and AQE honors the explicit count."""
    par = spark.sparkContext.defaultParallelism
    n_part = min(index.n_segments, 4096)
    if n_part >= 2 * par:
        return postings.repartition(n_part, "seg_id")
    return postings


def _filter_terms(spark: SparkSession, postings: DataFrame, terms) -> DataFrame:
    """Cardinality-switched term filter on the postings scan — the
    FilterIdsSelector.java:78-109 cost-model discipline, applied to the
    DRIVER this time: a small In() pushes into the parquet scan (row-group
    pruning), but CONSTRUCTING a multi-thousand-literal In() costs seconds
    of serial driver time (measured at 5000 terms: 3.3 s py4j literal
    conversion + 2.2 s optimizer InSet rewrite — BENCH.md round 4), a
    fixed cost that caps batched-query scaling efficiency no matter how
    many executors run the scan. Large term lists broadcast-join instead:
    one createDataFrame call, a broadcast hash join executor-side, and the
    postings never shuffle. The parquet range pushdown lost by not using
    In() is negligible for large lists (their min..max spans the scan)."""
    terms = list(terms)
    if len(terms) <= 64:
        return postings.where(F.col("term").isin(terms))
    terms_df = spark.createDataFrame([(t,) for t in terms], "term STRING")
    return postings.join(F.broadcast(terms_df), "term")


def decode_segment_postings(pdf: pd.DataFrame) -> dict[str, tuple]:
    """Decode one segment's (term-pruned) posting rows into
    term -> (doc_ids sorted asc, tfs, dls). Each term decodes once (terms
    are shared across the query batch); all-varint segments decode in ONE
    vectorized pass over the concatenated blobs."""
    decoded: dict[str, tuple] = {}
    codecs = (
        pdf["codec"].to_numpy()
        if "codec" in pdf.columns
        else np.ones(len(pdf), dtype=np.int64)
    )
    if (codecs == 1).all() and len(pdf):
        lists = decode_postings_batch(
            list(pdf["blob"]), pdf["df"].to_numpy(),
            pdf["checksum"].to_numpy(),
        )
        for term, dec in zip(pdf["term"], lists):
            decoded[term] = (dec.doc_ids, dec.tfs, dec.dls)
    else:
        for r in pdf.itertuples(index=False):
            dec = decode_postings(
                r.blob, int(r.df), int(r.tf_offset), int(r.dl_offset),
                int(r.checksum), codec=int(getattr(r, "codec", 1)),
            )
            decoded[r.term] = (dec.doc_ids, dec.tfs, dec.dls)
    return decoded


# The columns of a decoded postings sidecar (plans.stats.postings_df).
DECODED_POSTINGS_SCHEMA = "doc_id LONG, dl INT, term STRING, tf INT"
_DECODED_POSTINGS_ARROW = pa.schema([
    ("doc_id", pa.int64()), ("dl", pa.int32()), ("term", pa.string()),
    ("tf", pa.int32()),
])


def _decode_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, dl, term, tf) of postings rows (term, df, checksum, blob):
    one flat varint decode of their blobs."""
    dfs = pdf["df"].to_numpy()
    lists = decode_postings_batch(
        list(pdf["blob"]), dfs, pdf["checksum"].to_numpy()
    )
    return pd.DataFrame({
        "doc_id": np.concatenate([p.doc_ids for p in lists]),
        "dl": np.concatenate([p.dls for p in lists]).astype("i4"),
        "term": np.repeat(pdf["term"].to_numpy(), dfs),
        "tf": np.concatenate([p.tfs for p in lists]).astype("i4"),
    })


def write_decoded_postings(spark: SparkSession, index_dir: str, out: str) -> None:
    """Write the flat (doc_id, dl, term, tf) postings of an index's
    segments to `out`: `plans.stats.postings_df` of the indexed corpus
    (tombstones not applied), decoded from the build's varint blobs — no
    tokenize, no shuffle.

    Two executors, chosen by the bound of the driver state builds: when
    the manifests count at most `build.DRIVER_BUILD_MAX_ROWS` documents,
    the driver decodes a pyarrow read and writes one parquet file;
    otherwise one mapInPandas pass over the fixed-schema scan."""
    from ..plans.state import write_parquet_dir
    from . import build

    n_docs = sum(
        m["n_docs"] for m in build.committed_segments(index_dir).values()
    )
    segments = os.path.join(index_dir, "segments")
    cols = ["term", "df", "checksum", "blob"]
    if n_docs <= build.DRIVER_BUILD_MAX_ROWS:
        table = ds.dataset(
            segments, format="parquet", partitioning="hive"
        ).to_table(columns=cols)
        write_parquet_dir(pa.Table.from_pandas(
            _decode_rows(table.to_pandas()),
            schema=_DECODED_POSTINGS_ARROW, preserve_index=False,
        ) if table.num_rows else _DECODED_POSTINGS_ARROW.empty_table(), out)
        return

    def decode(batches):
        for pdf in batches:
            if len(pdf):
                yield _decode_rows(pdf)

    spark.read.schema(POSTINGS_SPARK_SCHEMA).parquet(segments).select(
        *cols
    ).mapInPandas(decode, DECODED_POSTINGS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(out)


class _Segment:
    """One segment's term-pruned postings as every per-query body sees
    them, decoded once for the whole batch (terms are shared across
    queries). `allowed` is the acceptDocs pre-filter and `denied` the
    liveDocs deleted set, both sorted docIDs or None."""

    def __init__(self, pdf: pd.DataFrame, avgdl: float, allowed, denied):
        self.pdf = pdf
        self.avgdl = avgdl
        self.allowed = allowed
        self.denied = denied
        self.decoded = decode_segment_postings(pdf)
        # term -> tf_norm array, shared by every query of the batch (the
        # MaxScore kernels fill it through their tf_norm_cache argument).
        self.norm_cache: dict[str, np.ndarray] = {}
        self._ub_base: dict[str, float] | None = None

    def norm(self, t: str) -> np.ndarray:
        arr = self.norm_cache.get(t)
        if arr is None:
            _doc, tf, dl = self.decoded[t]
            arr = _tf_norm_np(tf, dl, self.avgdl)
            self.norm_cache[t] = arr
        return arr

    def live(self, docs: np.ndarray) -> np.ndarray:
        """liveDocs mask over sorted docIDs: False where tombstoned
        (operators/deletes.py contract; sorted-array membership)."""
        if self.denied is None:
            return np.ones(len(docs), dtype=bool)
        m = np.searchsorted(self.denied, docs)
        m[m == len(self.denied)] = 0
        return self.denied[m] != docs

    def maxscore_inputs(self, wmap: dict[str, float]):
        """(postings, weights, upper bounds) of the query's terms present
        in this segment — the MaxScore kernels' inputs — or None when none
        is. The idf-free block-max bound of each term is computed once per
        segment and scaled by each query's weight."""
        tp = {t: self.decoded[t] for t in wmap if t in self.decoded}
        if not tp:
            return None
        if self._ub_base is None:
            pdf = self.pdf
            self._ub_base = {
                t: term_upper_bound(
                    1.0, np.asarray(btf, dtype=np.int64),
                    np.asarray(bdl, dtype=np.int64), self.avgdl,
                )
                for t, btf, bdl in zip(
                    pdf["term"], pdf["block_max_tf"], pdf["block_min_dl"]
                )
            }
        tw = {t: wmap[t] for t in tp}
        return tp, tw, {t: tw[t] * self._ub_base[t] for t in tp}


def _segment_kernel(per_query, avgdl: float):
    """The per-segment body both executors run: `run(pdf, (payload,
    allowed, denied))` decodes one segment's term-pruned postings once and
    runs `per_query` for every query of the payload over it."""

    def run(pdf: pd.DataFrame, ctx) -> pd.DataFrame:
        queries, allowed, denied = ctx
        seg = _Segment(pdf, avgdl, allowed, denied)
        out_q, out_d, out_s = [], [], []
        for qid, q in queries.items():
            hit = per_query(qid, q, seg)
            if hit is not None and len(hit[0]):
                out_q.append(np.full(len(hit[0]), qid, dtype=np.int32))
                out_d.append(hit[0])
                out_s.append(hit[1])
        if not out_q:
            return _no_rows()
        return pd.DataFrame({"query_id": np.concatenate(out_q),
                             "doc_id": np.concatenate(out_d),
                             "score": np.concatenate(out_s)})

    return run


def _no_rows() -> pd.DataFrame:
    """An empty RESULT_SCHEMA-typed frame."""
    return pd.DataFrame({"query_id": np.empty(0, dtype=np.int32),
                         "doc_id": np.empty(0, dtype=np.int64),
                         "score": np.empty(0, dtype=np.float64)})


def _serves_locally(index: IndexHandle, terms) -> bool:
    """The executor choice: the driver when the dictionary is driver-sized
    and sum(df of the terms), the postings the driver reads and decodes,
    is at most LOCAL_SERVE_POSTINGS."""
    dfs = term_df_map(index.dict_path)
    return dfs is not None and (
        sum(dfs.get(t, 0) for t in terms) <= LOCAL_SERVE_POSTINGS
    )


def _rank_local(rows: pd.DataFrame, rank, tie_epsilon: float) -> pd.DataFrame:
    """The global reduce in pandas, row for row the same as `_rank_spark`."""
    rows = rows.sort_values(
        ["query_id", "score", "doc_id"], ascending=[True, False, True],
        kind="stable",
    )
    rows["rank"] = (rows.groupby("query_id").cumcount() + 1).astype(np.int32)
    if rank is not True:
        k = rows["query_id"].map(rank)
        keep = rows["rank"] <= k
        if tie_epsilon > 0.0:
            kth = rows["score"].where(rows["rank"] == k).groupby(
                rows["query_id"]
            ).transform("max")
            keep |= rows["score"] >= kth - tie_epsilon
        rows = rows[keep]
    return rows[["query_id", "rank", "doc_id", "score"]]


def _rank_spark(
    spark: SparkSession, rows: DataFrame, rank, tie_epsilon: float
) -> DataFrame:
    """The global reduce as a Spark window: rank by (score desc, doc_id
    asc) per query, then cut at each query's k (`rank` a qid -> k map)."""
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = rows.withColumn("rank", F.row_number().over(w).cast("int"))
    if rank is not True:
        ks_df = spark.createDataFrame(
            [(int(q), int(k)) for q, k in rank.items()], "query_id INT, _k LONG"
        )
        ranked = ranked.join(F.broadcast(ks_df), "query_id")
        if tie_epsilon > 0.0:
            # Epsilon-extended global cut (matching the kernel's): keep any
            # row within tie_epsilon of the query's k-th raw score too.
            kth = F.max(
                F.when(F.col("rank") == F.col("_k"), F.col("score"))
            ).over(W.partitionBy("query_id"))
            ranked = ranked.withColumn("_kth", kth)
            keep = (F.col("rank") <= F.col("_k")) | (
                F.col("score") >= F.col("_kth") - F.lit(tie_epsilon)
            )
        else:
            keep = F.col("rank") <= F.col("_k")
        ranked = ranked.where(keep)
    return ranked.select("query_id", "rank", "doc_id", "score")


def _serve_segments(
    spark: SparkSession,
    index: IndexHandle,
    terms,
    payload: dict,
    per_query,
    allowed_docs: np.ndarray | None = None,
    use_merged: bool | None = None,
    rank: bool | dict[int, int] | None = None,
    tie_epsilon: float = 0.0,
) -> DataFrame:
    """The one per-segment serving path (JVectorReader.search,
    JVectorReader.java:108-133, then ResultUtil.reduceToTopK).

    `payload` maps query_id -> that query's compiled form; it travels with
    the acceptDocs (`allowed_docs`) and liveDocs arrays. Per segment,
    `per_query(qid, payload[qid], seg)` runs for every query over the
    `_Segment` `seg` and returns (doc_ids, scores), or None for no hits.
    `use_merged`: None serves the merged index only when it covers every
    committed segment; True on a stale merge raises.

    `rank`: None returns the unranked (query_id, doc_id, score) rows; True
    ranks them all by (score desc, doc_id asc); a qid -> k map also cuts at
    each query's k, keeping rows within `tie_epsilon` of the k-th score.

    A call under the LOCAL_SERVE_POSTINGS bound runs in the driver and
    returns a local frame; any other runs as Spark jobs."""
    if use_merged is None:
        # Appends after a merge make it stale: serving it would silently
        # drop the new docs.
        use_merged = index.merged_is_current()
    elif use_merged and not index.merged_is_current():
        raise ValueError(
            "merged index is stale: segments were appended after the last "
            "merge_segments(); re-merge or search with use_merged=False"
        )
    base = index.merged_path if use_merged else index.segments_path
    deleted = index.deleted()
    ctx = (
        payload,
        None if allowed_docs is None
        else np.sort(np.asarray(allowed_docs, dtype=np.int64)),
        deleted if len(deleted) else None,
    )
    run = _segment_kernel(per_query, index.avgdl)

    if _serves_locally(index, terms):
        # The same term-pruned rows Spark would scan (pyarrow's default
        # ignore-prefixes skip `_`/`.` files as Spark does), grouped by
        # segment in the driver.
        postings = ds.dataset(base, format="parquet", partitioning="hive")
        pdf = postings.to_table(
            filter=ds.field("term").isin(list(terms))
        ).to_pandas()
        rows = pd.concat(
            [run(seg, ctx) for _sid, seg in pdf.groupby("seg_id")]
            or [_no_rows()],
            ignore_index=True,
        )
        if rank is not None:
            rows = _rank_local(rows, rank, tie_epsilon)
        return spark.createDataFrame(
            rows, RESULT_SCHEMA if rank is None else RANKED_SCHEMA
        )

    postings = _filter_terms(
        spark, spark.read.schema(POSTINGS_SPARK_SCHEMA).parquet(base), terms
    )
    postings = _segment_granularity(spark, postings, index)
    bc = spark.sparkContext.broadcast(ctx)
    rows = postings.groupBy("seg_id").applyInPandas(
        lambda pdf: run(pdf, bc.value), RESULT_SCHEMA
    )
    return rows if rank is None else _rank_spark(spark, rows, rank, tie_epsilon)


def search(
    spark: SparkSession,
    index: IndexHandle,
    queries: pd.DataFrame | DataFrame,
    allowed_docs: np.ndarray | None = None,
    use_merged: bool | None = None,
    tie_epsilon: float = 0.0,
) -> DataFrame:
    """Batched top-k: returns (query_id, rank, doc_id, score).

    `allowed_docs`: optional sorted int64 array of permitted docIDs applied
    to every query (pre-filter). Shipped as a Spark broadcast.
    `tie_epsilon`: when > 0, rows scoring within tie_epsilon of the k-th
    raw score are ALSO returned (rank > k). A caller that re-ranks on
    rounded scores needs epsilon = the rounding quantum so a rounded tie
    just outside the raw top-k is never lost to the raw cut.
    """
    if isinstance(queries, DataFrame):
        queries = queries.toPandas()
    weights, ks, terms = _query_weights(spark, index, queries)
    if not terms:
        return spark.createDataFrame([], RANKED_SCHEMA)
    return search_weighted(
        spark, index, weights, ks, allowed_docs=allowed_docs,
        use_merged=use_merged, tie_epsilon=tie_epsilon,
    )


def search_weighted(
    spark: SparkSession,
    index: IndexHandle,
    weights: dict[int, dict[str, float]],
    ks: dict[int, int],
    allowed_docs: np.ndarray | None = None,
    use_merged: bool | None = None,
    tie_epsilon: float = 0.0,
) -> DataFrame:
    """Top-k serving for PRE-COMPILED per-(query, term) weights — the tail
    of search() behind every multi-term rewrite: a fuzzy/prefix/wildcard/
    regexp expansion against the persisted dictionary compiles to exactly
    this weighted-disjunction form (Lucene's BlendedTermQuery after the
    TopTermsRewrite), and the MaxScore kernel serves it from the persisted
    postings without ever touching source text
    (JVectorReader.java:108-133 — the reference never rescans source data
    to serve a query). Returns (query_id, rank, doc_id, score)."""
    terms = sorted({t for w in weights.values() for t in w})
    if not terms:
        return spark.createDataFrame([], RANKED_SCHEMA)
    _check_ks(ks)

    def per_query(qid, q, seg: _Segment):
        wmap, k = q
        inputs = seg.maxscore_inputs(wmap)
        if inputs is None:
            return None
        return maxscore_topk(
            *inputs, k, seg.avgdl, allowed=seg.allowed,
            tf_norm_cache=seg.norm_cache, tie_epsilon=tie_epsilon,
            denied=seg.denied,
        )

    return _serve_segments(
        spark, index, terms,
        {qid: (wmap, ks[qid]) for qid, wmap in weights.items()},
        per_query, allowed_docs=allowed_docs, use_merged=use_merged,
        rank=ks, tie_epsilon=tie_epsilon,
    )


def search_radial(
    spark: SparkSession,
    index: IndexHandle,
    queries: pd.DataFrame,
    k: int | None = None,
    max_distance: float | None = None,
    min_score: float | None = None,
    allowed_docs: np.ndarray | None = None,
    use_merged: bool | None = None,
) -> DataFrame:
    """Unified query-mode surface with the reference's exactly-one-of
    contract (KNNQueryBuilder.java:241-258: exactly one of k, max_distance,
    min_score must be set; KNNQueryBuilder.java:552-565 routes the radial
    modes).

    `queries` columns: query_id, query_text. The chosen mode applies to all
    queries in the batch. max_distance is translated to a score threshold
    via the SpaceType.scoreTranslation convention score = 1/(1 + distance),
    i.e. min_score = 1/(1 + max_distance); the radial kernel then prunes on
    the score exactly as min_score mode does.
    """
    n_set = sum(x is not None for x in (k, max_distance, min_score))
    if n_set != 1:
        raise ValueError(
            "exactly one of k, max_distance, min_score must be set "
            f"(got {n_set})"
        )
    q = queries.copy()
    if k is not None:
        q["k"] = int(k)
        return search(spark, index, q, allowed_docs=allowed_docs,
                      use_merged=use_merged)
    if max_distance is not None:
        if max_distance < 0:
            raise ValueError(f"max_distance must be >= 0, got {max_distance}")
        q["min_score"] = 1.0 / (1.0 + float(max_distance))
    else:
        if min_score <= 0:
            raise ValueError(f"min_score must be > 0, got {min_score}")
        q["min_score"] = float(min_score)
    return search_min_score(spark, index, q, allowed_docs=allowed_docs,
                            use_merged=use_merged)


def search_min_score(
    spark: SparkSession,
    index: IndexHandle,
    queries: pd.DataFrame,
    allowed_docs: np.ndarray | None = None,
    use_merged: bool | None = None,
) -> DataFrame:
    """Radial search: every doc scoring >= the query's min_score, ranked.

    The analog of the reference's max_distance/min_score query mode
    (RNNQueryFactory path, KNNQueryBuilder.java:552-565): no k heap, the
    score threshold itself prunes (θ0 = min_score in the MaxScore split).
    `queries` columns: query_id, query_text, min_score.
    """
    weights, _, terms = _query_weights(spark, index, queries)
    if not terms:
        return spark.createDataFrame([], RANKED_SCHEMA)
    ms = {
        int(q.query_id): float(q.min_score)
        for q in queries.itertuples(index=False)
    }

    def per_query(qid, q, seg: _Segment):
        wmap, min_score = q
        inputs = seg.maxscore_inputs(wmap)
        if inputs is None:
            return None
        return minscore_all(
            *inputs, min_score, seg.avgdl, allowed=seg.allowed,
            tf_norm_cache=seg.norm_cache, denied=seg.denied,
        )

    return _serve_segments(
        spark, index, terms,
        {qid: (wmap, ms[qid]) for qid, wmap in weights.items()},
        per_query, allowed_docs=allowed_docs, use_merged=use_merged,
        rank=True,
    )
