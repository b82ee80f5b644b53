"""Deduplication operators for large-scale training-data pipelines.

All portable-by-construction: every hash is derived from md5 hex (identical
in Spark, DuckDB, and Python), every arithmetic step stays within int64, so
each operator has an exact ANSI-SQL oracle.

Scale shapes:
- exact:    one groupBy(content_hash) — map-side combined, AQE handles skew.
- n-gram Jaccard: shingle-inverted-index self-join; exact but O(sum df^2)
  in the worst case — the scale path is MinHash/LSH below.
- MinHash+LSH and SimHash: one numpy band kernel over the tokenized
  corpus. Signatures once per doc; band buckets are runs of one sort,
  their pairs enumerated vectorized; a pair comes out only from the first
  band where it collides and is verified in the same pass (exact Jaccard
  on the shingle strings, or the hamming cut). At most
  `build.DRIVER_BUILD_MAX_ROWS` docs run in the driver (no Spark job),
  more on Spark with one exchange on (band_idx, band_key). A hot bucket of
  m docs is still one piece of m^2/2 pairs. SimHash: 60-bit weighted
  fingerprint, 4 x 15-bit bands => recall 1.0 for hamming distance <= 3.
- embedding near-dup: brute-force pair scan (oracle) — ANN/LSH variants in
  similarity.py are the scale path.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.tokenizer import tokenize_col
from ..plans.state import read_parquet, state_dir
from . import build

HASH_PRIME = 2_147_483_647  # 2^31 - 1: keeps a*h+b inside int64
NUM_HASHES = 16
BAND_ROWS = 4  # 16 hashes -> 4 bands of 4


def minhash_coeffs(num_hashes: int = NUM_HASHES) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs; a odd, both < 2^20 so a*h < 2^51."""
    return [
        (((i * 2654435761) % (1 << 20)) | 1, (i * 40503 + 7) % (1 << 20))
        for i in range(num_hashes)
    ]


def shingles_col(tokens: Column, n: int) -> Column:
    """Token n-gram shingles joined with '_' (empty array when < n tokens).
    Positions index with get(), O(1) per element, not slice(), which
    allocates a subarray per position (25.5s vs ~1s at sf0.1, round 7)."""

    def gram(i: Column) -> Column:
        return F.concat_ws(
            "_", *[F.get(tokens, i + F.lit(off)) for off in range(n)]
        )

    return F.when(
        F.size(tokens) >= n,
        F.transform(F.sequence(F.lit(0), F.size(tokens) - n), gram),
    ).otherwise(F.array().cast("array<string>"))


# ------------------------------------------------------------------ exact ---


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate detection by content hash.

    Returns (doc_id, content_hash, group_size, dup_rank): dup_rank 1 is the
    canonical survivor (lowest id); rows with dup_rank > 1 are duplicates.
    """
    hashed = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("content_hash"),
    )
    w = W.partitionBy("content_hash")
    return hashed.select(
        "doc_id",
        "content_hash",
        F.count("*").over(w).cast("long").alias("group_size"),
        F.row_number()
        .over(w.orderBy("doc_id"))
        .cast("int")
        .alias("dup_rank"),
    )


# ---------------------------------------------------------- n-gram Jaccard ---


def _toks_base(
    df: DataFrame, text_col: str, id_col: str, base: DataFrame | None
) -> DataFrame:
    """(doc_id, toks): `base` (a term-vectors sidecar) as-is, else
    tokenized here, once: tokenize_col under the shingle lambda would run
    per array element (no subexpression elimination in lambda bodies;
    10.5s vs 0.6s at sf0.1, round 7)."""
    if base is not None:
        return base.select("doc_id", "toks")
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokenize_col(text_col).alias("toks"),
    )


def doc_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id",
    base: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, shingle) distinct pairs."""
    return (
        _toks_base(df, text_col, id_col, base)
        .select(
            "doc_id",
            F.explode(shingles_col(F.col("toks"), n)).alias("shingle"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    base: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs over n-gram shingle sets.

    (doc_a < doc_b, inter, size_a, size_b, jaccard) for jaccard >= threshold.
    """
    sh = doc_shingles(df, n, text_col, id_col, base)
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            (F.col("inter").cast("double"))
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "size_a", "size_b",
                F.round("jaccard", 6).alias("jaccard"))
    )
    return out


# ------------------------------------------------- near-dup band kernel ---

SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # 4 x 15 bits: recall 1.0 for hamming distance <= 3


def _md5_mod(strings: list[str]) -> np.ndarray:
    """The oracles' portable hash: int(md5(s)[:15], 16) % HASH_PRIME."""
    return np.fromiter(
        (int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % HASH_PRIME
         for s in strings),
        np.int64, len(strings),
    )


def _distinct(values: pa.Array, rows: np.ndarray):
    """(rows, codes, counts, run starts, dictionary) of distinct (row, value)."""
    enc = pc.dictionary_encode(values)
    v = max(len(enc.dictionary), 1)
    key, cnt = np.unique(rows * v + enc.indices.to_numpy(), return_counts=True)
    starts = np.flatnonzero(np.diff(key // v, prepend=-1))
    return key // v, key % v, cnt, starts, enc.dictionary


def _band_rows(doc_id, cols: dict, keys: np.ndarray) -> pa.Table:
    """One row per (doc, band) with the doc's `cols`; band_key is the
    band's first key, the exchange key (equal band keys share it)."""
    n_bands = keys.shape[1]
    take = np.repeat(np.arange(len(doc_id)), n_bands)
    band = np.tile(np.arange(n_bands, dtype=np.int32), len(doc_id))
    return pa.table({
        "doc_id": pa.array(doc_id[take], pa.int64()),
        "band_idx": band,
        "band_key": pa.array(keys[take, band, 0], pa.int64()),
        **{k: c.take(take) for k, c in cols.items()},
    })


def _minhash_rows(toks: pa.Table, n: int, coeffs, band_rows: int):
    """MinHash band rows of a batch of (doc_id, toks): for each doc with a
    token n-gram, sig (per (a, b) in coeffs, the min over its distinct
    shingles' hashes h of (a*h + b) mod HASH_PRIME) and sh (the shingles:
    n tokens joined with '_', as concat_ws builds them)."""
    col = toks["toks"].combine_chunks()
    flat, par = pc.list_flatten(col), pc.list_parent_indices(col).to_numpy()
    m = max(len(flat) - n + 1, 0)
    same_doc = par[:m] == par[n - 1:n - 1 + m]
    grams = pc.binary_join_element_wise(
        *[flat[j:j + m] for j in range(n)], "_"
    ).filter(pa.array(same_doc))
    rows, codes, _cnt, starts, vocab = _distinct(grams, par[:m][same_doc])
    h = _md5_mod(vocab.to_pylist())[codes]
    sig = np.stack([np.minimum.reduceat((a * h + b) % HASH_PRIME, starts)
                    for a, b in coeffs], axis=1)
    sh = pa.ListArray.from_arrays(
        pa.array(np.append(starts, len(codes)), pa.int32()), vocab.take(codes)
    )
    return _band_rows(
        toks["doc_id"].to_numpy()[rows[starts]],
        {"sig": pa.array(list(sig), pa.list_(pa.int64())), "sh": sh},
        _minhash_keys(sig, band_rows),
    )


def _minhash_keys(sig: np.ndarray, band_rows: int) -> np.ndarray:
    n_bands = sig.shape[1] // band_rows
    return sig[:, :n_bands * band_rows].reshape(len(sig), n_bands, band_rows)


def _simhash_fp(toks: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """(doc_id, simhash) of the docs of a batch with a token: bit b is set
    iff the sum over the doc's distinct terms of tf, signed by bit b of
    the term's hash, is > 0."""
    col = toks["toks"].combine_chunks()
    rows, codes, tf, starts, vocab = _distinct(
        pc.list_flatten(col), pc.list_parent_indices(col).to_numpy()
    )
    h = _md5_mod(vocab.to_pylist())[codes]
    fp = np.zeros(len(starts), np.int64)
    for b in range(SIMHASH_BITS):
        s = np.add.reduceat(np.where((h >> b) & 1 == 1, tf, -tf), starts)
        fp |= (s > 0).astype(np.int64) << b
    return toks["doc_id"].to_numpy()[rows[starts]], fp


def _simhash_keys(fp: np.ndarray) -> np.ndarray:
    """(docs, SIMHASH_BANDS, 1): the 15-bit band keys of each fingerprint."""
    shift = 15 * np.arange(SIMHASH_BANDS)
    return ((fp[:, None] >> shift) & ((1 << 15) - 1))[:, :, None]


def _bucket_pairs(rows: pa.Table, keys, verify, keep, value_type,
                  counter=None, max_pairs: int = 1 << 16) -> pa.Table:
    """(doc_a, doc_b, value = verify(i, j)) of the band rows' pairs that
    share a bucket (band, keys in that band) and no earlier band, where
    keep(value). keys (rows, bands, w) holds all band keys of each row's
    doc, so that check is local and a pair comes out once. Buckets are runs
    of one sort; the pairs of all buckets of one size are enumerated by
    np.triu_indices, ~max_pairs at a time (a big bucket by blocks of its
    rows, so memory stays bounded; time is still quadratic in its size).
    `counter.add` gets the number of pairs verified."""
    doc, band = rows["doc_id"].to_numpy(), rows["band_idx"].to_numpy()
    r, n_bands, _w = keys.shape
    own = keys[np.arange(r), band]
    order = np.lexsort((doc, *own.T[::-1], band))
    sb, so = band[order], own[order]
    head = np.r_[True, (sb[1:] != sb[:-1]) | (so[1:] != so[:-1]).any(1)]
    starts = np.flatnonzero(head[:r])
    sizes = np.diff(np.append(starts, r))
    out = [([], [], [])]
    for m in np.unique(sizes[sizes > 1]):
        groups, block = starts[sizes == m], max(1, max_pairs // m)
        for x0 in range(0, m - 1, block):  # pairs (x, y > x), x from x0
            p, q = np.triu_indices(min(block, m - 1 - x0), x0 + 1, m)
            step = max(1, max_pairs // len(p))
            for s in (groups[g:g + step, None]
                      for g in range(0, len(groups), step)):
                i, j = order[(s + x0 + p).ravel()], order[(s + q).ravel()]
                earlier = (keys[i] == keys[j]).all(2) & (
                    np.arange(n_bands) < band[i][:, None])
                new = ~earlier.any(1) & (doc[i] < doc[j])
                i, j = i[new], j[new]
                if counter is not None:
                    counter.add(len(i))
                value = verify(i, j)
                ok = keep(value)
                out.append((doc[i][ok], doc[j][ok], value[ok]))
    a, b, value = (np.concatenate(c) for c in zip(*out))
    return pa.table({"doc_a": pa.array(a, pa.int64()),
                     "doc_b": pa.array(b, pa.int64()),
                     "value": pa.array(value, value_type)})


def _jaccard(sets: pa.ListArray, i: np.ndarray, j: np.ndarray):
    """|A & B| / |A | B| of the distinct-string lists A = sets[i], B =
    sets[j]: a repeated (pair, string code) key is a shared string."""
    u, inv = np.unique(np.r_[i, j], return_inverse=True)
    sub = sets.take(u)
    lens = pc.list_value_length(sub).to_numpy().astype(np.int64)
    enc = pc.dictionary_encode(pc.list_flatten(sub))
    v = max(len(enc.dictionary), 1)
    ln = lens[inv]  # pair k's lists: sub rows inv[k] and inv[k + len(i)]
    first = np.cumsum(lens) - lens
    idx = np.repeat(first[inv] - np.cumsum(ln) + ln, ln) + np.arange(ln.sum())
    pid = np.repeat(np.r_[np.arange(len(i)), np.arange(len(i))], ln)
    key = np.sort(pid * v + enc.indices.to_numpy()[idx])
    inter = np.bincount(key[1:][key[1:] == key[:-1]] // v, minlength=len(i))
    return inter / (ln[:len(i)] + ln[len(i):] - inter)


def _per_partition(fn, batches):
    batches = list(batches)
    if batches:
        yield from fn(pa.Table.from_batches(batches)).to_batches()


def _run_kernel(spark, toks_dir: str, per_doc, doc_schema: str,
                per_bucket=None, out_schema: str | None = None) -> DataFrame:
    """per_doc ((doc_id, toks) -> doc_schema rows), then per_bucket (band
    rows -> out_schema rows) if given: in the driver for at most
    `build.DRIVER_BUILD_MAX_ROWS` docs (parquet footers, no job), else on
    Spark with one exchange on (band_idx, band_key) between the two."""
    corpus = ds.dataset(toks_dir)
    if corpus.count_rows() <= build.DRIVER_BUILD_MAX_ROWS:
        t = per_doc(corpus.to_table(columns=["doc_id", "toks"]))
        t = t if per_bucket is None else per_bucket(t)
        return spark.createDataFrame(t.to_pandas(), out_schema or doc_schema)
    df = read_parquet(spark, toks_dir).select("doc_id", "toks").mapInArrow(
        lambda it: _per_partition(per_doc, it), doc_schema
    )
    if per_bucket is None:
        return df
    return df.repartition("band_idx", "band_key").mapInArrow(
        lambda it: _per_partition(per_bucket, it), out_schema
    )


def minhash_lsh_pairs(spark, toks_dir: str, n: int = 3,
                      threshold: float = 0.8, num_hashes: int = NUM_HASHES,
                      band_rows: int = BAND_ROWS, counter=None) -> DataFrame:
    """(doc_a < doc_b, jaccard >= threshold, Spark-rounded to 6 places):
    MinHash band candidates of the tokenized corpus at `toks_dir` (doc_id,
    toks), verified with exact Jaccard on the shingle strings (their
    hashes collide). Fixed coefficients and banding: the SQL oracle
    replays it exactly. `counter`: optional `.add(int)` sink (a plain
    counter or a Spark accumulator) of the candidate pairs verified."""
    coeffs = minhash_coeffs(num_hashes)

    def pairs(rows):
        sig = pc.list_flatten(rows["sig"]).to_numpy().reshape(-1, num_hashes)
        sets = rows["sh"].combine_chunks()
        return _bucket_pairs(
            rows, _minhash_keys(sig, band_rows),
            lambda i, j: _jaccard(sets, i, j), lambda v: v >= threshold,
            pa.float64(), counter,
        )

    out = _run_kernel(
        spark, toks_dir, lambda t: _minhash_rows(t, n, coeffs, band_rows),
        "doc_id LONG, band_idx INT, band_key LONG, sig ARRAY<LONG>,"
        " sh ARRAY<STRING>",
        pairs, "doc_a LONG, doc_b LONG, value DOUBLE",
    )
    return out.select("doc_a", "doc_b", F.round("value", 6).alias("jaccard"))


def simhash(spark, toks_dir: str) -> DataFrame:
    """(doc_id, simhash): 60-bit tf-weighted SimHash of each doc of the
    tokenized corpus at `toks_dir` with at least one token."""
    return _run_kernel(
        spark, toks_dir,
        lambda t: pa.table(dict(zip(("doc_id", "simhash"), _simhash_fp(t)))),
        "doc_id LONG, simhash LONG",
    )


def simhash_pairs(spark, toks_dir: str, max_hamming: int = 3,
                  counter=None) -> DataFrame:
    """(doc_a < doc_b, hamming <= max_hamming) via 15-bit band collision
    (exhaustive for max_hamming <= 3). Term hashes are < 2^31, so nearly
    every pair shares the top band; each is verified once. `counter` as
    in minhash_lsh_pairs."""

    def rows(t):
        doc_id, fp = _simhash_fp(t)
        return _band_rows(doc_id, {"simhash": pa.array(fp)},
                          _simhash_keys(fp))

    def pairs(rows):
        fp = rows["simhash"].to_numpy()
        return _bucket_pairs(
            rows, _simhash_keys(fp),
            lambda i, j: np.unpackbits((fp[i] ^ fp[j]).view(np.uint8))
            .reshape(-1, 64).sum(1, dtype=np.int32),
            lambda v: v <= max_hamming, pa.int32(), counter,
        )

    out = _run_kernel(
        spark, toks_dir, rows,
        "doc_id LONG, band_idx INT, band_key LONG, simhash LONG",
        pairs, "doc_a LONG, doc_b LONG, value INT",
    )
    return out.withColumnRenamed("value", "hamming")


# ------------------------------------------------- embedding cosine near-dup ---


def cosine_col(a: Column, b: Column) -> Column:
    """Exact float64 cosine; summation is left-fold in array order on both
    Spark and the DuckDB oracle, so values match bit-for-bit."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0),
                    lambda acc, x: acc + x)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0),
                    lambda acc, x: acc + x)
    )
    return dot / (na * nb)


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 65_536,
    work_dir: str | None = None,
) -> DataFrame:
    """Exact cosine near-duplicate pairs (doc_a < doc_b, cosine >= t),
    fully distributed — NO driver materialization of the embedding table.

    Block-pair GEMM design (the out-of-core exact all-pairs shape):
      1. One distributed pass normalizes every vector and spills it to a
         block store — parquet partitioned by block_id = splitmix64(vec_id)
         % B with B = ceil(N / block_rows), vectors packed as float64 bytes.
         (On a cluster work_dir is shared storage, exactly like the segment
         index's index_dir.)
      2. The B(B+1)/2 block PAIRS become the work units: each task reads
         its two blocks (directory-pruned parquet read), GEMMs them in
         row chunks (panel memory = chunk x block_rows x 8B, bounded), and
         emits only pairs over threshold with doc_a < doc_b.

    Driver memory is O(B^2) pair stubs; executor memory is O(block_rows x
    dim + panel chunk) — both independent of N x dim. Total FLOPs equal the
    old broadcast-GEMM path; they are just spread over B(B+1)/2 tasks.
    """
    import pandas as pd
    import pyarrow.parquet as pq

    from .vector_index import _splitmix64

    spark = emb.sparkSession
    src = emb.select(
        F.col(id_col).cast("long").alias("vec_id"), F.col(vec_col).alias("v")
    )
    master = spark.sparkContext.master or ""
    if work_dir is None and not master.startswith("local"):
        # The default block store is a DRIVER-LOCAL tempdir; executors on a
        # real cluster cannot read it back. Same contract as the segment
        # index's index_dir: the caller must provide shared storage.
        raise ValueError(
            "embedding_near_dup_pairs on a non-local master "
            f"({master!r}) requires work_dir on shared storage "
            "(the driver-local tempdir default only works in local mode). "
            "Note: the block store under work_dir (~N*dim*8 bytes) is NOT "
            "auto-deleted — the returned DataFrame reads it lazily; clean "
            "it up after consuming the result."
        )
    n = src.count()
    if n == 0:
        return spark.createDataFrame([], "doc_a LONG, doc_b LONG, cosine DOUBLE")
    n_blocks = max(1, (n + block_rows - 1) // block_rows)
    # work_dir=None: a per-process state directory, removed at exit (the
    # returned DataFrame reads the store lazily, so it lives as long as
    # the process that can read the result).
    store = work_dir or state_dir("ojs_neardup_")

    def normalize(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )
            norms = np.sqrt((mat * mat).sum(axis=1))
            matn = mat / np.maximum(norms, 1e-300)[:, None]
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "block_id": (_splitmix64(ids)
                                 % np.uint64(n_blocks)).astype(np.int32),
                    "vnorm": [r.tobytes() for r in matn],
                }
            )

    src.mapInPandas(
        normalize, "vec_id LONG, block_id INT, vnorm BINARY"
    ).write.partitionBy("block_id").mode("overwrite").parquet(store)

    pairs = [
        (i, j) for i in range(n_blocks) for j in range(i, n_blocks)
    ]
    par = spark.sparkContext.defaultParallelism
    pairs_df = spark.createDataFrame(
        pairs, "i INT, j INT"
    ).repartition(min(len(pairs), par * 2))

    def _load_block(bid: int):
        t = pq.read_table(
            store, filters=[("block_id", "=", int(bid))],
            columns=["vec_id", "vnorm"],
        )
        ids = t["vec_id"].to_numpy().astype(np.int64)
        raw = t["vnorm"].to_pylist()
        if not raw:
            return ids, np.zeros((0, 0))
        m = np.frombuffer(b"".join(raw), dtype=np.float64).reshape(
            len(ids), -1
        )
        # Sort by vec_id for deterministic output order within a task.
        o = np.argsort(ids)
        return ids[o], m[o]

    chunk = 2048

    def gemm_pairs(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                ia, ma = _load_block(int(r.i))
                if int(r.i) == int(r.j):
                    ib, mb = ia, ma
                else:
                    ib, mb = _load_block(int(r.j))
                if len(ia) == 0 or len(ib) == 0:
                    continue
                for s in range(0, len(ia), chunk):
                    sims = ma[s:s + chunk] @ mb.T
                    # doc_a < doc_b over the UNION of both blocks: compare
                    # global ids (also kills the i == j diagonal).
                    lt = ia[s:s + chunk, None] < ib[None, :]
                    ra, cb = np.nonzero((sims >= threshold) & lt)
                    if len(ra):
                        yield pd.DataFrame(
                            {
                                "doc_a": ia[s + ra],
                                "doc_b": ib[cb],
                                "cosine": np.round(sims[ra, cb], 6),
                            }
                        )
                    if int(r.i) != int(r.j):
                        # The mirrored orientation (b-side id smaller).
                        gt = ia[s:s + chunk, None] > ib[None, :]
                        ra2, cb2 = np.nonzero((sims >= threshold) & gt)
                        if len(ra2):
                            yield pd.DataFrame(
                                {
                                    "doc_a": ib[cb2],
                                    "doc_b": ia[s + ra2],
                                    "cosine": np.round(sims[ra2, cb2], 6),
                                }
                            )

    return pairs_df.mapInPandas(
        gemm_pairs, "doc_a LONG, doc_b LONG, cosine DOUBLE"
    )


def embedding_near_dup_pairs_bucketed(
    spark,
    index,
    threshold: float = 0.8,
    chunk: int = 2048,
    angle_slack: float = 1e-9,
) -> DataFrame:
    """Exact cosine near-dup pairs routed through a trained IVF index —
    the high-threshold scale path that cuts both the O(B^2) read
    amplification AND the bytes-per-read of embedding_near_dup_pairs.

    Three exact stages, each provably unable to drop a qualifying pair:

    1. **Triangle-inequality bucket-pair pruning.** A pair (a in bucket i,
       b in bucket j) with cos(a,b) >= t satisfies
       angle(c_i, c_j) <= angle(c_i, a) + angle(a, b) + angle(b, c_j)
                       <= r_i + arccos(t) + r_j,
       where r_i is bucket i's angular radius (max member angle to its
       centroid, one aggregation pass). Bucket pairs violating the bound
       (plus a float slack, which only ADDS candidates) are never read.
       Bites on clustered corpora (small radii) — the actual near-dup
       use case.
    2. **int8 ADC with a rigorous error bound.** Surviving bucket pairs
       are scored from the QUANTIZED columns only (qvec/qscale/qnorm,
       ~(dim+16) bytes/vector vs 4*dim + codec overhead for the floats).
       With a = a_hat + e, |e_k| <= scale/2 per component (round-to-nearest,
       no clipping: scale = maxabs/127), Cauchy-Schwarz gives
         dot(a,b) <= dot(a_hat,b_hat) + |a_hat|E_b + E_a|b_hat| + E_aE_b,
         |a| >= |a_hat| - E_a,   E_x = scale_x * sqrt(d) / 2,
       so ub = (dot_hat + delta) / ((qn_a - E_a)(qn_b - E_b)) is a true
       upper bound on cos(a,b); only pairs with ub >= t survive. Bites at
       high thresholds regardless of clustering.
    3. **Fold-exact rescore of candidates only**: the surviving (a, b)
       pairs join back to full precision and are scored with the left-fold
       Catalyst cosine (bit-identical to the DuckDB oracle), so even
       threshold-boundary pairs resolve identically.

    `index`: a VectorIndexHandle with metric="cosine". Only replica_rank=0
    rows are read, so replicated indexes don't duplicate pairs.
    """
    import pandas as pd
    import pyarrow.parquet as pq

    if index.metric != "cosine":
        raise ValueError("bucketed near-dup requires a cosine IVF index")
    if not threshold > 0:
        # The ADC upper bound divides by the SHRUNK norms, which is only a
        # valid upper bound when the numerator is positive; pairs with a
        # negative numerator have cosine < 0 and are safely pruned only for
        # positive thresholds.
        raise ValueError(f"threshold must be > 0, got {threshold}")
    cents = index.centroids
    k = len(cents)
    cent_pdf = pd.DataFrame(
        {
            "centroid_id": np.arange(k, dtype=np.int32),
            "cvec": [c.tolist() for c in cents],
        }
    )
    if index.manifest.get("pending_batch_id") is not None:
        # The pair kernel reads bucket files directly (pyarrow, below) and
        # cannot filter an in-flight append's files the way
        # VectorIndexHandle.bucket_scan does; refuse rather than compute
        # near-dups over uncommitted rows (read-committed contract).
        raise ValueError(
            "index has an uncommitted append in flight (pending_batch_id="
            f"{index.manifest['pending_batch_id']}); retry after the append"
            " commits, or run a writer op (append_vectors /"
            " compact_vector_index) to reconcile"
        )
    buckets_path = index.buckets_path
    primary = (
        index.bucket_scan(spark)
        .where(F.col("replica_rank") == 0)
        .select("centroid_id", F.col("embedding").alias("v"))
    )
    cdf = spark.createDataFrame(cent_pdf)
    stats = (
        primary.join(F.broadcast(cdf), "centroid_id")
        .select(
            "centroid_id",
            cosine_col(F.col("v"), F.col("cvec")).alias("c"),
        )
        .groupBy("centroid_id")
        .agg(F.min("c").alias("min_cos"), F.count("*").alias("n"))
        .collect()
    )
    radius = {
        int(r["centroid_id"]): float(
            np.arccos(np.clip(r["min_cos"], -1.0, 1.0))
        )
        for r in stats
    }
    occupied = sorted(radius)

    cn = cents / np.maximum(
        np.linalg.norm(cents, axis=1), 1e-30
    )[:, None]
    theta = np.arccos(np.clip(cn @ cn.T, -1.0, 1.0))
    t_angle = float(np.arccos(np.clip(threshold, -1.0, 1.0)))
    pairs = [
        (i, j)
        for ai, i in enumerate(occupied)
        for j in occupied[ai:]
        if theta[i, j] <= t_angle + radius[i] + radius[j] + angle_slack
    ]
    total_pairs = len(occupied) * (len(occupied) + 1) // 2
    if not pairs:
        return spark.createDataFrame(
            [], "doc_a LONG, doc_b LONG, cosine DOUBLE"
        )
    # Circuit breaker (KNNSettings.java:69-94 analog, plans/breaker.py):
    # the pair kernel materializes BOTH buckets' quantized rows plus a
    # chunk x bucket float64 bound matrix per task — estimate the worst
    # pair from the per-bucket counts already collected and fail fast with
    # the remedy (more centroids) instead of an executor OOM.
    from ..plans.breaker import check_bytes, resolve_cap

    cap = resolve_cap("maxBucketBytes", None, spark)
    if cap is not None:
        counts = {int(r["centroid_id"]): int(r["n"]) for r in stats}
        dim = int(index.manifest.get("dim") or 0)
        worst = max(counts.get(i, 0) + counts.get(j, 0) for i, j in pairs)
        est = worst * (dim + 24) + min(chunk, worst) * worst * 8
        check_bytes(
            "maxBucketBytes", est, cap,
            detail=f"worst bucket-pair of {worst} quantized rows (dim "
            f"{dim}) + chunk bound matrix; rebuild with more centroids "
            "or lower chunk",
        )
    par = spark.sparkContext.defaultParallelism
    pairs_df = spark.createDataFrame(pairs, "i INT, j INT").repartition(
        min(len(pairs), par * 2)
    )
    # Surfaced for BENCH bytes-read accounting.
    pairs_df._ojs_bucket_pairs = (len(pairs), total_pairs)

    def _load_bucket_q(cid: int):
        t = pq.read_table(
            buckets_path,
            filters=[("centroid_id", "=", int(cid)),
                     ("replica_rank", "=", 0)],
            columns=["vec_id", "qvec", "qscale", "qnorm"],
        )
        ids = t["vec_id"].to_numpy().astype(np.int64)
        raw = t["qvec"].to_pylist()
        if not raw:
            return ids, None, None, None
        qm = np.frombuffer(b"".join(raw), dtype=np.int8).reshape(
            len(ids), -1
        ).astype(np.float64)
        scale = t["qscale"].to_numpy().astype(np.float64)
        qn = t["qnorm"].to_numpy().astype(np.float64)
        o = np.argsort(ids)
        return ids[o], qm[o] * scale[o, None], scale[o], qn[o]

    thr = float(threshold)

    def adc_candidates(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                ia, ha, sa, na = _load_bucket_q(int(r.i))
                if int(r.i) == int(r.j):
                    ib, hb, sb, nb = ia, ha, sa, na
                else:
                    ib, hb, sb, nb = _load_bucket_q(int(r.j))
                if ha is None or hb is None:
                    continue
                d = ha.shape[1]
                ea = sa * (np.sqrt(d) / 2.0)
                eb = sb * (np.sqrt(d) / 2.0)
                dena = np.maximum(na - ea, 1e-30)
                denb = np.maximum(nb - eb, 1e-30)
                for s in range(0, len(ia), chunk):
                    dot_hat = ha[s : s + chunk] @ hb.T
                    delta = (
                        na[s : s + chunk, None] * eb[None, :]
                        + ea[s : s + chunk, None] * nb[None, :]
                        + ea[s : s + chunk, None] * eb[None, :]
                    )
                    ub = (dot_hat + delta) / (
                        dena[s : s + chunk, None] * denb[None, :]
                    )
                    keep = (ub >= thr) & (
                        ia[s : s + chunk, None] != ib[None, :]
                    )
                    ra, cb = np.nonzero(keep)
                    if len(ra):
                        aa, bb = ia[s + ra], ib[cb]
                        lo = np.minimum(aa, bb)
                        hi = np.maximum(aa, bb)
                        yield pd.DataFrame({"doc_a": lo, "doc_b": hi})

    cand = (
        pairs_df.mapInPandas(adc_candidates, "doc_a LONG, doc_b LONG")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Fold-exact rescore of candidates only: full precision is read just
    # for the surviving pairs, via two joins against the primary rows.
    vecs = (
        index.bucket_scan(spark)
        .where(F.col("replica_rank") == 0)
        .select("vec_id", F.col("embedding").alias("v"))
    )
    va = vecs.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("v_a"))
    vb = vecs.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("v_b"))
    out = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("cosine", cosine_col(F.col("v_a"), F.col("v_b")))
        .where(F.col("cosine") >= thr)
        .select("doc_a", "doc_b", F.round("cosine", 6).alias("cosine"))
    )
    out._ojs_bucket_pairs = (len(pairs), total_pairs)
    return out
