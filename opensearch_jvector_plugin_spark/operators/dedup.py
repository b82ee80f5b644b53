"""Deduplication operators for large-scale training-data pipelines.

All portable-by-construction: every hash is derived from md5 hex (identical
in Spark, DuckDB, and Python), every arithmetic step stays within int64, so
each operator has an exact ANSI-SQL oracle. Everything is built-in DataFrame
ops — JVM-side, codegen'd, no Python in the hot path.

Scale shapes:
- exact:    one groupBy(content_hash) — map-side combined, AQE handles skew.
- n-gram Jaccard: shingle-inverted-index self-join; exact but O(sum df^2)
  in the worst case — the scale path is MinHash/LSH below.
- MinHash+LSH: signatures via one explode + groupBy(min x NUM_HASHES);
  band buckets via one self-join on (band_idx, band_key) — only docs
  sharing a band collide, and exact Jaccard verification runs only on the
  candidate pairs.
- SimHash: 60-bit weighted fingerprint, 4 x 15-bit band join => guaranteed
  recall for hamming distance <= 3.
- embedding near-dup: brute-force pair scan (oracle) — ANN/LSH variants in
  similarity.py are the scale path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.tokenizer import tokenize_col
from ..plans.state import state_dir

HASH_PRIME = 2_147_483_647  # 2^31 - 1: keeps a*h+b inside int64
NUM_HASHES = 16
BAND_ROWS = 4  # 16 hashes -> 4 bands of 4


def minhash_coeffs(num_hashes: int = NUM_HASHES) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs; a odd, both < 2^20 so a*h < 2^51."""
    return [
        (((i * 2654435761) % (1 << 20)) | 1, (i * 40503 + 7) % (1 << 20))
        for i in range(num_hashes)
    ]


def term_hash_col(c: Column) -> Column:
    """Portable 60-bit token hash: first 15 hex chars of md5 -> int64,
    reduced mod 2^31-1 so downstream affine hashes stay in int64."""
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")
        % F.lit(HASH_PRIME)
    )


def shingles_col(tokens: Column, n: int) -> Column:
    """Token n-gram shingles joined with '_' (empty array when < n tokens).

    Round 7 (guide §1.2 per-task work): positions index the array with
    0-based get() — O(1) per gram element — instead of slice(), which
    allocates an n-element subarray per position (measured at sf0.1: the
    slice form materialized the shingle relation in 25.5s, the get form in
    ~1s; same strings by construction)."""

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
    """(doc_id, toks): the pre-tokenized corpus. When `base` (a term-vectors
    sidecar) is given it is used as-is; otherwise tokenization happens here.
    CRITICAL perf note (round 7, measured): composing tokenize_col directly
    under the higher-order shingle lambda re-evaluates the tokenizer PER
    ARRAY ELEMENT (no subexpression elimination inside lambda bodies) —
    10.5s vs 0.6s at sf0.1 for the shingle-set projection — so every
    shingle consumer goes through this single-evaluation base."""
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


# ----------------------------------------------------------- MinHash + LSH ---


def minhash_signatures(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, mh_0 .. mh_{H-1}) — min over shingles of affine hashes of
    the portable 60-bit shingle hash. Docs with < n tokens get no row.
    `shingles`: optional precomputed doc_shingles() frame (callers that
    also need the shingles for verification pass a persisted one so the
    tokenize+explode+distinct subtree runs once)."""
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(df, n, text_col, id_col)
    ).withColumn("h", term_hash_col(F.col("shingle")))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(HASH_PRIME))
        .cast("long")
        .alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
    base: DataFrame | None = None,
) -> DataFrame:
    """MinHash banding candidates verified with exact Jaccard.

    (doc_a, doc_b, jaccard >= threshold). Deterministic: fixed coefficients,
    fixed banding — the SQL oracle replicates the full pipeline, so results
    match exactly even though LSH recall < 1 vs ground truth.

    Plan shape (round 7 — guide §2.3/§2.4, replacing the round-3 lazy
    exploded-frame design): ONE corpus scan builds the per-doc distinct
    shingle ARRAY and its 60-bit hash array (no explode, no distinct
    shuffle), persisted as a doc-sized frame of arrays. Signatures are
    array_min folds over the hash array — pure projections, zero shuffles.
    Banding posexplodes 4 tiny key columns; the band self-join (the LSH
    collision step) is the ONLY corpus-wide shuffle left, and it carries
    (doc_id, band_idx, band_key) rows. Verification joins the candidate
    pairs back to the persisted shingle arrays (candidate side broadcast,
    corpus side never shuffles) and computes exact Jaccard with
    array_intersect — same integers, same round-6 doubles as the exploded
    intersection-join it replaces (oracle replay pins equality). Measured
    at sf0.1/local[32]: 8.2s -> see OPTIMIZATION_r07.md.
    """
    sets = (
        _toks_base(df, text_col, id_col, base)
        .select(
            "doc_id",
            F.array_distinct(shingles_col(F.col("toks"), n)).alias("sh"),
        )
        .where(F.size("sh") > 0)
        .withColumn("hs", F.transform("sh", lambda s: term_hash_col(s)))
        .persist()
    )
    def _affine(a: int, b: int):
        # Factory keeps the HOF lambda unary (PySpark reads arity).
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(HASH_PRIME)

    sig_cols = [
        F.array_min(F.transform("hs", _affine(a, b)))
        .cast("long")
        .alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    sig = sets.select("doc_id", *sig_cols)
    n_bands = num_hashes // band_rows
    key_arr = F.array(
        *[
            F.concat_ws(
                "_",
                *[
                    F.col(f"mh_{bidx * band_rows + r}").cast("string")
                    for r in range(band_rows)
                ],
            )
            for bidx in range(n_bands)
        ]
    )
    banded = sig.select(
        "doc_id", F.posexplode(key_arr).alias("band_idx", "band_key")
    )

    a_side = banded.alias("a")
    b_side = banded.alias("b")
    cand = (
        a_side.join(
            b_side,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Exact-Jaccard verification restricted to the CANDIDATE pairs only —
    # never the full pair space (that is the whole point of the banding).
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    out = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias(
                "inter"
            ),
            F.size("sh_a").cast("long").alias("size_a"),
            F.size("sh_b").cast("long").alias("size_b"),
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    out._ojs_persisted = sets
    return out


# ----------------------------------------------------------------- SimHash ---

SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # 4 x 15 bits: recall 1.0 for hamming distance <= 3


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    base: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, simhash): 60-bit tf-weighted SimHash from portable term
    hashes. Bit b is set iff sum over terms of tf * sign(bit b of h) > 0."""
    tf = (
        _toks_base(df, text_col, id_col, base)
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
        .withColumn("h", term_hash_col(F.col("term")))
    )
    bit_sums = tf.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                    F.col("tf"),
                ).otherwise(-F.col("tf"))
            ).alias(f"s_{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s_{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ) * F.lit(1 << b).cast("long")
        fp = bit if fp is None else fp + bit
    return bit_sums.select("doc_id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    base: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, found via
    15-bit band collision (exhaustive for max_hamming <= 3).

    Plan shape (phase-profiled, scripts/profile_simhash.py round 6):
    - `fp` is PERSISTED before banding: the 4-band union self-joined
      against itself references the fingerprint subtree 8 times — without
      the persist that is 8 corpus-scan+aggregate passes (trivial at sf0.1,
      ruinous at 100 TB).
    - The hamming cut runs BEFORE the pair dedup, explicitly: on a
      template-heavy corpus the band join degenerates toward all-pairs
      (measured: C(5000,2) = 12.5M candidates at sf0.1, every doc colliding
      in >= 1 band), and deduping 12.5M four-column rows costs ~3x the
      whole filtered op. Catalyst happens to push a grouping-key filter
      below the distinct anyway; ordering the plan that way in code makes
      the property structural, not optimizer-dependent."""
    fp = simhash(df, text_col, id_col, base).persist()
    # Round 7: one posexplode pass over the persisted fingerprints instead
    # of a 4-way union (4 references to the cached frame, 4x the plan);
    # identical (doc_id, band_idx, band_key, simhash) rows.
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * 15)
                    .bitwiseAND(F.lit((1 << 15) - 1))
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    out._ojs_persisted = fp
    return out


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
