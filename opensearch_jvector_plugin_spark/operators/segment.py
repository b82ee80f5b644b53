"""Vectorized whole-segment postings encoder.

The per-segment flush analog of the reference writer (accumulate values,
then freeze to disk: JVectorWriter.FieldWriter.addValue
JVectorWriter.java:406-432 + flush/writeField JVectorWriter.java:177-196),
re-expressed as batch NumPy over one Spark partition's documents:

tokenize (byte-level NumPy scanner, see tokenize_batch_bytes) -> flatten ->
combined-key radix sort by (term, doc) ->
run-length tf -> per-term delta+varint streams sliced from three
whole-segment buffers -> per-term skip-block metadata via reduceat.

The ONLY per-term Python work is byte-slicing and crc32 — every numeric
transform is a whole-segment NumPy op. This is the hot path of index build.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

from .codec import SKIP_BLOCK, varint_encode_with_bounds

# --- byte-level tokenizer ---------------------------------------------------
# Semantically identical to functions.tokenizer ([a-z0-9]+ runs over the
# lowercased text, ASCII classes) but object-free: the whole batch is ONE
# byte buffer scanned with NumPy table lookups, and token identity is a
# vectorized polynomial rolling hash — no per-token Python strings. This is
# what lets 32 concurrent build workers scale on one box instead of
# saturating the allocator/memory bus with 10^6 string objects per segment
# (measured 3.3x per-task inflation with the pandas str.findall path).
# Term STRINGS are materialized only for the unique terms (~vocab size).

_IS_TOKEN = np.zeros(256, dtype=bool)
_IS_TOKEN[ord("a"):ord("z") + 1] = True
_IS_TOKEN[ord("0"):ord("9") + 1] = True

_HASH_B = np.uint64(1099511628211)  # FNV64 prime (odd -> invertible mod 2^64)
_HASH2_B = np.uint64(0x100000001B3 ^ 0x9E3779B97F4A7C15) | np.uint64(1)  # 2nd base

# Injective packing for short tokens: [a-z0-9] -> 1..36 (6 bits/symbol).
# 9 symbols x 6 bits + 4-bit length = 58 bits < 2^63 -> bit 63 is free to
# mark the polynomial-hash regime for longer tokens.
PACK_MAX = 9
_SYM6 = np.zeros(256, dtype=np.uint64)
for _c in range(ord("a"), ord("z") + 1):
    _SYM6[_c] = _c - ord("a") + 1
for _c in range(ord("0"), ord("9") + 1):
    _SYM6[_c] = _c - ord("0") + 27
# Modular inverse of B mod 2^64 (Newton iteration).
_inv = _HASH_B
for _ in range(6):
    with np.errstate(over="ignore"):
        _inv = _inv * (np.uint64(2) - _HASH_B * _inv)
_HASH_BINV = _inv


def tokenize_batch_bytes(
    texts, n_docs: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Tokenize a batch of documents in one NumPy pass.

    Returns (term_codes, doc_of_tok, dl_per_doc, unique_terms) where
    term_codes are dense ints ordered so that unique_terms is sorted
    lexicographically (the codec's term order contract)."""
    blobs = [(t if isinstance(t, str) else "" if t is None else str(t))
             .encode("utf-8", "surrogatepass") for t in texts]
    # Unicode-fold parity with the tokenizer contract (functions/tokenizer.py
    # fold-then-lower): exactly two codepoints in all of Unicode lowercase
    # INTO [a-z0-9] — U+212A KELVIN SIGN -> 'k', U+0130 I-WITH-DOT -> 'i'.
    # Fold their UTF-8 sequences at the byte level before scanning;
    # bytes.replace is a memchr scan when absent, so the ASCII hot path is
    # unaffected.
    blobs = [
        b.replace(b"\xe2\x84\xaa", b"k").replace(b"\xc4\xb0", b"i")
        if b else b
        for b in blobs
    ]
    doc_off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum([len(b) + 1 for b in blobs], out=doc_off[1:])
    big = b"\x00".join(blobs) + b"\x00"
    arr = np.frombuffer(big, dtype=np.uint8).copy()
    # ASCII lowercase.
    up = (arr >= 65) & (arr <= 90)
    arr[up] += 32

    tok = _IS_TOKEN[arr]
    if not tok.any():
        return (np.zeros(0, np.int64), np.zeros(0, np.int64),
                np.zeros(n_docs, np.int64), np.zeros(0, object))
    prev = np.empty_like(tok)
    prev[0] = False
    prev[1:] = tok[:-1]
    starts = np.flatnonzero(tok & ~prev)
    nxt = np.empty_like(tok)
    nxt[-1] = False
    nxt[:-1] = tok[1:]
    ends = np.flatnonzero(tok & ~nxt) + 1

    # Token identity, vectorized across TOKENS byte-position by byte-
    # position (token length is bounded, so this is a handful of contiguous
    # passes over the token array — no giant prefix tables). Two regimes:
    #
    # - length <= PACK_MAX (the overwhelming majority): the code is an
    #   INJECTIVE 6-bit-per-symbol packing ([a-z0-9] = 36 symbols < 64)
    #   plus the length — collisions are impossible by construction, and
    #   the packing costs the same shift-or the hash would.
    # - length > PACK_MAX (the tail): 60-bit polynomial hash with bit 63
    #   set (so long codes can never alias a packed short code), plus a
    #   SECOND independent hash to detect 64-bit collisions — two distinct
    #   terms colliding in hash1 would silently merge their posting lists
    #   corpus-wide, so each long token's hash2 is checked against its
    #   group representative (simultaneous collision ~2^-120); on mismatch
    #   the build falls back to exact byte keys.
    lengths = ends - starts
    max_len = int(lengths.max())
    n_tok = starts.size
    is_short = lengths <= PACK_MAX
    has_long = not bool(is_short.all())
    long_m = ~is_short
    with np.errstate(over="ignore"):
        hashes = np.zeros(n_tok, dtype=np.uint64)
        hashes2 = np.full(n_tok, np.uint64(0x243F6A8885A308D3),
                          dtype=np.uint64)
        for j in range(max_len):
            active = lengths > j
            if j < PACK_MAX:
                # uint8 gather, widen only the gathered slice (keeps DRAM
                # traffic at 1 byte/token/pass, not 8). When the batch has
                # no long tokens (the common case) this is the whole loop
                # body — no extra masks vs a plain rolling hash.
                act_s = (active & is_short) if has_long else active
                sym = _SYM6[arr[starts[act_s] + j]]
                hashes[act_s] = (hashes[act_s] << np.uint64(6)) | sym
                if not has_long:
                    continue
                act_l = active & long_m
            else:
                act_l = active
            byte = arr[starts[act_l] + j].astype(np.uint64)
            hashes[act_l] = hashes[act_l] * _HASH_B + byte
            hashes2[act_l] = hashes2[act_l] * _HASH2_B + byte
        # Short: mix in the length (<= 54 bits used + 4-bit length -> bit 63
        # clear). Long: fold to 60 bits, set bit 63 (+ length into hash2).
        hashes[is_short] = (
            (hashes[is_short] << np.uint64(4))
            | lengths[is_short].astype(np.uint64)
        )
        if has_long:
            hashes[long_m] = (
                (hashes[long_m] * _HASH_B + lengths[long_m].astype(np.uint64))
                & np.uint64((1 << 60) - 1)
            ) | np.uint64(1 << 63)
            hashes2[long_m] = (
                hashes2[long_m] * _HASH2_B + lengths[long_m].astype(np.uint64)
            )

    doc_of_tok = (np.searchsorted(doc_off, starts, side="right") - 1).astype(
        np.int32
    )
    dl_per_doc = np.bincount(doc_of_tok, minlength=n_docs).astype(np.int64)

    uniq_h, first_idx, codes = np.unique(
        hashes, return_index=True, return_inverse=True
    )
    if has_long and (hashes2 != hashes2[first_idx][codes]).any():
        # hash1 collision between distinct byte strings: exact-key slow path
        # (token identity = the LOWERCASED bytes).
        toks = np.array(
            [arr[s:e].tobytes() for s, e in zip(starts, ends)], dtype=object
        )
        _, first_idx, codes = np.unique(
            toks, return_index=True, return_inverse=True
        )
    # Materialize strings for unique terms only (from the LOWERCASED byte
    # array), then impose lexicographic code order (the on-disk term order
    # contract shared with merge).
    terms = np.array(
        [arr[starts[i]:ends[i]].tobytes().decode("ascii") for i in first_idx],
        dtype=object,
    )
    order = np.argsort(terms, kind="stable")
    terms_sorted = terms[order]
    remap = np.empty(len(order), dtype=np.int32)
    remap[order] = np.arange(len(order), dtype=np.int32)
    codes = remap[codes]
    return codes, doc_of_tok, dl_per_doc, terms_sorted


def encode_segment(
    doc_ids: np.ndarray, texts: pd.Series
) -> tuple[pd.DataFrame, dict]:
    """Encode one segment's postings.

    Returns (postings_rows, segment_summary):
      postings_rows columns: term, df, ctf, max_tf, tf_offset, dl_offset,
        checksum, blob, block_last_doc, block_max_tf, block_min_dl
      summary: n_docs, sum_dl, doc_lo, doc_hi, n_terms, n_postings, crc
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    order = np.argsort(doc_ids, kind="stable")
    doc_ids = doc_ids[order]
    texts = texts.iloc[order].reset_index(drop=True)

    n_docs = len(doc_ids)
    codes_flat, tok_doc, dl_per_doc, uniques = tokenize_batch_bytes(
        texts.tolist(), n_docs
    )
    summary = {
        "n_docs": int(n_docs),
        "sum_dl": int(dl_per_doc.sum()),
        "doc_lo": int(doc_ids.min()) if n_docs else -1,
        "doc_hi": int(doc_ids.max()) if n_docs else -1,
    }

    total_toks = int(dl_per_doc.sum())
    if total_toks == 0:
        summary.update({"n_terms": 0, "n_postings": 0, "crc": 0})
        return postings_rows_frame([]), summary

    # One stable radix sort over a combined (term, doc) int64 key drives
    # everything: postings come out term-grouped and docID-sorted. A single
    # key pass halves the memory traffic of a two-pass lexsort — this
    # kernel's ceiling is DRAM bandwidth, not CPU.
    key = codes_flat.astype(np.int64) * np.int64(n_docs) + tok_doc
    order = np.argsort(key, kind="stable")
    codes = codes_flat[order]
    tok_doc = tok_doc[order]

    # Run-length boundaries of (term, doc) pairs -> tf.
    new_pair = np.ones(len(codes), dtype=bool)
    new_pair[1:] = (codes[1:] != codes[:-1]) | (tok_doc[1:] != tok_doc[:-1])
    pair_starts = np.flatnonzero(new_pair)
    tfs = np.diff(np.append(pair_starts, len(codes))).astype(np.int64)
    p_codes = codes[pair_starts]
    p_docidx = tok_doc[pair_starts]
    p_doc = doc_ids[p_docidx]
    p_dl = dl_per_doc[p_docidx]

    # Term group boundaries over the postings rows.
    new_term = np.ones(len(p_codes), dtype=bool)
    new_term[1:] = p_codes[1:] != p_codes[:-1]
    t_starts = np.flatnonzero(new_term)
    t_counts = np.diff(np.append(t_starts, len(p_codes))).astype(np.int64)

    rows, seg_crc = encode_postings_rows(
        uniques, t_starts, t_counts, p_doc, tfs, p_dl
    )
    summary.update(
        {"n_terms": int(len(t_starts)), "n_postings": int(len(p_codes)),
         "crc": int(seg_crc)}
    )
    return rows, summary


def encode_postings_rows(
    uniques: np.ndarray,
    t_starts: np.ndarray,
    t_counts: np.ndarray,
    p_doc: np.ndarray,
    tfs: np.ndarray,
    p_dl: np.ndarray,
    crc: int = 0,
) -> tuple[pd.DataFrame, int]:
    """Vectorized whole-group varint encode of term-grouped, docID-sorted
    posting rows -> the on-disk postings table (one row per term).

    Used by the build path (encode_segment, one call per segment) and by
    the merge kernel (operators/merge.py, one call per chunk of whole terms
    of at most merge.BATCH_VALUES decoded values: whole-group encode over a
    25M-posting merge ran ~3.5x slower, BENCH.md "Merge kernel A/B"). One
    encoder on both paths is what makes a merged segment byte- and
    CRC-identical to a single-segment build (tests/test_merge_kernel.py,
    test_merge_then_query_identity). Inputs: `uniques[i]` is the term of
    group i; rows [t_starts[i], t_starts[i]+t_counts[i]) of p_doc/tfs/p_dl
    are its postings, docID-ascending. The segment CRC chains from `crc`,
    so chunks encoded in order give the whole segment's CRC. Returns
    (rows_df, seg_crc)."""
    n_terms = len(t_starts)

    # docID deltas with reset at term starts.
    deltas = np.empty_like(p_doc)
    deltas[0] = p_doc[0]
    deltas[1:] = p_doc[1:] - p_doc[:-1]
    deltas[t_starts] = p_doc[t_starts]

    doc_buf, doc_ends = varint_encode_with_bounds(deltas.astype(np.uint64))
    tf_buf, tf_ends = varint_encode_with_bounds(tfs.astype(np.uint64))
    dl_buf, dl_ends = varint_encode_with_bounds(p_dl.astype(np.uint64))

    t_ends_rows = t_starts + t_counts  # exclusive end row of each term
    def sect_bounds(ends):
        hi = ends[t_ends_rows - 1]
        lo = np.empty_like(hi)
        lo[0] = 0
        lo[1:] = hi[:-1]
        return lo, hi

    d_lo, d_hi = sect_bounds(doc_ends)
    f_lo, f_hi = sect_bounds(tf_ends)
    l_lo, l_hi = sect_bounds(dl_ends)

    # Skip blocks: global start row of every block of every term.
    blocks_per_term = (t_counts + SKIP_BLOCK - 1) // SKIP_BLOCK
    total_blocks = int(blocks_per_term.sum())
    block_term = np.repeat(np.arange(n_terms), blocks_per_term)
    first_block = np.concatenate(([0], np.cumsum(blocks_per_term)[:-1]))
    block_in_term = np.arange(total_blocks) - first_block[block_term]
    block_starts = t_starts[block_term] + block_in_term * SKIP_BLOCK

    blk_last = np.maximum.reduceat(p_doc, block_starts)
    blk_maxtf = np.maximum.reduceat(tfs, block_starts).astype(np.int32)
    blk_mindl = np.minimum.reduceat(p_dl, block_starts).astype(np.int32)

    ctf = np.add.reduceat(tfs, t_starts).astype(np.int64)
    max_tf = np.maximum.reduceat(tfs, t_starts).astype(np.int32)

    mv_doc, mv_tf, mv_dl = memoryview(doc_buf), memoryview(tf_buf), memoryview(dl_buf)
    blobs, checksums = [], np.empty(n_terms, dtype=np.int64)
    seg_crc = crc
    for i in range(n_terms):
        blob = bytes(mv_doc[d_lo[i]:d_hi[i]]) + bytes(mv_tf[f_lo[i]:f_hi[i]]) + bytes(
            mv_dl[l_lo[i]:l_hi[i]]
        )
        blobs.append(blob)
        c = zlib.crc32(blob) & 0xFFFFFFFF
        checksums[i] = c
        seg_crc = zlib.crc32(blob, seg_crc) & 0xFFFFFFFF

    b_lo = first_block
    b_hi = first_block + blocks_per_term
    rows = pd.DataFrame(
        {
            "term": uniques.astype(object),
            "df": t_counts.astype(np.int32),
            "ctf": ctf,
            "max_tf": max_tf,
            "tf_offset": (d_hi - d_lo).astype(np.int32),
            "dl_offset": (d_hi - d_lo + f_hi - f_lo).astype(np.int32),
            "checksum": checksums,
            "blob": pd.Series(blobs, dtype=object),
            "block_last_doc": [blk_last[b_lo[i]:b_hi[i]] for i in range(n_terms)],
            "block_max_tf": [blk_maxtf[b_lo[i]:b_hi[i]] for i in range(n_terms)],
            "block_min_dl": [blk_mindl[b_lo[i]:b_hi[i]] for i in range(n_terms)],
            "codec": np.full(n_terms, 1, dtype=np.int32),
        }
    )
    return rows, seg_crc


def postings_rows_frame(encs: list) -> pd.DataFrame:
    """codec.EncodedPostings rows -> the frame encode_postings_rows returns
    (the per-term encoder's output in the build's table shape)."""
    return pd.DataFrame(
        {
            "term": pd.Series([e.term for e in encs], dtype=object),
            "df": np.array([e.df for e in encs], dtype=np.int32),
            "ctf": np.array([e.ctf for e in encs], dtype=np.int64),
            "max_tf": np.array([e.max_tf for e in encs], dtype=np.int32),
            "tf_offset": np.array([e.tf_offset for e in encs], dtype=np.int32),
            "dl_offset": np.array([e.dl_offset for e in encs], dtype=np.int32),
            "checksum": np.array([e.checksum for e in encs], dtype=np.int64),
            "blob": pd.Series([e.blob for e in encs], dtype=object),
            "block_last_doc": pd.Series(
                [e.block_last_doc for e in encs], dtype=object),
            "block_max_tf": pd.Series(
                [e.block_max_tf for e in encs], dtype=object),
            "block_min_dl": pd.Series(
                [e.block_min_dl for e in encs], dtype=object),
            "codec": np.array([e.codec for e in encs], dtype=np.int32),
        }
    )
