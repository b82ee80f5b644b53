"""Segment merge: N doc-range segments -> fewer (default 1) doc-range
segments, Lucene-codec-style.

Counterpart of the reference's forced merge (ForceMergesOnlyMergePolicy
merges ALL segments in one forced merge, ForceMergesOnlyMergePolicy.java:41-61;
JVectorWriter.mergeOneField re-streams every input segment's values in
baseDocId order, JVectorWriter.java:132-175). For posting lists the merge is
cheaper than the reference's graph rebuild: segments cover disjoint,
ascending docID ranges, so a term's merged posting list is the concatenation
of its per-segment lists in segment order — pure decode + concat + re-encode,
O(N) per term, no rebase needed because our docIDs are global from build
time (the docID-rebasing discipline is paid once, at docID assignment).

Task shape: no shuffle. The driver plans the merged segments as one small
frame of (merged_seg, input seg_ids); a mapInPandas task per merged segment
reads its input `segments/seg_id=N/` files itself with pyarrow (the same
filesystem the merged output is written through), so no posting byte moves
between workers. fan_in bounds the memory of one task.

Kernel: the input rows are walked in term order and cut into chunks of
whole terms of at most BATCH_VALUES decoded values. Each chunk is one flat
varint decode, index gathers into doc/tf/dl, a docID cumsum reset per list,
the expunge mask, a (term, doc) lexsort only when the chunk is out of
order, and the build's whole-array encoder (segment.encode_postings_rows),
so a merged segment is byte-identical to a single-segment build.
"""

from __future__ import annotations

import json
import os
import time
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import SparkSession

from .build import committed_segments, write_dict, write_postings
from .codec import (
    CODEC_VARINT,
    PostingList,
    decode_postings,
    decode_varint_lists,
    encode_postings,
)
from .query import IndexHandle
from .segment import encode_postings_rows, postings_rows_frame

MERGE_SUMMARY_SCHEMA = (
    "seg_id INT, n_terms LONG, n_postings LONG, crc LONG, merge_ms LONG, "
    "dl_purged LONG"
)

# Decoded values (3 per posting) per kernel chunk. MEASURED
# (scripts/merge_scale.py, 4 cores, medians of 3, interleaved with the
# per-term loop this kernel replaced; CRC-identical outputs): the
# `ingest` shape (6 segments, 593k postings) merges in 0.70-0.84 s, task
# 217-296 ms, against 2.14-2.87 s, task 1.06-1.67 s; a 200k-turn,
# 5-segment index (9.87M postings, max df 186k) in 1.87-2.20 s against
# 3.01-3.69 s. Budget sweep of the in-process kernel (same host, medians
# of 3, interleaved): 200k-turn rows 1.47/1.19/1.32/1.94 s and `ingest`
# rows 0.13/0.13/0.13/0.15 s at 125k/500k/2M/8M values. At 2M a chunk
# holds a 16 MB uint64 decode plus ~5 MB per int64 posting array; larger
# chunks are slower, and a whole-group decode and encode over 25M
# postings ran ~3.5x slower than a per-term loop (BENCH.md, "Merge
# kernel A/B"). The sort is conditional: sorting every chunk took
# the 200k-turn kernel from 1.2-1.3 s to 2.2-2.9 s in-process.
BATCH_VALUES = 2_000_000

_INPUT_COLUMNS = ["term", "df", "tf_offset", "dl_offset", "checksum", "blob"]


def read_segment_rows(segments_path: str, seg_ids: list[int]) -> pa.Table:
    """The postings rows of the given input segments, sorted by (term,
    seg_id). Each `seg_id=N/` directory is read with pyarrow's default
    ignore-prefixes, so `_`-prefixed temporary files are skipped as Spark
    skips them."""
    parts = []
    for s in sorted(seg_ids):
        t = ds.dataset(
            os.path.join(segments_path, f"seg_id={s}"), format="parquet"
        ).to_table()
        if not t.num_rows:
            continue
        codec = (
            t.column("codec") if "codec" in t.column_names
            else pa.array(np.full(t.num_rows, CODEC_VARINT, np.int32))
        )
        parts.append(t.select(_INPUT_COLUMNS).append_column("codec", codec))
    if not parts:
        return pa.table({})
    # A stable sort on term keeps the segment order within each term.
    return pa.concat_tables(parts).sort_by("term")


def merge_rows(
    rows: pa.Table,
    deleted: np.ndarray | None = None,
    pending: np.ndarray | None = None,
    codec: str = "varint",
    batch_values: int = BATCH_VALUES,
) -> tuple[pd.DataFrame, int, int]:
    """Merge term-sorted input postings rows (read_segment_rows) into one
    segment's postings rows. Docs in `deleted` are expunged; the dl of each
    expunged doc also in `pending` is credited once. Returns (rows frame,
    seg_crc, dl purged)."""
    n = rows.num_rows
    terms = rows.column("term").to_numpy(zero_copy_only=False)
    dfs = rows.column("df").to_numpy().astype(np.int64)
    codecs = rows.column("codec").to_numpy()
    blob = rows.column("blob").cast(pa.large_binary()).combine_chunks()
    off = np.frombuffer(blob.buffers()[1], np.int64)[
        blob.offset:blob.offset + n + 1
    ]
    data = (
        np.frombuffer(blob.buffers()[2], np.uint8) if n
        else np.zeros(0, np.uint8)
    )
    checksums = rows.column("checksum").to_numpy()
    tf_off = rows.column("tf_offset").to_numpy()
    dl_off = rows.column("dl_offset").to_numpy()

    new_term = np.ones(n, dtype=bool)
    new_term[1:] = terms[1:] != terms[:-1]
    term_rows = np.append(np.flatnonzero(new_term), n)  # first row per term
    term_of_row = np.cumsum(new_term) - 1
    term_names = terms[term_rows[:-1]]
    # Chunks of whole terms, each at most batch_values decoded values (a
    # larger term is its own chunk).
    cum = np.concatenate(([0], np.cumsum(3 * dfs)))[term_rows]
    cuts = [0]
    while cuts[-1] < len(term_names):
        i = cuts[-1]
        j = int(np.searchsorted(cum, cum[i] + batch_values, side="right")) - 1
        cuts.append(max(j, i + 1))

    frames, seg_crc, purged = [], 0, []
    for ti, tj in zip(cuts[:-1], cuts[1:]):
        r0, r1 = int(term_rows[ti]), int(term_rows[tj])
        cdf = dfs[r0:r1]
        if (codecs[r0:r1] == CODEC_VARINT).all():
            docs, tfs, dls = decode_varint_lists(
                data[off[r0]:off[r1]], off[r0:r1 + 1] - off[r0], cdf,
                checksums[r0:r1],
            )
        else:
            # A chunk with lists in another codec decodes list by list.
            pls = [
                decode_postings(
                    data[off[r]:off[r + 1]].tobytes(), int(dfs[r]),
                    int(tf_off[r]), int(dl_off[r]), int(checksums[r]),
                    codec=int(codecs[r]),
                )
                for r in range(r0, r1)
            ]
            docs, tfs, dls = (
                np.concatenate([getattr(pl, f) for pl in pls])
                for f in ("doc_ids", "tfs", "dls")
            )
        tids = np.repeat(term_of_row[r0:r1], cdf)

        if deleted is not None:
            idx = np.searchsorted(deleted, docs)
            idx[idx == len(deleted)] = 0
            dead = deleted[idx] == docs
            if dead.any():
                if pending is not None:
                    pidx = np.searchsorted(pending, docs[dead])
                    pidx[pidx == len(pending)] = 0
                    pmask = pending[pidx] == docs[dead]
                    purged.append((docs[dead][pmask], dls[dead][pmask]))
                live = ~dead
                docs, tfs, dls, tids = docs[live], tfs[live], dls[live], tids[live]
        if not len(docs):
            continue  # every term of the chunk died with its docs

        # Segment order already gives (term, doc) order when input doc
        # ranges are ascending (the seg_size layout); aligned-partition
        # segments may overlap, and only then is the chunk sorted.
        same = tids[1:] == tids[:-1]
        if (same & (docs[1:] <= docs[:-1])).any():
            order = np.lexsort((docs, tids))
            docs, tfs, dls, tids = docs[order], tfs[order], dls[order], tids[order]
            if ((tids[1:] == tids[:-1]) & (docs[1:] == docs[:-1])).any():
                raise ValueError("a docID appears in two input segments")
        starts = np.flatnonzero(np.append(True, tids[1:] != tids[:-1]))
        counts = np.diff(np.append(starts, len(docs)))
        names = term_names[tids[starts]]
        if codec == "varint":
            frame, seg_crc = encode_postings_rows(
                names, starts, counts, docs, tfs, dls, crc=seg_crc
            )
        else:
            encs = [
                encode_postings(
                    t, PostingList(docs[s:s + c], tfs[s:s + c], dls[s:s + c]),
                    codec=codec,
                )
                for t, s, c in zip(names, starts, counts)
            ]
            for e in encs:
                seg_crc = zlib.crc32(e.blob, seg_crc) & 0xFFFFFFFF
            frame = postings_rows_frame(encs)
        frames.append(frame)

    out = (
        pd.concat(frames, ignore_index=True) if frames
        else postings_rows_frame([])
    )
    dl_purged = 0
    if purged:
        # dl is constant per doc: credit each purged doc once.
        pdocs = np.concatenate([d for d, _ in purged])
        pdls = np.concatenate([l for _, l in purged])
        _, first = np.unique(pdocs, return_index=True)
        dl_purged = int(pdls[first].sum())
    return out, seg_crc, dl_purged


def merge_segments(
    spark: SparkSession,
    index: IndexHandle,
    fan_in: int | None = None,
    codec: str = "varint",
    storage=None,
) -> dict:
    """Merge the segment index into ceil(n_segments / fan_in) merged
    segments (fan_in=None -> one segment, the forceMerge(1) analog).
    The merged-manifest commit marker flows through the IndexStorage
    client (one atomic PUT; same protocol as build/vector maintenance);
    merged DATA files are create-only through the cluster FS, gated by
    that marker."""
    from .build import _text_storage

    st = _text_storage(storage)
    manifests = committed_segments(index.index_dir, storage=st)
    seg_ids = sorted(manifests)
    if not seg_ids:
        raise ValueError("no committed segments to merge")
    if fan_in is None:
        fan_in = len(seg_ids)
    group_of = {s: i // fan_in for i, s in enumerate(seg_ids)}
    merged_dir = index.merged_path
    os.makedirs(merged_dir, exist_ok=True)
    # Drop stale output dirs from a previous merge with a different output
    # set (e.g. a larger fan_in produced more merged segments): the
    # post-purge dict rebuild and the serving scan read merged_dir
    # wholesale, so a surviving stale seg_id=N dir would double-count
    # df/ctf and duplicate postings.
    import shutil

    out_ids = {f"seg_id={g}" for g in set(group_of.values())}
    for name in os.listdir(merged_dir):
        if name.startswith("seg_id=") and name not in out_ids:
            shutil.rmtree(os.path.join(merged_dir, name), ignore_errors=True)

    # Expunge-deletes (the forceMerge contract): the merged output drops
    # every deleted doc's postings; stats are adjusted afterwards for the
    # ids not yet purged by a previous merge (idempotent re-merge).
    from .deletes import deleted_docs, mark_purged, pending_purge

    _deleted = deleted_docs(index.index_dir)
    _pending = pending_purge(index.index_dir)
    bc_deleted = spark.sparkContext.broadcast(
        _deleted if len(_deleted) else None
    )
    bc_pending = spark.sparkContext.broadcast(
        _pending if len(_pending) else None
    )
    segments_path = index.segments_path
    batch_values = BATCH_VALUES  # read in the driver, so a patch reaches tasks

    def merge_group(merged_seg: int, inputs: list[int]) -> pd.DataFrame | None:
        t0 = time.monotonic()
        rows = read_segment_rows(segments_path, inputs)
        if not rows.num_rows:
            return None
        out, seg_crc, dl_purged = merge_rows(
            rows, bc_deleted.value, bc_pending.value, codec, batch_values
        )
        write_postings(os.path.join(merged_dir, f"seg_id={merged_seg}"), out)
        ms = int((time.monotonic() - t0) * 1000)
        return pd.DataFrame(
            [{"seg_id": merged_seg, "n_terms": len(out),
              "n_postings": int(out["df"].sum()), "crc": seg_crc,
              "merge_ms": ms, "dl_purged": dl_purged}]
        )

    def merge_partition(batches):
        for pdf in batches:
            for g, inputs in zip(pdf["merged_seg"], pdf["seg_ids"]):
                out = merge_group(int(g), [int(s) for s in inputs])
                if out is not None:
                    yield out

    groups = [
        (g, [s for s in seg_ids if group_of[s] == g])
        for g in sorted(set(group_of.values()))
    ]
    # A local frame of one row per merged segment: Spark gives each row its
    # own task (up to defaultParallelism) and nothing is shuffled.
    summaries = (
        spark.createDataFrame(groups, "merged_seg INT, seg_ids ARRAY<INT>")
        .mapInPandas(merge_partition, MERGE_SUMMARY_SCHEMA)
        .collect()
    )
    # --- expunge-deletes bookkeeping: adjust stats for the ids this merge
    # purged for the first time, rebuild the dict from the merged postings
    # (per-term df changed), and record the purge. Idempotent: a re-merge
    # finds pending empty and skips all of this.
    if len(_pending):
        dl_purged = sum(int(r["dl_purged"]) for r in summaries)
        stats_path = os.path.join(index.index_dir, "stats.json")
        with open(stats_path) as f:
            stats = json.load(f)
        old_n = int(stats["n_docs"])
        old_total = int(
            stats.get("total_dl", round(float(stats["avgdl"]) * old_n))
        )
        stats.setdefault("max_doc", old_n + int(len(_deleted) - len(_pending)))
        stats["n_docs"] = old_n - int(len(_pending))
        stats["total_dl"] = old_total - dl_purged
        stats["avgdl"] = (
            stats["total_dl"] / stats["n_docs"] if stats["n_docs"] else 0.0
        )
        st.put_bytes(
            stats_path, json.dumps(stats, indent=1, sort_keys=True).encode()
        )
        write_dict(spark, merged_dir, index.dict_path, len(seg_ids))
        mark_purged(index.index_dir, storage=st)

    manifest = {
        "fan_in": fan_in,
        "input_segments": seg_ids,
        "n_docs_purged": int(len(_pending)),
        "merged_segments": [
            {
                "seg_id": int(r["seg_id"]),
                "n_terms": int(r["n_terms"]),
                "n_postings": int(r["n_postings"]),
                "crc": int(r["crc"]),
                "merge_ms": int(r["merge_ms"]),
            }
            for r in sorted(summaries, key=lambda r: r["seg_id"])
        ],
    }
    st.put_bytes(
        os.path.join(index.index_dir, "merged_manifest.json"),
        json.dumps(manifest, indent=1, sort_keys=True).encode(),
    )
    from ..plans.metrics import append_metrics

    append_metrics(
        index.index_dir,
        {
            "job": "merge",
            "fan_in": fan_in,
            "codec": codec,
            "inputs": len(seg_ids),
            "outputs": len(manifest["merged_segments"]),
            "merge_ms_total": sum(
                m["merge_ms"] for m in manifest["merged_segments"]
            ),
        },
    )
    return manifest
