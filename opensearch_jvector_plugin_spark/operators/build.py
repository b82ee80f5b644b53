"""Distributed index build: corpus -> per-segment posting files + manifests.

Lifecycle mirror of the reference's flush path (JVectorWriter flush ->
writeField -> writeGraph -> meta offsets -> finish() sentinel + footers,
JVectorWriter.java:177-196,333-350), Spark-first:

    corpus (doc_id assigned)
      -> a corpus of at most DRIVER_BUILD_MAX_ROWS rows is cut and encoded
         in the driver (build_index_local: the same writers, no Spark job)
      -> segment layout: either seg_id = doc_id // seg_size with ONE
         shuffle (deterministic doc ranges, fine-grained resume), or
         align_partitions=True: each ingest partition IS a segment —
         ZERO shuffle (the Lucene writer model; the scaling-bench path)
      -> applyInPandas/mapInPandas(encode_segment) (whole-segment NumPy)
           executor writes  segments/seg_id=K/postings.parquet  via pyarrow
           returns one summary row per segment
      -> driver writes manifests/seg-K.json      (commit marker: a segment
                                                  whose manifest exists is
                                                  DONE and skipped on resume)
      -> stats.json (N, total_dl, avgdl)         (the "trained state")
      -> dict/ parquet (term -> global df, ctf)  (column-pruned read of the
                                                  segment metadata, no blobs:
                                                  summed in the driver under
                                                  DICT_DRIVER_MAX_BYTES, else
                                                  a Spark aggregate)

Scale notes (100 TB / 10^12 turns):
- seg_size bounds per-task memory: a segment is one task and one in-memory
  encode; size it so tokens-per-segment fits an executor (config knob).
- The shuffle moves raw rows once; tokenization happens AFTER the shuffle so
  only (text, doc_id) bytes move, not exploded tokens (~10x smaller).
- The dict job reads only (term, df, ctf) columns - Parquet column pruning
  keeps blobs on disk.
- Resume: manifests are the checkpoint; re-running the build recomputes only
  segments with no committed manifest (per-partition lineage in each row).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import FORMAT_VERSION
from ..functions.tokenizer import TOKENIZER_VERSION
from ..plans import state
from .codec import CODEC_VERSION
from .segment import encode_segment

# The postings files' schema (seg_id is the hive partition column). The
# distributed query scan reads with it, so it pays no schema-inference job.
POSTINGS_SPARK_SCHEMA = (
    "seg_id INT, term STRING, df INT, ctf LONG, max_tf INT, "
    "tf_offset INT, dl_offset INT, checksum LONG, blob BINARY, "
    "block_last_doc ARRAY<LONG>, block_max_tf ARRAY<INT>, "
    "block_min_dl ARRAY<INT>, codec INT"
)

# A corpus of at most this many rows is built in the driver
# (`build_index_local`) by the registry's one-time state builds, which
# read its count from parquet footers or manifests: the one bound of
# "state built in the driver" (`_index_for`, `_toks` and
# `query.write_decoded_postings`). Measured crossover
# (scripts/build_crossover.py: 4 cores, warm, transcript turns, median of
# 3; BENCH.md): the 8-segment index build is close at 10k turns (driver
# 0.73 s, Spark 0.87 s) and Spark wins from 50k (1.87 s against 1.25 s),
# while the tokenized corpus still ran faster in the driver at 50k
# (1.45 s against 2.14 s).
DRIVER_BUILD_MAX_ROWS = 10_000

SUMMARY_SCHEMA = (
    "seg_id INT, n_docs LONG, sum_dl LONG, doc_lo LONG, doc_hi LONG, "
    "n_terms LONG, n_postings LONG, crc LONG, build_ms LONG, path STRING"
)


def _seg_dir(index_dir: str, seg_id: int) -> str:
    return os.path.join(index_dir, "segments", f"seg_id={seg_id}")


def _manifest_path(index_dir: str, seg_id: int) -> str:
    return os.path.join(index_dir, "manifests", f"seg-{seg_id:05d}.json")


def _list_column(arrays, value_type) -> pa.ListArray:
    """Per-term NumPy arrays -> one Arrow list column (offsets + values)."""
    lens = np.fromiter(map(len, arrays), np.int64, len(arrays))
    offsets = np.zeros(len(arrays) + 1, np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = np.concatenate(arrays) if len(arrays) else np.zeros(0, np.int64)
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), pa.array(values, value_type)
    )


def write_postings(out_dir: str, rows: pd.DataFrame) -> None:
    """Write one segment's postings rows (the frame of
    segment.encode_postings_rows) as out_dir/postings.parquet: written to
    a `_`-prefixed temp file, which every reader skips, then renamed into
    place."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pydict(
        {
            "term": pa.array(rows["term"], pa.string()),
            "df": pa.array(rows["df"], pa.int32()),
            "ctf": pa.array(rows["ctf"], pa.int64()),
            "max_tf": pa.array(rows["max_tf"], pa.int32()),
            "tf_offset": pa.array(rows["tf_offset"], pa.int32()),
            "dl_offset": pa.array(rows["dl_offset"], pa.int32()),
            "checksum": pa.array(rows["checksum"], pa.int64()),
            "blob": pa.array(rows["blob"], pa.binary()),
            "block_last_doc": _list_column(rows["block_last_doc"], pa.int64()),
            "block_max_tf": _list_column(rows["block_max_tf"], pa.int32()),
            "block_min_dl": _list_column(rows["block_min_dl"], pa.int32()),
            "codec": pa.array(rows["codec"], pa.int32()),
        }
    )
    tmp = os.path.join(out_dir, "_postings.parquet.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, os.path.join(out_dir, "postings.parquet"))


def _text_storage(storage):
    if storage is not None:
        return storage
    from ..storage import PosixStorage

    return PosixStorage()


def committed_segments(index_dir: str, storage=None) -> dict[int, dict]:
    """seg_id -> manifest for every committed (resumable-skip) segment."""
    st = _text_storage(storage)
    mdir = os.path.join(index_dir, "manifests")
    out = {}
    for name in st.list_dir(mdir):
        if name.startswith("seg-") and name.endswith(".json"):
            m = json.loads(st.read_bytes(os.path.join(mdir, name)))
            out[int(m["segment_id"])] = m
    return out


def _empty_summary() -> pd.DataFrame:
    return pd.DataFrame(
        columns=["seg_id", "n_docs", "sum_dl", "doc_lo", "doc_hi",
                 "n_terms", "n_postings", "crc", "build_ms", "path"]
    )


def write_segment(
    index_dir: str, seg_id: int, doc_ids: np.ndarray, texts: pd.Series
) -> dict:
    """Encode one segment and write its postings file; returns its summary
    row (SUMMARY_SCHEMA). The one segment writer of the build executors
    and the driver append."""
    t0 = time.monotonic()
    rows, summary = encode_segment(doc_ids, texts)
    out_dir = _seg_dir(index_dir, seg_id)
    write_postings(out_dir, rows)
    return {
        "seg_id": seg_id,
        "n_docs": summary["n_docs"],
        "sum_dl": summary["sum_dl"],
        "doc_lo": summary["doc_lo"],
        "doc_hi": summary["doc_hi"],
        "n_terms": summary["n_terms"],
        "n_postings": summary["n_postings"],
        "crc": summary["crc"],
        "build_ms": int((time.monotonic() - t0) * 1000),
        "path": out_dir,
    }


def commit_segments(
    spark: SparkSession,
    index_dir: str,
    summaries,
    storage,
    segments_skipped: int = 0,
    align_partitions: bool = False,
    input_fingerprint: str = "",
    executor: str = "spark",
) -> dict:
    """Commit written segments: one manifest per summary row (the commit
    marker: a segment whose manifest exists is DONE and skipped on
    resume), then stats.json + dict and the build metrics record, which
    names the executor that encoded the segments ("driver" or "spark").
    Returns the index stats."""
    for row in summaries:
        m = {
            "format_version": FORMAT_VERSION,
            "tokenizer_version": TOKENIZER_VERSION,
            "codec_version": CODEC_VERSION,
            "segment_id": int(row["seg_id"]),
            "n_docs": int(row["n_docs"]),
            "sum_dl": int(row["sum_dl"]),
            "doc_lo": int(row["doc_lo"]),
            "doc_hi": int(row["doc_hi"]),
            "n_terms": int(row["n_terms"]),
            "n_postings": int(row["n_postings"]),
            "crc": int(row["crc"]),
            "build_ms": int(row["build_ms"]),
            "input_fingerprint": input_fingerprint,
        }
        storage.put_bytes(
            _manifest_path(index_dir, int(row["seg_id"])),
            json.dumps(m, indent=1, sort_keys=True).encode(),
        )

    stats = finalize_index(spark, index_dir, storage=storage)
    from ..plans.metrics import append_metrics

    append_metrics(
        index_dir,
        {
            "job": "build",
            "segments_built": len(summaries),
            "segments_skipped": segments_skipped,
            "n_docs": stats["n_docs"],
            "build_ms_total": stats["build_ms_total"],
            "align_partitions": align_partitions,
            "input_fingerprint": input_fingerprint,
            "executor": executor,
        },
        storage=storage,
    )
    return stats


def build_index_local(
    index_dir: str,
    doc_ids: np.ndarray,
    texts: pd.Series,
    seg_size: int,
    base_seg: int = 0,
    *,
    spark: SparkSession,
) -> dict:
    """The driver executor of the build: `doc_ids` are offset by the
    segment boundary `base_seg * seg_size`, the rows are cut into
    `doc_id // seg_size` segments, each is written by `write_segment`, and
    one `commit_segments` commits them all. Committed segments are skipped
    (manifest resume, as in `build_index`). No Spark job runs unless the
    dictionary exceeds the driver bound of `write_dict`. The driver holds
    the whole corpus, so callers keep it under DRIVER_BUILD_MAX_ROWS (a
    one-segment append: under seg_size)."""
    st = _text_storage(None)
    st.mkdirs(os.path.join(index_dir, "manifests"))
    st.mkdirs(os.path.join(index_dir, "segments"))
    done = committed_segments(index_dir, storage=st)
    doc_ids = np.asarray(doc_ids, dtype=np.int64) + base_seg * seg_size
    texts = pd.Series(texts).reset_index(drop=True)
    seg_ids = doc_ids // seg_size
    summaries = []
    for sid in np.unique(seg_ids):
        if int(sid) in done:
            continue
        mask = seg_ids == sid
        summaries.append(write_segment(
            index_dir, int(sid), doc_ids[mask], texts[mask]
        ))
    return commit_segments(
        spark, index_dir, summaries, st,
        segments_skipped=len(done), executor="driver",
    )


def build_index(
    corpus: DataFrame,
    index_dir: str,
    seg_size: int = 100_000,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    resume: bool = True,
    input_fingerprint: str = "",
    align_partitions: bool = False,
    storage=None,
) -> dict:
    """Build (or resume building) the segment index. Returns the final
    index-level stats dict (also persisted as stats.json).

    align_partitions=True is the shuffle-free fast path (the Lucene model:
    each ingest writer flushes its own segments, no data movement): every
    INPUT PARTITION becomes one segment (seg_id = partition id), so the
    build is scan -> encode -> write with zero shuffle. Segment doc ranges
    may then overlap; query is unaffected (docIDs are global) and merge
    re-sorts by docID. Resume granularity follows partition ids, which are
    stable only if the input file layout and read conf are unchanged.

    Storage contract (round 5): segment DATA files are written
    executor-side through the cluster filesystem layer, create-only —
    visibility is gated by the manifest, never by the data write, so no
    rename is load-bearing there. COMMIT MARKERS (per-segment manifests,
    stats.json) flow through the driver-side IndexStorage client
    (`storage`, default PosixStorage) — one atomic whole-object PUT each,
    the same object-store-portable protocol as the vector index.
    """
    spark = corpus.sparkSession
    st = _text_storage(storage)
    st.mkdirs(os.path.join(index_dir, "manifests"))
    st.mkdirs(os.path.join(index_dir, "segments"))

    done = committed_segments(index_dir, storage=st) if resume else {}
    skip_ids = sorted(done)

    if align_partitions:
        work = corpus.select(
            F.col(doc_id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
        )
    else:
        work = corpus.select(
            F.col(doc_id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
            (F.col(doc_id_col).cast("long") / F.lit(seg_size))
            .cast("int")
            .alias("seg_id"),
        )
        if skip_ids:
            work = work.where(~F.col("seg_id").isin(skip_ids))

    if align_partitions:
        skip_set = set(skip_ids)

        def build_partition(batches):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            if pid in skip_set:
                yield _empty_summary()
                return
            parts = [pdf for pdf in batches if len(pdf)]
            if not parts:
                yield _empty_summary()
                return
            pdf = pd.concat(parts, ignore_index=True)
            yield pd.DataFrame([write_segment(
                index_dir, pid, pdf["doc_id"].to_numpy(), pdf["text"]
            )])

        summaries = work.mapInPandas(
            build_partition, SUMMARY_SCHEMA
        ).collect()
    else:

        def build_one(pdf):
            if len(pdf) == 0:
                return _empty_summary()
            seg_id = int(pdf["seg_id"].iloc[0])
            return pd.DataFrame([write_segment(
                index_dir, seg_id, pdf["doc_id"].to_numpy(), pdf["text"]
            )])

        summaries = (
            work.groupBy("seg_id").applyInPandas(build_one, SUMMARY_SCHEMA).collect()
        )

    return commit_segments(
        spark, index_dir, summaries, st,
        segments_skipped=len(skip_ids), align_partitions=align_partitions,
        input_fingerprint=input_fingerprint,
    )


def finalize_index(spark: SparkSession, index_dir: str, storage=None) -> dict:
    """stats.json + global term dictionary from committed manifests."""
    st = _text_storage(storage)
    manifests = committed_segments(index_dir, storage=st)
    n_docs = sum(m["n_docs"] for m in manifests.values())
    total_dl = sum(m["sum_dl"] for m in manifests.values())
    stats = {
        "format_version": FORMAT_VERSION,
        "tokenizer_version": TOKENIZER_VERSION,
        "codec_version": CODEC_VERSION,
        "n_docs": n_docs,
        # docID-space bound: purge shrinks n_docs but never renumbers, so
        # delete validation checks against max_doc, which never shrinks.
        "max_doc": n_docs,
        "total_dl": total_dl,
        "avgdl": (total_dl / n_docs) if n_docs else 0.0,
        "n_segments": len(manifests),
        "build_ms_total": sum(m["build_ms"] for m in manifests.values()),
    }
    st.put_bytes(
        os.path.join(index_dir, "stats.json"),
        json.dumps(stats, indent=1, sort_keys=True).encode(),
    )

    if manifests:
        write_dict(
            spark, os.path.join(index_dir, "segments"),
            os.path.join(index_dir, "dict"), len(manifests),
        )
    return stats


# The dictionary's input columns of the postings files, as the driver
# executor reads them.
_DICT_INPUT_SCHEMA = pa.schema(
    [("term", pa.string()), ("df", pa.int32()), ("ctf", pa.int64())]
)


def write_dict(
    spark: SparkSession, postings_path: str, dict_path: str, n_segments: int
) -> None:
    """The global term dictionary (term, df, ctf) of the segment postings
    under `postings_path`, summed per term (one writer for the build and
    the purging merge).

    Two executors: when the footers put the postings' term/df/ctf column
    chunks at no more than `state.DICT_DRIVER_MAX_BYTES` (the bound under
    which the dict is also read driver-side), the driver sums them with
    pyarrow; a bigger dictionary is a Spark aggregate."""
    postings = ds.dataset(
        postings_path, format="parquet", partitioning="hive",
        schema=_DICT_INPUT_SCHEMA,
    )
    if _dict_input_bytes(postings) <= state.DICT_DRIVER_MAX_BYTES:
        _write_dict_local(postings, dict_path)
        return
    (
        spark.read.schema(POSTINGS_SPARK_SCHEMA).parquet(postings_path)
        .select("term", "df", "ctf")
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"),
             F.sum("ctf").cast("long").alias("ctf"))
        # coalesce: bound the output file count WITHOUT the second full
        # exchange a repartition() pays after the groupBy's (round 7,
        # guide §2.4; dict content is set-identical).
        .coalesce(max(1, min(32, n_segments)))
        .write.mode("overwrite")
        .parquet(dict_path)
    )


def _dict_input_bytes(postings) -> int:
    """Uncompressed bytes of the term/df/ctf column chunks, from the
    footers (no data read)."""
    total = 0
    for frag in postings.get_fragments():
        md = frag.metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                col = rg.column(j)
                if col.path_in_schema in _DICT_INPUT_SCHEMA.names:
                    total += col.total_uncompressed_size
    return total


def _write_dict_local(postings, dict_path: str) -> None:
    """The driver executor of write_dict: the per-term sums, sorted by
    term, as the one file of `dict_path` (`state.write_parquet_dir`)."""
    agg = postings.to_table().group_by("term").aggregate(
        [("df", "sum"), ("ctf", "sum")]
    )
    # Integer sums are int64, the Spark aggregate's bigint.
    table = pa.table(
        {"term": agg["term"], "df": agg["df_sum"], "ctf": agg["ctf_sum"]}
    ).sort_by("term")
    # Terms are unique here, so a dictionary page for them would only add
    # an index array (the file is about a fifth larger with it).
    state.write_parquet_dir(table, dict_path, use_dictionary=["df", "ctf"])
