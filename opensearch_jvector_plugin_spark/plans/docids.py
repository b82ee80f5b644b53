"""Dense global docID assignment.

The engine's docID contract (SURVEY.md §1.2): dense int64 assigned by stable
sort on (conv_id, turn_idx) — the same dense-int, rebasable discipline the
reference uses (docBase rebase at query time DocAndScoreQuery.java:147,
baseDocId rebase at merge time JVectorWriter.java:149-161).

Two implementations:

- ``method="window"``: `row_number() OVER (ORDER BY ...)` — simple, but the
  global window collapses to a single partition; only for small inputs and
  as the cross-check oracle.
- ``method="offsets"`` (default): the scale path. Total-order sort (range
  shuffle), persist to pin partition boundaries, one light job to count rows
  per partition, then a partition-local cumulative count plus the broadcast
  partition offset — no single-partition stage anywhere. Order, and hence
  the assigned ids, is deterministic because the sort keys are unique; the
  sampled range boundaries only decide WHERE a row sits, never its rank.

A driver-held corpus takes the same order from `sort_for_doc_ids` (the
driver append and the registry's driver-built transcript state): row i of
its result gets docID i.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def assign_doc_ids(
    df: DataFrame,
    order_cols: list[str],
    method: str = "offsets",
    id_col: str = "doc_id",
) -> DataFrame:
    if method == "window":
        w = W.orderBy(*[F.col(c) for c in order_cols])
        return df.withColumn(id_col, (F.row_number().over(w) - 1).cast("long"))
    if method != "offsets":
        raise ValueError(f"unknown method {method!r}")

    # Total order; boundaries are sampled but the order itself is exact.
    ordered = (
        df.repartitionByRange(*[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = (
        ordered.groupBy("_pid").count().orderBy("_pid").collect()
    )  # tiny: one row per partition
    offsets = {}
    acc = 0
    for row in counts:
        offsets[row["_pid"]] = acc
        acc += row["count"]
    offsets_df = ordered.sparkSession.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _offset long"
    )
    # Partition-local row_number: the window is partitioned by _pid, which is
    # already the physical partitioning -> no extra shuffle.
    w = W.partitionBy("_pid").orderBy(*order_cols)
    out = (
        ordered.withColumn("_rn", F.row_number().over(w) - 1)
        .join(F.broadcast(offsets_df), "_pid")
        .withColumn(id_col, (F.col("_rn") + F.col("_offset")).cast("long"))
        .drop("_pid", "_rn", "_offset")
    )
    # The persist pins the sampled range boundaries that the collected
    # offsets were computed from — it must stay cached until the caller has
    # materialized `out`. Expose the handle so callers can unpersist then.
    out._ojs_persisted = ordered
    return out


def sort_for_doc_ids(pdf: pd.DataFrame) -> pd.DataFrame:
    """`pdf` in assign_doc_ids order: (conv_id, turn_idx) ascending, nulls
    first (Spark's ascending order); pandas compares str by code point,
    which is Spark's UTF-8 byte order. Row i is docID i."""
    return pdf.sort_values(
        ["conv_id", "turn_idx"], kind="stable", na_position="first"
    ).reset_index(drop=True)
