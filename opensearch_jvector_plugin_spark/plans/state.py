"""Per-process derived state, named by its source files.

The serving discipline of the reference (QuantizationStateCache, SURVEY §0):
derive index state once, then serve every query from it. Here every such
derivation goes through `memo`, whose entries are keyed on the fingerprint
of the files they were derived from — `(name, size, mtime_ns)`, the way
Delta Lake names table state by its log version — so a rewritten source
rebuilds and replaces its entry instead of being served stale.

Derived-state directories come from `state_dir`: one per-process root,
removed at exit, so the state of a process never outlives it.

`read_parquet` is the registry's parquet read: the schema of each source
version is read once from its parquet footers and memoized, so no read
launches a schema-inference job (one Spark job each time otherwise).

`term_df_map` is the one driver-side read of a (term, df) parquet into a
dict. Dictionaries larger than `DICT_DRIVER_MAX_BYTES` on disk are not
read; callers then take a distributed term-pruned scan
(`operators.query.lookup_term_dfs`).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from typing import Callable

# A dictionary below this total on-disk size is read driver-side with
# pyarrow instead of a Spark job (Lucene memory-maps the terms dict of a
# shard the same way; the env knob keeps the switch scale-configurable —
# a 100 TB index's vocabulary goes through the distributed scan).
DICT_DRIVER_MAX_BYTES = int(
    os.environ.get("OJS_DICT_DRIVER_BYTES", str(64 << 20))
)

# (kind, key) -> (fingerprint of the sources, value)
_MEMO: dict[tuple, tuple[tuple, object]] = {}

_STATE_ROOT: str | None = None


def state_dir(prefix: str) -> str:
    """A new directory for derived state (indexes, sidecars, block
    stores), under one per-process root that is made on first use and
    removed at exit."""
    global _STATE_ROOT
    if _STATE_ROOT is None:
        _STATE_ROOT = tempfile.mkdtemp(prefix="ojs_proc_")
        atexit.register(shutil.rmtree, _STATE_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_STATE_ROOT)


def source_key(path: str) -> tuple:
    """((name, size, mtime_ns), ...) over a file, or over the `*.parquet`
    files of a directory."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    out = []
    for n in sorted(os.listdir(path)):
        if n.endswith(".parquet"):
            st = os.stat(os.path.join(path, n))
            out.append((n, st.st_size, st.st_mtime_ns))
    return tuple(out)


def memo(kind: str, key, sources: list[str], build: Callable[[], object]):
    """`build()` once per (kind, key) while the fingerprint of `sources`
    is unchanged; a changed source rebuilds and replaces the entry."""
    fp = tuple(source_key(s) for s in sources)
    hit = _MEMO.get((kind, key))
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = build()
    _MEMO[(kind, key)] = (fp, value)
    return value


def footer_schema(spark, path: str):
    """The Spark schema of the parquet file or directory `path`, from its
    footers (no job), as Spark's own inference reads it: the Spark schema
    a Spark writer stored in the footer, else Spark's Arrow type mapping
    (timestamps without a UTC adjustment are TIMESTAMP_NTZ when the
    session's `spark.sql.parquet.inferTimestampNTZ.enabled` says so); every
    field nullable. None when the files' schemas differ (Spark would merge
    or pick one) or a column is INT96 in a non-Spark file."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    files = (
        [os.path.join(path, n) for n, _s, _m in source_key(path)]
        if os.path.isdir(path) else [path]
    )
    first, *rest = (pq.read_metadata(f) for f in files)
    arrow = first.schema.to_arrow_schema()
    if any(not m.schema.to_arrow_schema().equals(arrow, check_metadata=True)
           for m in rest):
        return None
    stored = (first.metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata"
    )
    if stored is not None:
        return _nullable(StructType.fromJson(json.loads(stored)))
    if any(c.physical_type == "INT96" for c in first.schema):
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    return _nullable(from_arrow_schema(arrow, ntz == "true"))


def _nullable(t):
    """`t` with every field, element and value nullable (Spark reads every
    parquet column as nullable)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(t, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in t.fields
        ])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def read_parquet(spark, path: str):
    """spark.read.parquet(path) with the schema of this version of the
    source memoized: the first read takes it from the parquet footers
    (`footer_schema`, no job; Spark infers it only for files whose
    schemas differ), a later read of an unchanged source reuses it, and a
    rewritten one is read again. A path without top-level `*.parquet`
    files (a hive-partitioned directory) or that is missing has no
    fingerprint and is read as is."""
    try:
        key = source_key(path)
    except OSError:
        key = ()
    if not key:
        return spark.read.parquet(path)
    schema = memo(
        "parquet_schema", path, [path],
        lambda: footer_schema(spark, path) or spark.read.parquet(path).schema,
    )
    return spark.read.schema(schema).parquet(path)


def write_parquet_dir(table, path: str, **write_kwargs) -> None:
    """Write a pyarrow table as the one file of the parquet directory
    `path` (every driver-written sidecar and dictionary), replacing what
    the directory held. The file gets a fresh `part-<uuid>.parquet` name
    (`source_key` fingerprints by name, size and mtime, so a same-size
    rewrite must not reuse a name). It is written as a `_`-prefixed temp
    file, which every reader skips; the directory's other entries are
    removed and the temp renamed into place. `write_kwargs` go to
    `pq.write_table`."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = f"_{name}.tmp"
    pq.write_table(
        table, os.path.join(path, tmp), compression="snappy", **write_kwargs
    )
    for n in os.listdir(path):
        if n != tmp:
            p = os.path.join(path, n)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
    os.replace(os.path.join(path, tmp), os.path.join(path, name))


def term_df_map(path: str) -> dict[str, int] | None:
    """term -> df of the (term, df) parquet at `path`, or None when it is
    missing or larger than DICT_DRIVER_MAX_BYTES."""
    try:
        size = sum(s for _n, s, _m in source_key(path))
    except OSError:
        return None
    if size > DICT_DRIVER_MAX_BYTES:
        return None

    def read() -> dict[str, int]:
        import pyarrow.parquet as pq

        t = pq.read_table(path, columns=["term", "df"])
        return dict(
            zip(
                t.column("term").to_pylist(),
                (int(x) for x in t.column("df").to_pylist()),
            )
        )

    return memo("term_df", path, [path], read)
