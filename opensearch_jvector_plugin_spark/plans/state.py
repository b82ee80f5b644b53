"""Per-process derived state, named by its source files.

The serving discipline of the reference (QuantizationStateCache, SURVEY §0):
derive index state once, then serve every query from it. Here every such
derivation goes through `memo`, whose entries are keyed on the fingerprint
of the files they were derived from — `(name, size, mtime_ns)`, the way
Delta Lake names table state by its log version — so a rewritten source
rebuilds and replaces its entry instead of being served stale.

Derived-state directories come from `state_dir`: one per-process root,
removed at exit, so the state of a process never outlives it.

`read_parquet` is the registry's parquet read: Spark's inferred schema
is memoized per source version, so only the first read of a file infers
it (one Spark job each time otherwise).

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


def read_parquet(spark, path: str):
    """spark.read.parquet(path) with the schema Spark inferred for this
    version of the source memoized: a later read of an unchanged source
    launches no schema-inference job, and a rewritten one is re-inferred.
    A path without top-level `*.parquet` files (a hive-partitioned
    directory) or that is missing has no fingerprint and is read as is."""
    try:
        key = source_key(path)
    except OSError:
        key = ()
    if not key:
        return spark.read.parquet(path)
    schema = memo(
        "parquet_schema", path, [path],
        lambda: spark.read.parquet(path).schema,
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
    `pq.write_table`. The table's Spark schema is memoized as the read
    schema of this version of `path`, so no read of it infers one."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

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
    memo(
        "parquet_schema", path, [path],
        lambda: from_arrow_schema(table.schema),
    )


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
