"""Seeded input generators. The same seed gives the same inputs; the engine
sees only what these functions return.

Sizes are fixed per workload and do not depend on the seed, so every seed
does the same amount of work and only the content varies.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB_SIZE = 5000  # the transcript synthesizer's vocabulary: term0000..term5000
HOT = ["hotcommon", "hotfive"]
RARE = ["raretermaaa", "raretermbbb", "raretermccc"]


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding draws to one
    stream never changes another."""
    key = [int(seed)] + [ord(c) for c in stream]
    return np.random.default_rng(key)


# Query shapes, cycled in this order: term classes (v = vocabulary term,
# rank drawn log-uniformly) and k. Every run of n queries holds each shape
# n/10 times, so the cost mix is the same for every seed and only the terms
# differ; with ten or so single-query samples per run, a free mix of cheap
# (rare, out-of-vocabulary) and expensive (hot-term) queries moved the
# median more than the engine did.
SHAPES = [
    (("v",), 10),
    (("v", "v"), 10),
    (("v", "v", "v"), 10),
    (("v", "v", "v", "v"), 10),
    (("hot", "v"), 10),
    (("v", "rare"), 10),
    (("v", "v", "oov"), 10),
    (("v",), 100),
    (("hot", "v", "v"), 10),
    (("v", "v"), 10),
]


def queries(seed: int, n: int, stream: str = "queries",
            first_id: int = 0) -> pd.DataFrame:
    """Search queries of 1-4 terms: vocabulary terms with ranks drawn
    log-uniformly (the corpus's own Zipf-like frequencies), plus hot, rare
    and out-of-vocabulary terms; k is 10, or 100 for one query in ten."""
    g = rng(seed, stream)
    rows = []
    for i in range(n):
        classes, k = SHAPES[i % len(SHAPES)]
        terms = []
        for c in classes:
            if c == "hot":
                terms.append(HOT[int(g.integers(0, len(HOT)))])
            elif c == "rare":
                terms.append(RARE[int(g.integers(0, len(RARE)))])
            elif c == "oov":
                terms.append(f"zzzoov{int(g.integers(0, 1000))}")
            else:
                rank = int(np.floor(VOCAB_SIZE ** g.random()))
                terms.append(f"term{min(rank, VOCAB_SIZE):04d}")
        rows.append((first_id + i, " ".join(terms), k))
    return pd.DataFrame(rows, columns=["query_id", "query_text", "k"]).astype(
        {"query_id": np.int32, "k": np.int64}
    )


def turns(ids: np.ndarray, seed: int, turns_per_conv: int = 10) -> pd.DataFrame:
    """Transcript turns for global turn indices `ids`, from the engine's
    deterministic synthesizer (content seeded by `seed`)."""
    from opensearch_jvector_plugin_spark.sources.transcripts import (
        synthesize_transcripts_pdf,
    )

    n_convs = int(ids.max()) // turns_per_conv + 1 if len(ids) else 1
    return synthesize_transcripts_pdf(ids, n_convs, turns_per_conv, seed=seed)


def delete_set(seed: int, step: int, live: np.ndarray, n: int) -> np.ndarray:
    """`n` distinct docIDs drawn uniformly from the live docIDs (base and
    appended alike)."""
    g = rng(seed, f"delete-{step}")
    pick = g.choice(len(live), size=min(n, len(live)), replace=False)
    return np.sort(live[pick])


# ------------------------------------------------- registry input tables

WORDS = ("a big agg batch column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]


def harness_tables(seed: int, out_dir: str, n_docs: int = 500,
                   n_vecs: int = 500, dim: int = 64) -> dict[str, str]:
    """Write the registry's input tables (the schemas of the harness star
    schema and its documents/embeddings tables) as parquet under
    `out_dir`. Returns table name -> path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = rng(seed, "tables")
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    # documents: word salad over a small vocabulary; one doc in twenty is
    # a copy of an earlier doc with " dup" suffixes (near-duplicates).
    texts = []
    for i in range(n_docs):
        if i >= 20 and g.random() < 0.05:
            src = texts[int(g.integers(0, i))]
            texts.append(src + " dup" * int(g.integers(1, 4)))
            continue
        n_words = int(g.integers(10, 100))
        t = " ".join(WORDS[j] for j in g.integers(0, len(WORDS), n_words))
        texts.append(t[: int(g.integers(max(20, len(t) - 40), len(t) + 1))])
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in g.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    emb = g.standard_normal((n_vecs, dim)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, n_vecs).astype(np.int32)),
    })

    n_ev = 1000
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        g.integers(0, 30 * 86400 * 10**6, n_ev)
    ).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, 15, n_ev), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in g.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(g.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {j}}}' for j in g.integers(0, 100, n_ev)]),
    })

    n_cust, n_ord, n_li = 150, 1500, 6000
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(g.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(g.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in g.integers(0, 5, n_cust)]),
    })
    day0 = np.datetime64("1992-01-01", "us")
    odate = day0 + (g.integers(0, 2400, n_ord) * 86400 * 10**6).astype(
        "timedelta64[us]"
    )
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in g.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(g.uniform(1000, 400000, n_ord), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(
            [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[j]
             for j in g.integers(0, 5, n_ord)]
        ),
    })
    l_order = g.integers(0, n_ord, n_li)
    l_line = np.zeros(n_li, dtype=np.int32)
    seen: dict[int, int] = {}
    for i, o in enumerate(l_order.tolist()):
        seen[o] = seen.get(o, 0) + 1
        l_line[i] = seen[o]
    qty = g.integers(1, 51, n_li).astype(np.float64)
    ship = day0 + (g.integers(0, 2550, n_li) * 86400 * 10**6).astype(
        "timedelta64[us]"
    )
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(g.integers(0, 200, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, 10, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * g.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(np.round(g.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(g.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in g.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in g.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })

    paths = {}
    for name, t in tables.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, p)
        paths[name] = p
    return paths
