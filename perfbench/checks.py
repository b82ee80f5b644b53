"""Correctness references, run outside the timed window.

BM25 here is computed independently of the engine, in DuckDB: the corpus
is tokenized with the tokenizer contract (`[a-z0-9]+` over lower-cased
text) and scored with the Lucene formula of functions/bm25.py in float64.
A result is rank-identical when it has min(k, matches) rows and, at every
rank, the engine's document has the reference score of that rank (within
one rounding quantum of 6 decimals; documents tied at that precision may
appear in either order).
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pandas as pd

K1, B = 1.2, 0.75
TOL = 1.5e-6
_TOKEN = re.compile(r"[a-z0-9]+")


class BM25Reference:
    """BM25 over the rows of `corpus_sql` (columns doc_id, text), evaluated
    by DuckDB on connection `con` (which holds any views the SQL reads)."""

    def __init__(self, con, corpus_sql: str):
        self.con = con
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE OR REPLACE TABLE ref_docs AS {corpus_sql}")
        con.execute(
            "CREATE OR REPLACE TABLE ref_toks AS SELECT doc_id, "
            "unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term "
            "FROM ref_docs"
        )
        con.execute(
            "CREATE OR REPLACE TABLE ref_dl AS SELECT d.doc_id, "
            "count(t.term) AS dl FROM ref_docs d "
            "LEFT JOIN ref_toks t USING (doc_id) GROUP BY d.doc_id"
        )
        self.n_docs, self.avgdl = con.execute(
            "SELECT count(*), avg(dl) FROM ref_dl"
        ).fetchone()

    def topk(self, qs: pd.DataFrame, margin: int = 20) -> dict:
        """query_id -> (the best k + margin (doc_id, score), best first;
        the number of matching documents)."""
        rows = [(int(q.query_id), t, c)
                for q in qs.itertuples(index=False)
                for t, c in Counter(_TOKEN.findall(q.query_text.lower())).items()]
        qterms = pd.DataFrame(rows, columns=["query_id", "term", "qtf"])
        qk = qs[["query_id", "k"]].astype({"query_id": np.int64,
                                           "k": np.int64})
        self.con.register("ref_qterms", qterms)
        self.con.register("ref_qk", qk)
        got = self.con.execute(f"""
            WITH post AS (
                SELECT term, doc_id, count(*) AS tf FROM ref_toks
                WHERE term IN (SELECT term FROM ref_qterms)
                GROUP BY term, doc_id),
            df AS (SELECT term, count(*) AS df FROM post GROUP BY term),
            scored AS (
                SELECT q.query_id, p.doc_id, sum(
                    q.qtf * ln(1.0 + ({self.n_docs} - df.df + 0.5)
                                     / (df.df + 0.5))
                    * (p.tf * {K1 + 1.0}) / (p.tf + {K1} * ({1.0 - B}
                        + {B} * l.dl / {self.avgdl}))) AS score
                FROM ref_qterms q JOIN post p USING (term)
                JOIN df USING (term) JOIN ref_dl l USING (doc_id)
                GROUP BY q.query_id, p.doc_id),
            ranked AS (
                SELECT s.*, row_number() OVER (PARTITION BY s.query_id
                    ORDER BY s.score DESC, s.doc_id) AS rk,
                    count(*) OVER (PARTITION BY s.query_id) AS n
                FROM scored s)
            SELECT r.query_id, r.doc_id, r.score, r.n FROM ranked r
            JOIN ref_qk k USING (query_id) WHERE r.rk <= k.k + {margin}
            ORDER BY r.query_id, r.rk
        """).df()
        self.con.unregister("ref_qterms")
        self.con.unregister("ref_qk")
        out = {int(q): [] for q in qs["query_id"]}
        counts = {}
        for qid, doc, score, n in got.itertuples(index=False):
            out[int(qid)].append((int(doc), float(score)))
            counts[int(qid)] = int(n)
        return {q: (v, counts.get(q, 0)) for q, v in out.items()}


def compare_topk(got: pd.DataFrame, want: dict, ks: dict[int, int]) -> list[str]:
    """Mismatches between engine results (query_id, rank, doc_id, score)
    and the reference; empty when rank-identical (scores within TOL)."""
    errors = []
    by_q = {int(q): g.sort_values("rank") for q, g in got.groupby("query_id")}
    for qid, (ranked, matches) in want.items():
        g = by_q.get(qid)
        n = 0 if g is None else len(g)
        exp = min(ks[qid], matches)
        if n != exp:
            errors.append(f"query {qid}: {n} rows, expected {exp}")
            continue
        if n == 0:
            continue
        ref = dict(ranked)
        docs = g["doc_id"].to_numpy()
        scores = g["score"].to_numpy()
        if len(set(docs.tolist())) != n:
            errors.append(f"query {qid}: duplicate docIDs")
        for i in range(n):
            d = int(docs[i])
            if d not in ref or abs(ref[d] - scores[i]) > TOL:
                errors.append(f"query {qid} rank {i + 1}: doc {d} score "
                              f"{scores[i]:.6f} vs {ref.get(d)}")
                break
            if abs(ranked[i][1] - scores[i]) > TOL:
                errors.append(f"query {qid} rank {i + 1}: score "
                              f"{scores[i]:.6f}, expected {ranked[i][1]:.6f}")
                break
    return errors


def disjoint_ranges(manifests: dict[int, dict]) -> list[str]:
    """Committed segments must hold disjoint docID ranges."""
    spans = sorted((m["doc_lo"], m["doc_hi"], s) for s, m in manifests.items()
                   if m["n_docs"])
    return [
        f"segments {a[2]} [{a[0]}, {a[1]}] and {b[2]} [{b[0]}, {b[1]}] overlap"
        for a, b in zip(spans, spans[1:]) if b[0] <= a[1]
    ]


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """The registry oracle normalisation (tests/test_entry_oracles.py):
    columns sorted, floats rounded to 6, integers widened, rows sorted."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
        if pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype(np.int64)
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


def frames_equal(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} vs {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows vs {len(want)}"]
    for c in got.columns:
        if pd.api.types.is_float_dtype(got[c]):
            if not np.allclose(got[c].to_numpy(dtype=float),
                               want[c].to_numpy(dtype=float),
                               rtol=0, atol=TOL, equal_nan=True):
                return [f"{name}.{c}: values differ"]
        elif got[c].tolist() != want[c].tolist():
            return [f"{name}.{c}: values differ"]
    return []
