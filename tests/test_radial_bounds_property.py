"""Property-based validation of the radial ADC error bounds (round 4).

The quantized radial paths rest on two mathematical claims:

  sq: with v = scale*q + e and ||e||_2 <= scale*sqrt(d)/2, the per-space
      bound the radial cut applies (sq_cosine_upper, sq_ip_upper,
      sq_l2_distance - E) can never be below the exact metric (so cutting
      on it drops no qualifying vector);
  pq: |adc - exact| <= pqerr (cosine; * ||u|| for ip; additive on the l2
      distance), where pqerr is the stored reconstruction-error norm, so
      pq_radial_bound's adc +/- pqerr bounds the exact metric.

These are checked here directly on randomly generated vectors — no Spark,
no fixtures — through the serving kernel's own scorers (_sq_dots, _pq_adc
over the stored code bytes) and bound functions. Hypothesis drives
dimension, scale spread, and query geometry."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from opensearch_jvector_plugin_spark.operators.vector_index import (
    _pq_adc,
    _sq_dots,
    pq_encode_with_err,
    pq_lut,
    pq_radial_bound,
    quantize_int8,
    sq_cosine_upper,
    sq_error_norm,
    sq_ip_upper,
    sq_l2_distance,
    train_pq_codebooks,
)


def _vectors(seed: int, n: int, d: int, spread: float) -> np.ndarray:
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, d)) * (
        1.0 + spread * rng.random(size=(n, 1))
    )
    # Avoid exact zero vectors (not indexable under cosine anyway).
    mat[np.abs(mat).sum(axis=1) == 0] += 1.0
    return mat


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    d=st.sampled_from([4, 8, 16, 64]),
    spread=st.floats(0.0, 100.0),
)
def test_sq_bounds_dominate_exact_metrics(seed, d, spread):
    vecs = _vectors(seed, 64, d, spread)
    u = _vectors(seed + 1, 1, d, spread)[0]
    q, scale, qnorm = quantize_int8(vecs)
    # The bucket rows as stored: int8 code bytes plus scale and norm.
    rows = pd.DataFrame(
        {"qvec": [r.tobytes() for r in q], "qscale": scale, "qnorm": qnorm}
    )
    E = sq_error_norm(scale, d)
    uh = u / max(np.linalg.norm(u), 1e-30)
    unorm = np.array([np.linalg.norm(u)])

    # cosine: sign-aware divisor upper bound.
    exact_cos = (vecs @ uh) / np.linalg.norm(vecs, axis=1)
    dots, s, n = _sq_dots(rows, d, uh[None, :])
    ub_cos = sq_cosine_upper(dots, s, n, E)[:, 0]
    assert (ub_cos >= exact_cos - 1e-9).all()

    # innerproduct upper bound.
    exact_ip = vecs @ u
    dots, s, n = _sq_dots(rows, d, u[None, :])
    ub_ip = sq_ip_upper(dots, s, E, unorm)[:, 0]
    assert (ub_ip >= exact_ip - 1e-9 * (1 + np.abs(exact_ip))).all()

    # l2: reconstructed distance can undershoot by at most E.
    exact_l2 = np.linalg.norm(vecs - u[None, :], axis=1)
    lower = sq_l2_distance(dots, s, n, np.array([u @ u]))[:, 0] - E
    assert (lower <= exact_l2 + 1e-9 * (1 + exact_l2)).all()


@settings(max_examples=15, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    d=st.sampled_from([8, 16]),
    m=st.sampled_from([2, 4]),
)
def test_pq_error_norm_bounds_adc(seed, d, m):
    vecs = _vectors(seed, 120, d, 2.0)
    u = _vectors(seed + 1, 1, d, 2.0)[0]
    unorm = np.array([np.linalg.norm(u)])
    for metric in ("cosine", "l2", "innerproduct"):
        books = train_pq_codebooks(vecs[:100], m, metric=metric)
        codes, err = pq_encode_with_err(vecs, books, metric)
        lut = pq_lut(u, books, metric)
        rows = pd.DataFrame({"pqcode": [c.tobytes() for c in codes]})
        adc = _pq_adc(rows, lut[None])
        cut = pq_radial_bound(metric, adc, err, unorm)[:, 0]
        adc = adc[:, 0]
        if metric == "cosine":
            exact = (vecs @ (u / max(np.linalg.norm(u), 1e-30))) / (
                np.linalg.norm(vecs, axis=1)
            )
            assert (np.abs(exact - adc) <= err + 1e-9).all()
            assert (cut >= exact - 1e-9).all()
        elif metric == "innerproduct":
            exact = vecs @ u
            bound = err * np.linalg.norm(u) + 1e-9 * (1 + np.abs(exact))
            assert (np.abs(exact - adc) <= bound).all()
            assert (cut >= exact - 1e-9 * (1 + np.abs(exact))).all()
        else:  # l2: lut is NEGATED approx squared distance
            exact = np.linalg.norm(vecs - u[None, :], axis=1)
            recon_dist = np.sqrt(np.maximum(-adc, 0.0))
            assert (
                np.abs(exact - recon_dist) <= err + 1e-9 * (1 + exact)
            ).all()
            assert (cut <= exact + 1e-9 * (1 + exact)).all()
