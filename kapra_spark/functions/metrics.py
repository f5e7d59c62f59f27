"""Anonymization quality metrics: NCP, instant value loss, pattern loss.

NumPy kernels with the exact semantics of the reference
(``includes/metric.py:5-83``, ``includes/pattern_loss.py:132-197``),
including its two documented quirks, which we replicate faithfully so
golden comparisons hold:

- the per-column upper bound starts at 0 (``z_i = 0`` /
  ``r_plus_i = 0``), so effectively ``upper = max(0, col_max)``;
- the reference's cosine-distance conventions gate on the *sum* of the
  vectors: both sums > 0 -> scipy cosine; both == 0 -> 0; else -> 1.

Both NCP and VL depend only on (per-column max, per-column min, row
count), so group unions can be evaluated from envelope summaries alone
— the key trick that lets the bottom-up k-group search run on tiny
summary tables instead of raw series (exploited in
``functions/clustering.py`` and noted at reference
``includes/metric.py:49-83`` which accepts precomputed r+/r-).

The Spark-facing (DataFrame aggregate) versions live in
``kapra_spark/operators/metrics_ops.py``.
"""

from __future__ import annotations

import numpy as np

from .sax import paa, reconstruct_paa, znorm



def seqsum(a: np.ndarray, axis: int | None = None):
    """Left-to-right sequential float summation (via cumsum), bit-equal
    to the reference's pure-Python ``acc += term`` loops. np.sum uses
    pairwise summation above 8 elements, which rounds differently and
    can flip strict >/< comparisons between near-tied candidates in the
    greedy clustering — the product golden (tests/test_product_golden)
    requires the reference's exact rounding at any T."""
    a = np.asarray(a)
    if axis is None:
        flat = a.reshape(-1)
        return float(flat.cumsum()[-1]) if flat.size else 0.0
    return a.cumsum(axis=axis).take(-1, axis=axis)

def ncp(values: np.ndarray, gmax: np.ndarray, gmin: np.ndarray) -> float:
    """NCP(T) for a (rows, T) matrix given global per-column bounds.

    Reference: includes/metric.py:5-47 (Xu et al. 2006, 3.2.1).
    """
    values = np.asarray(values, dtype=np.float64)
    hi = np.maximum(values.max(axis=0), 0.0)  # z_i initialized to 0
    lo = values.min(axis=0)
    a = np.abs(np.asarray(gmax, dtype=np.float64) - np.asarray(gmin, dtype=np.float64))
    mask = a != 0
    return len(values) * seqsum((hi - lo)[mask] / a[mask])


def ncp_env(hi: np.ndarray, lo: np.ndarray, count: int,
            gmax: np.ndarray, gmin: np.ndarray) -> float:
    """NCP from an envelope summary (hi must already include the
    max-with-0 quirk via :func:`envelope`)."""
    a = np.abs(np.asarray(gmax, dtype=np.float64) - np.asarray(gmin, dtype=np.float64))
    mask = a != 0
    return count * seqsum((hi - lo)[mask] / a[mask])


def value_loss(values: np.ndarray) -> float:
    """Instant value loss VL(T) for a (rows, T) matrix.

    Reference: includes/metric.py:49-83 (Shou et al. 2011, 4.2.2).
    """
    values = np.asarray(values, dtype=np.float64)
    hi = np.maximum(values.max(axis=0), 0.0)  # r_plus_i initialized to 0
    lo = values.min(axis=0)
    n = values.shape[1]
    return len(values) * float(np.sqrt(seqsum(np.square(hi - lo) / n)))


def value_loss_env(hi: np.ndarray, lo: np.ndarray, count: int) -> float:
    """VL from an envelope summary."""
    n = len(hi)
    return count * float(np.sqrt(seqsum(np.square(hi - lo) / n)))


def value_loss_given_bounds(values: np.ndarray, r_plus: np.ndarray,
                            r_minus: np.ndarray) -> float:
    """VL with externally supplied bounds (the anonymized-file path,
    reference includes/metric.py:85-123 — bounds come from the stored
    envelope, no max-with-0 quirk)."""
    values = np.asarray(values, dtype=np.float64)
    n = values.shape[1]
    rng2 = np.square(np.asarray(r_plus, dtype=np.float64)
                     - np.asarray(r_minus, dtype=np.float64))
    return len(values) * float(np.sqrt(seqsum(rng2 / n)))


def envelope(values: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
    """(hi, lo, count) summary with the metric quirk baked into hi so
    union-VL/NCP from envelopes equals the raw-matrix computation."""
    values = np.asarray(values, dtype=np.float64)
    return np.maximum(values.max(axis=0), 0.0), values.min(axis=0), len(values)


def cosine_distance(u: np.ndarray, v: np.ndarray) -> float:
    """Reference cosine-distance conventions
    (includes/pattern_loss.py:132-166)."""
    su, sv = float(np.sum(u)), float(np.sum(v))
    if su > 0 and sv > 0:
        nu = float(np.linalg.norm(u))
        nv = float(np.linalg.norm(v))
        if nu == 0 or nv == 0:
            return 1.0
        return 1.0 - float(np.dot(u, v)) / (nu * nv)
    if su == 0 and sv == 0:
        return 0.0
    return 1.0


def pattern_loss(series: np.ndarray, pr: str, paa_size: int,
                 znorm_threshold: float = 0.01) -> float:
    """PL = cosine_distance(PAA(znorm(series)), reconstruct(pr)).

    Reference: includes/pattern_loss.py:167-197. The scalar test
    reference for the batched
    ``operators.metrics_ops.pattern_loss_per_record``
    (tests/test_anonymize.py).
    """
    p = paa(znorm(np.asarray(series, dtype=np.float64), znorm_threshold), paa_size)
    p_star = reconstruct_paa(pr)
    return cosine_distance(p, p_star)
