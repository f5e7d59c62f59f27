"""Vendored SAX kernels: znorm, PAA, SAX encode, reconstruction.

Re-implementation (from the published algorithm, Lin/Keogh/Lonardi/Chiu
2003, "A symbolic representation of time series") of the exact numeric
conventions the reference relies on via the ``saxpy`` package:

- znorm: population std (``np.std``), identity when ``std < 0.01``
  (used at reference ``includes/node.py:366``, ``includes/pattern_loss.py:43``).
- PAA: copy when ``n == w``; segment means when ``w | n``; fractional
  weighting otherwise (each virtual point ``i`` in ``0..n*w-1`` adds
  ``series[i//w]`` to segment ``i//n``, total divided by ``n``)
  (reference usage ``includes/node.py:368``).
- SAX binning against Gaussian equiprobable breakpoints with saxpy's
  sign-dependent boundary rule: values ``>= 0`` map a value equal to a
  cut into the *lower* bucket, values ``< 0`` into the *upper* one
  (reference usage ``includes/node.py:69,210-222``).
- SAX->PAA reconstruction: per-interval *empirical median* of N(0,1)
  from 1e6 samples seeded with 23; alphabet size inferred from the
  string's max letter (reference ``includes/pattern_loss.py:49-129``).

Everything is vectorized 2-D (rows x time) so a whole Arrow batch of
series is encoded in one NumPy pass — this is the hot kernel inside
``applyInPandas`` grouping and must never loop per row.
"""

from __future__ import annotations

import math

import numpy as np

ZNORM_THRESHOLD = 0.01
MAX_LEVEL = 5  # alphabet-size cap, reference includes/common.py:10

# Gaussian equiprobable breakpoints (norm.ppf(i/a)) truncated to the
# 7/8-decimal precision of the classic SAX lookup table, so binning is
# bit-identical to the reference's saxpy dependency for a_size 2..10.
_CUTS_TABLE: dict[int, list[float]] = {
    2: [0.0],
    3: [-0.4307273, 0.4307273],
    4: [-0.6744898, 0.0, 0.6744898],
    5: [-0.84162123, -0.2533471, 0.2533471, 0.84162123],
    6: [-0.96742157, -0.4307273, 0.0, 0.4307273, 0.96742157],
}


def _norm_ppf(p: float) -> float:
    """Inverse standard-normal CDF (Acklam's rational approx + one
    Halley refinement; ~1e-15 absolute error). Only used for alphabet
    sizes > 10, which the kapra pipeline (MAX_LEVEL=5) never reaches."""
    a = (-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
         1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
         6.680131188771972e+01, -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
         -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
         3.754408661907416e+00)
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        x = (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / \
            ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    elif p <= phigh:
        q = p - 0.5
        r = q * q
        x = (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / \
            (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1)
    else:
        q = math.sqrt(-2 * math.log(1 - p))
        x = -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / \
            ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    # Halley refinement against erfc
    e = 0.5 * math.erfc(-x / math.sqrt(2)) - p
    u = e * math.sqrt(2 * math.pi) * math.exp(x * x / 2)
    return x - u / (1 + x * u / 2)


def cuts_for_asize(a_size: int) -> np.ndarray:
    """Breakpoint array ``[-inf, beta_1, ..., beta_{a-1}]``."""
    if a_size < 2:
        return np.array([-np.inf])
    if a_size in _CUTS_TABLE:
        inner = _CUTS_TABLE[a_size]
    else:
        inner = [round(_norm_ppf(i / a_size), 8) for i in range(1, a_size)]
    return np.array([-np.inf] + list(inner))


def znorm(series: np.ndarray, threshold: float = ZNORM_THRESHOLD) -> np.ndarray:
    """1-D z-normalization with the reference's identity branch."""
    series = np.asarray(series, dtype=np.float64)
    sd = np.std(series)
    if sd < threshold:
        return series
    return (series - np.mean(series)) / sd


def znorm2d(values: np.ndarray, threshold: float = ZNORM_THRESHOLD) -> np.ndarray:
    """Row-wise znorm over a (rows, T) matrix."""
    values = np.asarray(values, dtype=np.float64)
    sd = np.std(values, axis=1, keepdims=True)
    mean = np.mean(values, axis=1, keepdims=True)
    normed = np.where(sd < threshold, values, (values - mean) / np.where(sd == 0, 1.0, sd))
    return normed


_PAA_INDEX_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def _paa_indices(n: int, w: int) -> tuple[np.ndarray, np.ndarray]:
    """(segment index, source position) per virtual point for the
    fractional PAA case; cached per (n, w)."""
    key = (n, w)
    if key not in _PAA_INDEX_CACHE:
        i = np.arange(n * w)
        _PAA_INDEX_CACHE[key] = (i // n, i // w)
    return _PAA_INDEX_CACHE[key]


def paa(series: np.ndarray, w: int) -> np.ndarray:
    """1-D PAA with exact fractional semantics: each segment sums its
    virtual points left to right, as the reference's loop does. The
    labelled reference for :func:`paa2d`, and the kernel of the 1-D
    re-encodes (:func:`sax_by_chunking`)."""
    series = np.asarray(series, dtype=np.float64)
    n = len(series)
    if n == w:
        return series.copy()
    res = np.zeros(w)
    if n % w == 0:
        inc = n // w
        np.add.at(res, np.arange(n) // inc, series)
        return res / inc
    idx, pos = _paa_indices(n, w)
    np.add.at(res, idx, series[pos])
    return res / n


def paa2d(values: np.ndarray, w: int) -> np.ndarray:
    """Row-wise PAA over (rows, T) -> (rows, w), bit-equal per row to
    :func:`paa`: each segment's points are laid out along a last axis
    and summed left to right by ``cumsum``."""
    values = np.asarray(values, dtype=np.float64)
    rows, n = values.shape
    if n == w:
        return values.copy()
    if n % w == 0:
        seg, den = values.reshape(rows, w, n // w), n // w
    else:
        seg, den = values[:, _paa_indices(n, w)[1]].reshape(rows, w, n), n
    return seg.cumsum(axis=2)[:, :, -1] / den


def ts_to_string(series: np.ndarray, cuts: np.ndarray) -> str:
    """SAX letters for one PAA vector (saxpy boundary rule)."""
    return "".join(_letters(np.asarray(series, dtype=np.float64)[None, :], cuts)[0])


def _letters(paa_vals: np.ndarray, cuts: np.ndarray) -> list[str]:
    """(rows, w) PAA matrix -> list of SAX strings.

    Boundary rule: value >= 0 -> largest j with cuts[j] <  value;
                   value <  0 -> largest j with cuts[j] <= value.
    """
    left = np.searchsorted(cuts, paa_vals, side="left") - 1   # cuts[j] <  v
    right = np.searchsorted(cuts, paa_vals, side="right") - 1  # cuts[j] <= v
    idx = np.where(paa_vals >= 0, left, right)
    idx = np.clip(idx, 0, len(cuts) - 1)
    letters = np.frombuffer(bytes(range(97, 97 + 26)), dtype="S1")[: len(cuts)]
    chars = letters[idx]  # (rows, w) of S1, read back as one S{w} per row
    return chars.view(f"S{chars.shape[1]}").ravel().astype(str).tolist()


def sax_by_chunking(series: np.ndarray, paa_size: int, alphabet_size: int,
                    threshold: float = ZNORM_THRESHOLD) -> str:
    """znorm -> PAA -> SAX string (1-D reference kernel)."""
    return ts_to_string(paa(znorm(series, threshold), paa_size), cuts_for_asize(alphabet_size))


def sax2d(values: np.ndarray, paa_size: int, alphabet_size: int,
          threshold: float = ZNORM_THRESHOLD) -> list[str]:
    """Vectorized batch SAX: (rows, T) -> list of strings; the row-wise
    znorm + PAA step, then :func:`sax_of_paa`. Callers that encode the
    same rows at several alphabet sizes keep the PAA matrix and call
    :func:`sax_of_paa` per size."""
    values = np.asarray(values, dtype=np.float64)
    return sax_of_paa(paa2d(znorm2d(values, threshold), paa_size), values,
                      paa_size, alphabet_size, threshold)


def sax_of_paa(pa: np.ndarray, values: np.ndarray, paa_size: int,
               alphabet_size: int,
               threshold: float = ZNORM_THRESHOLD) -> list[str]:
    """SAX strings of the (rows, w) matrix ``pa = paa2d(znorm2d(values))``;
    ``values[i]`` is row i's raw series.

    NumPy's axis-wise ``std`` can differ from the 1-D ``std`` by 1 ulp,
    which flips a letter only when a PAA value lands *exactly* on a cut
    (frequent for integer series, whose znormed segments sum to 0.0
    against the 0.0 cut). Rows whose PAA values come within 1e-9 of a
    finite cut are therefore re-encoded with the bit-faithful 1-D
    kernel — a tiny fraction, so the batch stays vectorized."""
    if alphabet_size <= 1:
        return ["a" * paa_size] * len(pa)
    cuts = cuts_for_asize(alphabet_size)
    out = _letters(pa, cuts)
    near = (np.abs(pa[:, :, None] - cuts[None, None, 1:]) < 1e-9).any(axis=(1, 2))
    for i in np.nonzero(near)[0]:
        out[i] = sax_by_chunking(values[i], paa_size, alphabet_size, threshold)
    return out


# ---------------------------------------------------------------------------
# SAX -> PAA reconstruction (pattern loss support)
# ---------------------------------------------------------------------------

_MEDIAN_CACHE: dict[int, np.ndarray] = {}


def interval_medians(level: int, seed: int = 23, size: int = 1_000_000) -> np.ndarray:
    """Empirical median of N(0,1) per SAX interval for alphabet size
    ``level`` (reference includes/pattern_loss.py:49-129; legacy NumPy
    global-seed RNG, deterministic). Cached; broadcast once per job."""
    if level not in _MEDIAN_CACHE:
        cuts = cuts_for_asize(level)
        np.random.seed(seed)
        pts = np.random.normal(size=size)
        med = np.zeros(level)
        for i in range(level):
            lo = cuts[i]
            up = cuts[i + 1] if i < level - 1 else np.inf
            med[i] = np.median(pts[(pts >= lo) & (pts < up)])
        _MEDIAN_CACHE[level] = med
    return _MEDIAN_CACHE[level]


def reconstruct_paa(pr: str) -> np.ndarray:
    """SAX string -> reconstructed PAA vector. Alphabet size is
    inferred as ``max(letter)+1`` (the reference's convention); an
    all-'a' string reconstructs to the zero vector."""
    idx = np.frombuffer(pr.encode(), dtype=np.uint8).astype(np.int64) - 97
    level = int(idx.max()) + 1
    if level <= 1:
        return np.zeros(len(idx))
    return interval_medians(level)[idx]


def hamming(a: str, b: str) -> int:
    """Positional mismatch count between two equal-length SAX strings."""
    return sum(1 for x, y in zip(a, b) if x != y)
