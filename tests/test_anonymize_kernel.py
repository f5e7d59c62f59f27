"""Spark-free pins of the per-source anonymize kernel
(``grouping._anonymize_source``) and of the kernels it is built from.

The golden digests were taken before the kernel's PAA, C5 and
l-diversity steps were restructured; any change to a decision, a
rendered envelope or a loss moves them.
"""

from __future__ import annotations

import hashlib
import math
import struct

import numpy as np
import pytest

from kapra_spark import datagen
from kapra_spark.functions import clustering as C
from kapra_spark.functions import metrics as M
from kapra_spark.functions import sax as S
from kapra_spark.operators import grouping as G

K, P, PAA, L = 10, 3, 5, 2  # perfbench's anonymize parameters, l = 2


def frame_digest(out) -> str:
    """sha256 over every column of a kernel frame, in row order: arrays
    as int64 bytes, floats bitwise, the rest by ``repr``."""
    h = hashlib.sha256()
    for c in out.columns:
        h.update(f"|{c}:".encode())
        for v in out[c].tolist():
            if isinstance(v, np.ndarray):
                h.update(b"A" + v.astype("<i8").tobytes())
            elif isinstance(v, float):
                h.update(b"F" + struct.pack("<d", v))
            else:
                h.update(b"R" + repr(v).encode())
    return h.hexdigest()[:16]


def _inputs():
    """(name, pdf per source): three perfbench-shaped inputs (2,000 ×
    144 tokens) and one with 15 values per series, which takes
    ``paa2d``'s divisible branch at paa 5."""
    for seed in (3, 11, 55):
        yield f"s{seed}", datagen._gen_rows_fast(np.arange(2000), 144, seed, 0.15)
    yield "t16", datagen._gen_rows_fast(np.arange(400), 16, 7, 0.15)


GOLDEN: dict[str, str] = {
    "s3/economy/kapra": "faa9db78b8ca8692",
    "s3/economy/naive": "6d20d72147f1d9e7",
    "s3/microsoft/kapra": "c111725d84b5e634",
    "s3/microsoft/naive": "f6fb58f949caf09f",
    "s3/palestine/kapra": "71dc8e7ae605b211",
    "s3/palestine/naive": "19a9d6e93e36019c",
    "s3/sales/kapra": "0f1fc0011b400f00",
    "s3/sales/naive": "1f1fdad789c1a9c0",
    "s11/economy/kapra": "b8801d9e716a774c",
    "s11/economy/naive": "f993a5597c4df7dd",
    "s11/microsoft/kapra": "51e2fe469678f0bd",
    "s11/microsoft/naive": "9c7b33da6bbffb55",
    "s11/palestine/kapra": "568dcf780e6242cc",
    "s11/palestine/naive": "8b6d0075d9532317",
    "s11/sales/kapra": "986905749240ce11",
    "s11/sales/naive": "1d09221c707b956d",
    "s55/economy/kapra": "4fc46405f02414b2",
    "s55/economy/naive": "2ab9dc0493c313cc",
    "s55/microsoft/kapra": "d2e57d185311a006",
    "s55/microsoft/naive": "98839ac3790dc6b7",
    "s55/palestine/kapra": "c6098b2a2f490b2c",
    "s55/palestine/naive": "e4f0baf61d2f90bd",
    "s55/sales/kapra": "73acc310184420f9",
    "s55/sales/naive": "b2594da5bf672fd4",
    "t16/economy/kapra": "99136c55ccb25d03",
    "t16/economy/naive": "056d381d53edecaf",
    "t16/microsoft/kapra": "03d5b10ca3f163bc",
    "t16/microsoft/naive": "172e970d3dfd11fe",
    "t16/palestine/kapra": "21d0f1f11581b1a5",
    "t16/palestine/naive": "9a3a97bef1e539ae",
    "t16/sales/kapra": "4de49536612fc453",
    "t16/sales/naive": "95304bccf953d277",
}


def _frames():
    lut = M.median_lut()
    for name, pdf in _inputs():
        for source, part in pdf.groupby("source", sort=True):
            for algorithm in ("kapra", "naive"):
                key = f"{name}/{source}/{algorithm}"
                out = G._anonymize_source(part.reset_index(drop=True), K, P,
                                          PAA, L, algorithm, 42, lut)
                yield key, out


def test_anonymize_source_golden():
    got = {key: frame_digest(out) for key, out in _frames()}
    assert got == GOLDEN


# ---------------------------------------------------------------------------
# paa2d == paa, bitwise
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("n,w", [(15, 5), (144, 6), (143, 5), (7, 3), (6, 6)])
@pytest.mark.parametrize("kind", ["float", "int"])
def test_paa2d_rows_equal_1d_paa_bitwise(n, w, kind):
    rng = np.random.default_rng(n * 31 + w)
    if kind == "float":
        mat = rng.normal(scale=3.0, size=(40, n))
    else:
        mat = rng.integers(-50, 200, size=(40, n)).astype(np.float64)
    got = S.paa2d(mat, w)
    want = np.stack([S.paa(row, w) for row in mat])
    assert got.tobytes() == want.tobytes()


@pytest.mark.parametrize("n_tok,paa", [(144, 5), (16, 5), (13, 4)])
def test_sax2d_equals_1d_on_integer_series(n_tok, paa):
    """The batch SAX path (one PAA matrix, letters per alphabet size)
    equals the 1-D kernel row by row on integer series, whose znormed
    segments often land exactly on the 0.0 cut."""
    pdf = datagen._gen_rows_fast(np.arange(300), n_tok, 9, 0.15)
    vals = np.stack(pdf["tokens"]).astype(np.float64)[:, :-1]
    pa = S.paa2d(S.znorm2d(vals), paa)
    for level in range(1, S.MAX_LEVEL + 2):
        want = [S.sax_by_chunking(row, paa, level) for row in vals]
        assert S.sax2d(vals, paa, level) == want
        assert S.sax_of_paa(pa, vals, paa, level) == want


# ---------------------------------------------------------------------------
# _find_min_vl contract
# ---------------------------------------------------------------------------

def _find_min_vl_loop(envs_hi, envs_lo, envs_n, ignored, base, t):
    """The C5 search as a scalar loop: first index with the strictly
    smallest VL(candidate ∪ base) among non-ignored candidates; NaN
    never wins; ``(None, inf)`` when nothing qualifies."""
    if base is None:
        vl = envs_n * np.sqrt(M.seqsum(np.square(envs_hi - envs_lo) / t, axis=1))
    else:
        hi = np.maximum(base.hi, envs_hi)
        lo = np.minimum(base.lo, envs_lo)
        vl = (base.n + envs_n) * np.sqrt(M.seqsum(np.square(hi - lo) / t, axis=1))
    best, best_vl = None, float("inf")
    for i in range(len(vl)):
        if i not in ignored and vl[i] < best_vl:
            best, best_vl = i, float(vl[i])
    return best, best_vl


def _envs(rng, m, t):
    lo = rng.integers(0, 5, size=(m, t)).astype(np.float64)
    hi = lo + rng.integers(0, 3, size=(m, t))
    n = rng.integers(1, 4, size=m)
    return np.maximum(hi, 0.0), lo, n


def _check(envs_hi, envs_lo, envs_n, ignored, base, t):
    live = np.array([i for i in range(len(envs_n)) if i not in ignored],
                    dtype=np.int64)
    got = C._find_min_vl(envs_hi, envs_lo, envs_n, live, base, t)
    want = _find_min_vl_loop(envs_hi, envs_lo, envs_n, ignored, base, t)
    assert got[0] == want[0]
    assert got[1] == want[1] or (math.isinf(got[1]) and math.isinf(want[1]))


@pytest.mark.parametrize("with_base", [False, True])
def test_find_min_vl_matches_loop(with_base):
    t = 4
    rng = np.random.default_rng(5)
    for trial in range(200):
        m = int(rng.integers(1, 9))
        envs_hi, envs_lo, envs_n = _envs(rng, m, t)
        # small integer envelopes make exact VL ties frequent
        ignored = {int(i) for i in np.nonzero(rng.random(m) < 0.3)[0]}
        base = None
        if with_base:
            bhi, blo, bn = _envs(rng, 1, t)
            base = C.Env(bhi[0], blo[0], int(bn[0]))
        _check(envs_hi, envs_lo, envs_n, ignored, base, t)


@pytest.mark.parametrize("with_base", [False, True])
def test_find_min_vl_ties_nan_and_all_ignored(with_base):
    t = 3
    base = C.Env(np.zeros(t), np.zeros(t), 1) if with_base else None
    hi = np.array([[2.0, 2, 2], [1, 1, 1], [1, 1, 1], [np.nan, 0, 0]])
    lo = np.zeros((4, t))
    n = np.array([1, 1, 1, 1])
    # ties: the first of the two equal minima wins
    _check(hi, lo, n, set(), base, t)
    assert C._find_min_vl(hi, lo, n, np.arange(4), base, t)[0] == 1
    _check(hi, lo, n, {1}, base, t)
    # NaN candidates never win, also when they come first
    nan_first = hi[[3, 0, 1]]
    _check(nan_first, lo[:3], n[:3], set(), base, t)
    # only NaN left, or nothing left -> (None, inf)
    _check(hi, lo, n, {0, 1, 2}, base, t)
    assert C._find_min_vl(hi, lo, n, np.array([3]), base, t) == (None, math.inf)
    _check(hi, lo, n, {0, 1, 2, 3}, base, t)
    assert C._find_min_vl(hi, lo, n, np.zeros(0, dtype=np.int64), base, t) \
        == (None, math.inf)
    # no candidates at all
    _check(np.zeros((0, t)), np.zeros((0, t)), np.zeros(0, dtype=int), set(),
           base, t)
