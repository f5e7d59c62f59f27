"""(k,P)-anonymity grouping kernels — pure NumPy, Spark-free.

Faithful re-implementations (from scratch, vectorized interiors) of the
reference's four greedy procedures, which are inherently sequential and
therefore run group-locally inside ``groupBy(source).applyInPandas``:

- :func:`top_down_greedy`      reference includes/common.py:94-223 (C1)
- :func:`postprocess_groups`   reference includes/common.py:226-418 (C2)
- :func:`create_tree`          reference includes/common.py:420-459 +
                               includes/node.py:25-222 (C3)
- :func:`recycle_bad_leaves`   reference includes/node.py:224-397 (C4)
- :func:`bottom_up_kgroups`    reference includes/k_anonymity.py:34-167 (C5;
                               its >= 2P split is :func:`split_subgroup`)
- :func:`merge_bad_into_good`  reference includes/node.py:159-183 (naive
                               bad-leaf postprocessing, O4)
- :func:`enforce_l_diversity`  reference includes/l_diversity.py:7-107 (F9)

Data layout: one (n, T) float64 matrix per grouping scope plus a list
of record ids; groups are Python lists of row indices whose order
mirrors the reference's dict insertion order, so deterministic fixtures
reproduce the reference bit-for-bit (randomness is injected through a
:class:`RandomSource`, letting parity tests drive both codebases with
the identical ``random``-module call sequence).

NCP and VL both depend only on (per-column max-with-0, per-column min,
row count) — see ``functions/metrics.py`` — so every greedy step here
is evaluated from envelope summaries in O(T), never by re-scanning raw
rows; that is what makes these kernels viable inside a single Arrow
batch per source at scale.
"""

from __future__ import annotations

import math
import random as _random_module
from dataclasses import dataclass, field

import numpy as np

from .metrics import envelope, ncp_env, seqsum, value_loss_env
from .sax import (MAX_LEVEL, cuts_for_asize, paa, paa2d, sax_of_paa,
                  ts_to_string, znorm, znorm2d)

ROUNDS = 6  # NCP/VL maximization rounds (reference includes/common.py:7)


# ---------------------------------------------------------------------------
# randomness injection
# ---------------------------------------------------------------------------

class RandomSource:
    """Randomness facade. ``PyRandomSource`` reproduces the reference's
    exact call sequence (global ``random`` module + fresh numpy default
    rng) for parity tests; ``NumpyRandomSource`` is the engine default:
    per-group seeded, reproducible, partition-layout independent."""

    def randint(self, lo: int, hi: int) -> int:  # inclusive bounds
        raise NotImplementedError

    def shuffle(self, xs: list) -> None:
        raise NotImplementedError

    def choice(self, xs: list, size: int) -> list:
        raise NotImplementedError


class PyRandomSource(RandomSource):
    def __init__(self, rnd=_random_module):
        self._rnd = rnd

    def randint(self, lo, hi):
        return self._rnd.randint(lo, hi)

    def shuffle(self, xs):
        self._rnd.shuffle(xs)

    def choice(self, xs, size):
        # reference l_diversity.py:57 uses an unseeded fresh generator
        return list(np.random.default_rng().choice(xs, size=size, replace=False))


class NumpyRandomSource(RandomSource):
    def __init__(self, seed: int):
        self._rng = np.random.default_rng(seed)

    def randint(self, lo, hi):
        return int(self._rng.integers(lo, hi + 1))

    def shuffle(self, xs):
        self._rng.shuffle(xs)

    def choice(self, xs, size):
        return list(self._rng.choice(xs, size=size, replace=False))


def stable_seed(*parts) -> int:
    """Deterministic 63-bit seed from group-key parts (never Python's
    randomized ``hash``)."""
    import hashlib

    h = hashlib.sha256("\x1f".join(str(p) for p in parts).encode()).digest()
    return int.from_bytes(h[:8], "big") >> 1


# ---------------------------------------------------------------------------
# envelope bookkeeping
# ---------------------------------------------------------------------------

@dataclass
class Env:
    """Running (hi, lo, n) summary; hi carries the metric's
    max-with-0 initialization quirk."""
    hi: np.ndarray
    lo: np.ndarray
    n: int

    @classmethod
    def of(cls, values: np.ndarray, rows: list[int]) -> "Env":
        hi, lo, n = envelope(values[rows])
        return cls(hi, lo, n)

    def with_row(self, row: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
        return np.maximum(self.hi, row), np.minimum(self.lo, row), self.n + 1

    def add(self, row: np.ndarray) -> None:
        np.maximum(self.hi, row, out=self.hi)
        np.minimum(self.lo, row, out=self.lo)
        self.n += 1


def _metric_env(algorithm: str, hi, lo, n, gmax=None, gmin=None) -> float:
    if algorithm == "naive":
        return ncp_env(hi, lo, n, gmax, gmin)
    return value_loss_env(hi, lo, n)


def _metric_rows(algorithm: str, hi: np.ndarray, lo: np.ndarray, t: int,
                 gmax=None, gmin=None) -> np.ndarray:
    """Per-candidate metric sum (without the row-count factor) over a
    (rows, T) stack of union envelopes."""
    if algorithm == "naive":
        a = np.abs(np.asarray(gmax, float) - np.asarray(gmin, float))
        mask = a != 0
        return seqsum(((hi - lo) / np.where(mask, a, 1.0)) * mask, axis=1)
    return np.sqrt(seqsum(np.square(hi - lo) / t, axis=1))


# ---------------------------------------------------------------------------
# C1: top-down greedy bisection (reference includes/common.py:94-223)
# ---------------------------------------------------------------------------

def top_down_greedy(
    algorithm: str,
    rows: list[int],
    size: int,
    values: np.ndarray,
    out_groups: list[list[int]],
    out_labels: list[str],
    rnd: RandomSource,
    label: str = "o",
    gmax: np.ndarray | None = None,
    gmin: np.ndarray | None = None,
) -> None:
    """Recursive bipartition of ``rows`` into ~``size``-record groups.

    Mirrors the reference's control flow exactly: random seed record,
    ``ROUNDS`` alternating max-NCP/VL pulls, shuffled leftover
    assignment to the lower-metric side, recursion while a side has
    >= ``size`` records. All metric evaluations are vectorized."""
    if len(rows) < 2 * size:
        out_groups.append(list(rows))
        out_labels.append(label)
        return

    ids = list(rows)
    seed_pos = rnd.randint(0, len(ids) - 1)
    seed = ids.pop(seed_pos)

    group_u = [seed]
    group_v: list[int] = []
    old = seed

    remaining = ids  # insertion order preserved, like the reference dict
    rounds = ROUNDS if len(remaining) >= ROUNDS else len(remaining)

    for rnd_i in range(rounds):
        target = group_v if rnd_i % 2 == 0 else group_u
        base = values[old]
        cand = np.asarray(remaining)
        cv = values[cand]
        hi = np.maximum(np.maximum(base, cv), 0.0)  # z/r+ init-0 quirk
        lo = np.minimum(base, cv)
        m = 2.0 * _metric_rows(algorithm, hi, lo, values.shape[1], gmax, gmin)
        # reference updates on >=, so the LAST maximum wins
        best_pos = len(m) - 1 - int(np.argmax(m[::-1]))
        r = remaining.pop(best_pos)
        target.append(r)
        old = r

    rnd.shuffle(remaining)

    env_u = Env.of(values, group_u)
    env_v = Env.of(values, group_v)
    for i in remaining:
        row = values[i]
        mu = _metric_env(algorithm, *env_u.with_row(row), gmax, gmin)
        mv = _metric_env(algorithm, *env_v.with_row(row), gmax, gmin)
        if mv < mu:
            group_v.append(i)
            env_v.add(row)
        else:
            group_u.append(i)
            env_u.add(row)

    for grp, suffix in ((group_u, "a"), (group_v, "b")):
        if len(grp) >= size:
            top_down_greedy(algorithm, grp, size, values, out_groups,
                            out_labels, rnd, label + suffix, gmax, gmin)
        else:
            out_groups.append(grp)
            out_labels.append(label + suffix)


# ---------------------------------------------------------------------------
# C2: postprocessing of sub-size groups (reference includes/common.py:226-418)
# ---------------------------------------------------------------------------

def postprocess_groups(
    algorithm: str,
    size: int,
    groups: list[list[int]],
    labels: list[str],
    out: list[list[int]],
    values: np.ndarray,
    gmax: np.ndarray | None = None,
    gmin: np.ndarray | None = None,
) -> None:
    """Merge every sub-``size`` group with its label-nearest sibling or
    with the best ``size-|G|`` records greedily pulled from a large
    (>= 2*size-|G|) group, whichever minimizes the metric; repeat until
    no bad groups remain. Control flow — including the reference's
    fallback NN selection and first-min tie-breaks — is preserved."""
    idxs_merged: list[int] = []
    groups_merged: list[list[int]] = []
    structure_merged: list[str] = []

    for idx, bad_group in enumerate(groups):
        bad_size = len(bad_group)
        if bad_size >= size:
            continue
        label = labels[idx]

        # 1.a nearest neighbour by label
        idx_nn = -1
        found_nn = False
        metric_nn = float("inf")
        for other_idx, other_label in enumerate(labels):
            if label[:-1] == other_label[:-1]:
                if idx == other_idx:
                    continue
                if other_idx not in idxs_merged:
                    found_nn = True
                    idx_nn = other_idx
                    break

        merge_with_other = False
        if not found_nn and idx_nn != idx:
            if idx - 1 > 0:
                idx_nn = idx - 1
            elif idx + 1 < len(labels) - 1:
                idx_nn = idx + 1
            merge_with_other = True  # reference falls back to a positional NN

        group_merged_nn: list[int] | None = None
        if found_nn or merge_with_other:
            nn_group = groups[idx_nn]
            union_rows = bad_group + nn_group
            if union_rows:
                hi, lo, n = envelope(values[union_rows])
                metric_nn = _metric_env(algorithm, hi, lo, n, gmax, gmin)
            # dict.update() semantics: nn entries override duplicates,
            # order = bad first then nn minus dups
            seen = set()
            group_merged_nn = [r for r in bad_group + nn_group
                               if not (r in seen or seen.add(r))]

        # 1.b best large group to pull size-|G| records from.
        # QUIRK (preserved): the reference appends the merged group
        # built during the *last* candidate iteration, while leftover
        # and index snapshot at the *best* candidate (common.py:303-371
        # — group_merged_large_g is rebound outside the best-update
        # guard). A record picked from the best candidate can thus be
        # dropped and one from the last candidate duplicated.
        metric_large = float("inf")
        idx_large = -1
        merged_large: list[int] | None = None
        leftover_large: list[int] | None = None
        for other_idx, other_group in enumerate(groups):
            if len(other_group) < 2 * size - bad_size or other_idx in idxs_merged:
                continue
            cur = list(bad_group)
            env = Env.of(values, cur) if cur else None
            taken: set[int] = set(cur)
            tmp_metric = float("inf")
            for _ in range(size - bad_size):
                cand = [r for r in other_group if r not in taken]
                if not cand:
                    break
                cv = values[cand]
                if env is None:
                    hi = np.maximum(cv, 0.0)
                    lo = cv.copy()
                    n = 1
                else:
                    hi = np.maximum(env.hi, cv)
                    lo = np.minimum(env.lo, cv)
                    n = env.n + 1
                m = n * _metric_rows(algorithm, hi, lo, values.shape[1], gmax, gmin)
                j = int(np.argmin(m))  # strict <: first minimum wins
                tmp_metric = float(m[j])
                pick = cand[j]
                cur.append(pick)
                taken.add(pick)
                env = Env(hi[j].copy(), lo[j].copy(), n)
            merged_large = cur  # rebound every iteration (quirk above)
            if tmp_metric < metric_large:
                metric_large = tmp_metric
                idx_large = other_idx
                leftover_large = [r for r in other_group if r not in taken]

        # 1.c choose the better candidate
        if metric_nn < metric_large:
            idxs_merged.append(idx_nn)
            groups_merged.append(group_merged_nn)
            structure_merged.append(label[:-1])
        else:
            idxs_merged.append(idx_large)
            if merged_large is None:
                # no candidate at all: keep the bad group as its own
                # output (the reference would fault here; unreachable
                # for any input with >= 2 groups)
                merged_large = list(bad_group)
                leftover_large = []
            groups_merged.append(merged_large)
            groups_merged.append(leftover_large)
            structure_merged.append("")
        idxs_merged.append(idx)

    kept = [g for i, g in enumerate(groups) if i not in idxs_merged] + groups_merged
    kept_labels = [l for i, l in enumerate(labels) if i not in idxs_merged] + structure_merged

    # NOTE: like the reference, every recursion level appends its full
    # rebuilt list to ``out`` *before* recursing, so inputs needing a
    # second pass appear once per pass (reference common.py:393-418).
    out.extend(kept)

    if any(len(g) < size for g in kept):
        postprocess_groups(algorithm, size, kept, kept_labels, out,
                           values, gmax, gmin)


# ---------------------------------------------------------------------------
# C3: pattern-tree splitting (reference includes/node.py:25-222)
# ---------------------------------------------------------------------------

@dataclass
class Leaf:
    level: int
    pattern: str
    rows: list[int]
    label: str = "leaf"


def _sax_of(values: np.ndarray, pa: np.ndarray, rows: list[int],
            paa_value: int, level: int) -> list[str]:
    """SAX strings of ``rows`` at alphabet size ``level``, cut from the
    tree's PAA matrix ``pa``."""
    return sax_of_paa(pa[rows], values[rows], paa_value, level)


def _maximize_level(values: np.ndarray, pa: np.ndarray, rows: list[int],
                    paa_value: int, level: int,
                    max_level: int) -> tuple[int, str | None]:
    """Raise the node's level while every member still shares one
    pattern (reference includes/node.py:197-222). The loop's bound
    allows the level to reach ``max_level + 1``, which we keep."""
    original = level
    equal = True
    while equal and level <= max_level:
        prs = _sax_of(values, pa, rows, paa_value, level + 1)
        equal = all(p == prs[0] for p in prs[1:]) if len(prs) > 1 else True
        if equal:
            level += 1
    if level != original:
        return level, _sax_of(values, pa, rows[:1], paa_value, level)[0]
    return level, None


def split_node(
    values: np.ndarray,
    rows: list[int],
    level: int,
    pattern: str,
    p_value: int,
    paa_value: int,
    max_level: int,
    good: list[Leaf],
    bad: list[Leaf],
    canonical: bool = False,
    pa: np.ndarray | None = None,
) -> None:
    """One node of the pattern tree; recursion order (merged-TB child
    first, then TB children, then TG children) matches the reference so
    leaf-list ordering — which downstream phases iterate — is equal.

    ``pa`` is the tree's PAA matrix, ``paa2d(znorm2d(values))`` on the
    root's rows (other rows unset): znorm and PAA are row-wise and do
    not depend on the level, so every node cuts its letters from it.
    The root computes it when it is not given.

    ``canonical=True`` applies the distributed-path order contract: the
    merged-TB leaf's rows are sorted (ascending row index == doc order
    when the caller sorts rows by doc id), making every leaf's member
    order reproducible without knowing the tentative-dict insertion
    order. All split DECISIONS are identical either way."""
    size = len(rows)
    if size < p_value:
        bad.append(Leaf(level, pattern, rows, "bad-leaf"))
        return
    if level == max_level:
        good.append(Leaf(level, pattern, rows, "good-leaf"))
        return
    if pa is None:
        pa = np.empty((len(values), paa_value))
        pa[rows] = paa2d(znorm2d(values[rows]), paa_value)
    if p_value <= size < 2 * p_value:
        new_level, new_pattern = _maximize_level(values, pa, rows, paa_value,
                                                 level, max_level)
        good.append(Leaf(new_level, new_pattern if new_pattern is not None else pattern,
                         rows, "good-leaf"))
        return

    prs = _sax_of(values, pa, rows, paa_value, level + 1)
    tentative: dict[str, list[int]] = {}
    for r, pr in zip(rows, prs):
        tentative.setdefault(pr, []).append(r)

    sizes = [len(v) for v in tentative.values()]
    if all(s < p_value for s in sizes):
        good.append(Leaf(level, pattern, rows, "good-leaf"))
        return

    patterns = list(tentative.keys())
    tg = [(pr, tentative[pr]) for pr, s in zip(patterns, sizes) if s >= p_value]
    tb = [(pr, tentative[pr]) for pr, s in zip(patterns, sizes) if s < p_value]

    total_tb = sum(len(g) for _, g in tb)
    if total_tb >= p_value:
        merged: list[int] = []
        for _, g in tb:
            merged.extend(g)
        if canonical:
            merged.sort()
        # merged child keeps the parent's level+pattern and is a good
        # leaf outright (re-splitting would recreate the same bad
        # leaves — reference includes/node.py:114-138)
        good.append(Leaf(level, pattern, merged, "good-leaf"))
        for pr, g in tg:
            split_node(values, g, level + 1, pr, p_value, paa_value, max_level,
                       good, bad, canonical, pa)
    else:
        nc = len(tg) + len(tb)
        if nc >= 2:
            for pr, g in tb:
                split_node(values, g, level + 1, pr, p_value, paa_value,
                           max_level, good, bad, canonical, pa)
            for pr, g in tg:
                split_node(values, g, level + 1, pr, p_value, paa_value,
                           max_level, good, bad, canonical, pa)
        else:
            pr, g = tg[0]
            split_node(values, g, level + 1, pr, p_value, paa_value,
                       max_level, good, bad, canonical, pa)


def merge_bad_into_good(values: np.ndarray, good: list[Leaf], bad: list[Leaf]) -> None:
    """Naive-path bad-leaf postprocessing: each bad leaf merges into
    the good leaf with minimal pattern hamming distance, ties broken by
    smaller size (reference includes/node.py:159-183)."""
    for b in bad:
        best = None
        best_diff = float("inf")
        best_size = float("inf")
        for i, g in enumerate(good):
            diff = sum(1 for a, c in zip(g.pattern, b.pattern) if a != c)
            if diff < best_diff or (diff == best_diff and len(g.rows) < best_size):
                best_diff = diff
                best = i
                best_size = len(g.rows)
        if best is not None:
            good[best].rows.extend(b.rows)
    bad.clear()


# ---------------------------------------------------------------------------
# C4: recycle bad leaves (reference includes/node.py:224-397, KAPRA only)
# ---------------------------------------------------------------------------

@dataclass
class MetaLeaf:
    """Leaf SUMMARY: everything C4's decisions need without the rows.
    ``handle`` is opaque membership (a row list in-memory, a leaf-id
    list in the distributed operator) — merging concatenates handles
    and never inspects them. ``first`` identifies the leaf's first
    record (its row/doc used for level-decrement re-encoding)."""
    level: int
    pattern: str
    count: int
    first: object
    handle: list
    label: str = "bad-leaf"


def recycle_bad_leaves_meta(
    p_value: int,
    paa_value: int,
    bad: list[MetaLeaf],
    pattern_of_first,
    canonical: bool = False,
) -> tuple[list[MetaLeaf], list[MetaLeaf]]:
    """C4 on leaf summaries alone — the decision core shared verbatim by
    the in-memory kernel and ``operators.anonymize_dist`` (which is what
    makes their parity structural, not coincidental). Merge same-
    (level, pattern) bad leaves bottom-up, re-encoding at ever coarser
    alphabet sizes via ``pattern_of_first(first, level)``; promote
    merged leaves of size >= P; return (promoted good leaves in append
    order, irreducible suppressed leaves). Dict-ordering behaviors of
    the reference (including the final first-level-only suppression
    pick) are preserved; ``bad`` must be in the reference's bad-list
    (DFS) order.

    ``canonical``: on merge, ``first`` becomes the min of the merged
    leaves' firsts (the distributed order contract — each leaf's first
    is its min doc, so the merged first is the min doc of the union);
    the default keeps the reference quirk (first node's first, i.e.
    ``rows[0]`` of the extend-concatenation)."""
    by_level: dict[int, list[MetaLeaf]] = {}
    for node in bad:
        by_level.setdefault(node.level, []).append(node)

    bad_size = sum(n.count for n in bad)
    good_new: list[MetaLeaf] = []

    if bad_size >= p_value:
        current_level = max(by_level.keys())
        while bad_size >= p_value:
            if current_level in by_level:
                merge_dict: dict[str, list[MetaLeaf]] = {}
                singles: list[str] = []
                merge = False
                for node in by_level[current_level]:
                    pr = node.pattern
                    if pr in merge_dict:
                        merge = True
                        merge_dict[pr].append(node)
                        if pr in singles:
                            singles.remove(pr)
                    else:
                        merge_dict[pr] = [node]
                        singles.append(pr)
                if merge:
                    for k in singles:
                        del merge_dict[k]
                    for pr, node_list in merge_dict.items():
                        handle: list = []
                        count = 0
                        for node in node_list:
                            by_level[current_level].remove(node)
                            handle.extend(node.handle)
                            count += node.count
                        first = (min(n.first for n in node_list) if canonical
                                 else node_list[0].first)
                        level = current_level if current_level > 1 else 1
                        merged = MetaLeaf(level, pr, count, first, handle)
                        if count >= p_value:
                            merged.label = "good-leaf"
                            good_new.append(merged)
                            bad_size -= count
                        else:
                            merged.label = "bad-leaf"
                            by_level[current_level].append(merged)

            temp_level = current_level - 1
            for node in by_level.get(current_level, []):
                if temp_level > 1:
                    pr = pattern_of_first(node.first, temp_level)
                else:
                    pr = "a" * paa_value
                node.level = temp_level
                node.pattern = pr

            if current_level > 0:
                if temp_level not in by_level:
                    by_level[temp_level] = by_level.pop(current_level)
                else:
                    by_level[temp_level] = by_level[temp_level] + by_level.pop(current_level)
                current_level -= 1
            else:
                break

    remaining = list(by_level.values())[0] if by_level else []
    return good_new, remaining


def recycle_bad_leaves(
    values: np.ndarray,
    p_value: int,
    paa_value: int,
    good: list[Leaf],
    bad: list[Leaf],
    suppressed: list[Leaf],
) -> None:
    """Row-level wrapper over :func:`recycle_bad_leaves_meta` with the
    reference's exact quirk semantics (handles = row lists, first =
    ``rows[0]``, re-encode from the first row's series)."""
    metas = [MetaLeaf(n.level, n.pattern, len(n.rows),
                      n.rows[0] if n.rows else None, list(n.rows), n.label)
             for n in bad]

    def pattern_of_first(first: int, level: int) -> str:
        return ts_to_string(paa(znorm(values[first]), paa_value),
                            cuts_for_asize(level))

    good_new, remaining = recycle_bad_leaves_meta(
        p_value, paa_value, metas, pattern_of_first, canonical=False)
    good.extend(Leaf(m.level, m.pattern, m.handle, "good-leaf")
                for m in good_new)
    suppressed.extend(Leaf(m.level, m.pattern, m.handle, m.label)
                      for m in remaining)


# ---------------------------------------------------------------------------
# create-tree driver (reference includes/common.py:420-459)
# ---------------------------------------------------------------------------

@dataclass
class TreeResult:
    p_groups: list[list[int]] = field(default_factory=list)
    suppressed: list[list[int]] = field(default_factory=list)
    patterns: dict[int, str] = field(default_factory=dict)  # row -> sax


def create_tree(
    algorithm: str,
    values: np.ndarray,
    rows: list[int],
    p_value: int,
    paa_value: int,
    max_level: int = MAX_LEVEL,
) -> TreeResult:
    good: list[Leaf] = []
    bad: list[Leaf] = []
    suppressed_nodes: list[Leaf] = []

    split_node(values, list(rows), 1, "a" * paa_value, p_value, paa_value,
               max_level, good, bad)

    if bad:
        if algorithm == "naive":
            merge_bad_into_good(values, good, bad)
        else:
            recycle_bad_leaves(values, p_value, paa_value, good, bad, suppressed_nodes)

    res = TreeResult()
    for node in suppressed_nodes:
        res.suppressed.append(node.rows)
    for node in good:
        res.p_groups.append(node.rows)
        for r in node.rows:
            res.patterns[r] = node.pattern
    return res


# ---------------------------------------------------------------------------
# C5: bottom-up k-group formation (reference includes/k_anonymity.py:34-167)
# ---------------------------------------------------------------------------

def _union_vl(envs_hi, envs_lo, envs_n, base: Env | None, t: int) -> np.ndarray:
    """VL(candidate ∪ base) per candidate row; ``base=None`` means VL of
    the candidate alone."""
    if base is None:
        return envs_n * _metric_rows("kapra", envs_hi, envs_lo, t)
    hi = np.maximum(base.hi, envs_hi)
    lo = np.minimum(base.lo, envs_lo)
    return (base.n + envs_n) * _metric_rows("kapra", hi, lo, t)


def _first_min(vl: np.ndarray) -> tuple[int | None, float]:
    """Position of the first minimum of ``vl``, the reference's strict-<
    scan from ``inf``: NaN never wins and ``(None, inf)`` when no value
    is finite."""
    vl = np.where(np.isnan(vl), np.inf, vl)
    if len(vl):
        j = int(np.argmin(vl))
        if vl[j] < np.inf:
            return j, float(vl[j])
    return None, math.inf


def _find_min_vl(envs_hi, envs_lo, envs_n, live: np.ndarray,
                 base: Env | None, t: int) -> tuple[int | None, float]:
    """First index in ``live`` (ascending candidate indices) minimizing
    VL(candidate ∪ base), like the reference's find_group_with_min_vl;
    only the live candidates are evaluated."""
    j, vl = _first_min(_union_vl(envs_hi[live], envs_lo[live], envs_n[live],
                                 base, t))
    return (None, vl) if j is None else (int(live[j]), vl)


@dataclass
class SubgroupMeta:
    """P-subgroup SUMMARY for C5: opaque membership ``handle`` plus the
    envelope (``hi`` carries the max-with-0 quirk, so union-VL from
    these summaries equals the raw-matrix VL exactly) and the PLAIN
    per-position bounds (``phi``/``plo``, no quirk) used only for the
    rendered k-group "[lo|hi]" envelopes."""
    handle: object
    hi: np.ndarray
    lo: np.ndarray
    n: int
    phi: np.ndarray | None = None
    plo: np.ndarray | None = None


def kgroups_from_subgroups(
    pgl: list[SubgroupMeta],
    k_value: int,
    t: int,
) -> tuple[list[list[SubgroupMeta]], list[SubgroupMeta]]:
    """C5's promote + greedy-merge + leftover-attach phases on subgroup
    summaries alone (reference includes/k_anonymity.py:60-167) — the
    decision core shared verbatim by the in-memory kernel and
    ``operators.anonymize_dist``. ``pgl`` must already be past the
    >=2P preprocessing split, in the reference's order (unsplit groups
    first, split products appended in group order). Returns (k-groups
    as ordered member lists, unplaceable subgroups — non-empty only
    when no k-group could form at all).

    Every number computed here (union envelopes, VL, counts — counts
    include duplicated records, and a k-group union envelope equals the
    envelope of its concatenated member rows because min/max ignore
    duplicates) is identical to the row-level computation, so this is
    an exact re-expression, not an approximation."""
    gl: list[list[SubgroupMeta]] = []
    promoted: set[int] = set()
    for i, sg in enumerate(pgl):
        if sg.n >= k_value:
            promoted.add(i)
            gl.append([sg])
    pgl = [sg for i, sg in enumerate(pgl) if i not in promoted]

    if pgl:
        envs_hi = np.stack([sg.hi for sg in pgl])
        envs_lo = np.stack([sg.lo for sg in pgl])
        envs_n = np.array([sg.n for sg in pgl])
    else:
        envs_hi = envs_lo = np.zeros((0, t))
        envs_n = np.zeros(0, dtype=int)

    # unmerged subgroups, ascending; a subgroup's own VL never changes
    live = np.arange(len(pgl))
    own_vl = _union_vl(envs_hi, envs_lo, envs_n, None, t)
    card = int(envs_n.sum())

    while card >= k_value:
        j, _ = _first_min(own_vl[live])
        if j is None:
            break
        gi = int(live[j])
        live = np.delete(live, j)
        g = [pgl[gi]]
        g_n = int(envs_n[gi])
        g_env = Env(envs_hi[gi].copy(), envs_lo[gi].copy(), g_n)
        card -= g_n
        while g_n < k_value:
            si, _ = _find_min_vl(envs_hi, envs_lo, envs_n, live, g_env, t)
            if si is None:
                break
            g.append(pgl[si])
            g_n += int(envs_n[si])
            g_env = Env(np.maximum(g_env.hi, envs_hi[si]),
                        np.minimum(g_env.lo, envs_lo[si]),
                        g_env.n + int(envs_n[si]))
            live = live[live != si]
            card -= int(envs_n[si])
        gl.append(g)

    leftovers = [pgl[i] for i in live]
    unplaced: list[SubgroupMeta] = []
    for sg in leftovers:
        if not gl:
            unplaced.append(sg)
            continue
        sg_env = Env(sg.hi, sg.lo, sg.n)
        gl_hi = np.stack([np.maximum.reduce([m.hi for m in g]) for g in gl])
        gl_lo = np.stack([np.minimum.reduce([m.lo for m in g]) for g in gl])
        gl_n = np.array([sum(m.n for m in g) for g in gl])
        gi, _ = _find_min_vl(gl_hi, gl_lo, gl_n, np.arange(len(gl)), sg_env, t)
        g_prime = gl.pop(gi)
        g_prime = g_prime + [sg]
        gl.append(g_prime)

    return gl, unplaced


def split_subgroup(values: np.ndarray, rows, p_value: int,
                   rnd: RandomSource) -> list[list[int]]:
    """C5 preprocessing of ONE P-subgroup of >= 2P records (the step
    before reference includes/k_anonymity.py:60-167): the C1 top-down
    split into ~P-record groups, then C2 postprocessing of the sub-P
    ones. Returns the post-processed groups as lists of ids from
    ``rows``, in reference order; C2 may duplicate an id across groups
    (its quirk).
    The one split every anonymizer runs: ``bottom_up_kgroups`` with its
    shared RNG, the canonical and distributed paths with one seeded RNG
    per P-group."""
    tmp: list[list[int]] = []
    labels: list[str] = []
    top_down_greedy("kapra", list(rows), p_value, values, tmp, labels, rnd)
    post: list[list[int]] = []
    postprocess_groups("kapra", p_value, tmp, labels, post, values)
    return post


def bottom_up_kgroups(
    values: np.ndarray,
    p_subgroups: list[list[int]],
    p_value: int,
    k_value: int,
    rnd: RandomSource,
) -> tuple[list[list[int]], list[list[int]]]:
    """P-subgroups -> (k-groups, unplaceable subgroups), evaluated
    entirely on envelope summaries (exact, because VL is
    envelope-determined). Row-level wrapper: splits every subgroup of
    >= 2P records with :func:`split_subgroup` (in subgroup order, one
    shared RNG sequence, like the reference), appends the products
    after the unsplit subgroups and delegates the promote/merge/attach
    phases to :func:`kgroups_from_subgroups`.

    The second element is non-empty only when NO k-group could be
    formed at all (total records < k) — input the reference refuses
    outright (naive.py:22-26) or crashes on (k_anonymity.py:159-167
    pops from an empty GL); the engine suppresses those records
    instead, which is the privacy-safe resolution."""
    pgl = [sg for sg in p_subgroups if len(sg) < 2 * p_value]
    for sg in p_subgroups:
        if len(sg) >= 2 * p_value:
            pgl += split_subgroup(values, sg, p_value, rnd)

    metas = []
    for sg in pgl:
        hi, lo, n = envelope(values[sg])
        metas.append(SubgroupMeta(handle=sg, hi=hi, lo=lo, n=n))
    gl_meta, unplaced_meta = kgroups_from_subgroups(metas, k_value,
                                                    values.shape[1])

    gl = [[r for m in g for r in m.handle] for g in gl_meta]
    unplaced = [list(m.handle) for m in unplaced_meta]
    return gl, unplaced


# ---------------------------------------------------------------------------
# F9: l-diversity enforcement (reference includes/l_diversity.py:7-107)
# ---------------------------------------------------------------------------

def enforce_l_diversity(
    patterns: dict[int, str],
    sensitive: dict[int, float],
    k_groups: list[list[int]],
    l_value: int,
    rnd: RandomSource,
    epsilon: int = 3,
) -> dict[int, int]:
    """Perturb sensitive values until each P-subgroup's dominant
    equivalence class is <= |PS_R|/l. Mutates ``sensitive`` in place;
    returns the escalation-round diagnostics dict. Loop-carried PS_R
    for suppressed keys matches the reference."""
    perturbated_rounds: dict[int, int] = {}
    ps_r: list[int] | None = None
    keyset: set[int] = set()
    first_group: dict[int, list[int]] = {}  # key -> first k-group holding it
    for k_group in k_groups:
        for k in k_group:
            first_group.setdefault(k, k_group)

    for key in list(sensitive.keys()):
        if key in keyset:
            continue
        keyset.add(key)

        k_group = first_group.get(key)
        if k_group is not None:
            ps_r = [k for k in k_group if patterns.get(k) == patterns.get(key)]

        if ps_r is None:
            continue
        ec_v = [k for k in ps_r if sensitive[k] == sensitive[key]]
        keyset.update(ec_v)

        ps_s_values = {sensitive[k] for k in ps_r}
        if not (ps_r and ec_v):
            continue
        if len(ec_v) / len(ps_r) <= 1 / l_value:
            continue

        x_i = len(ec_v) - math.floor(len(ps_r) / l_value)
        for key_ec in rnd.choice(ec_v, size=x_i):
            key_ec = int(key_ec)
            orig = sensitive[key_ec]
            noises = [x - epsilon for x in range(2 * epsilon + 1)]
            rnd.shuffle(noises)
            perturbated = False
            for noise in noises:
                sensitive[key_ec] = orig + noise
                if sensitive[key_ec] not in ps_s_values:
                    perturbated = True
                    break
            if perturbated:
                ps_s_values.add(sensitive[key_ec])
            else:
                round_i = 1
                while True:
                    found = False
                    for noise in (epsilon + round_i, -epsilon - round_i):
                        sensitive[key_ec] = orig + noise
                        if sensitive[key_ec] not in ps_s_values:
                            found = True
                            break
                    if found:
                        ps_s_values.add(sensitive[key_ec])
                        perturbated_rounds[key_ec] = round_i
                        break
                    round_i += 1
    return perturbated_rounds
