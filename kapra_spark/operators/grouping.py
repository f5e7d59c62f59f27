"""(k,P)-anonymity grouping as a Spark operator (SURVEY.md C1-C6, F9).

The reference's clustering is inherently sequential-greedy over one
table (reference includes/common.py, includes/k_anonymity.py); here
each ``source`` is an independent table, so the engine runs the exact
parity-tested kernels (functions/clustering.py) group-locally inside
``groupBy(source).applyInPandas`` — one Arrow batch per source, NumPy
vectorized interiors, per-source seeded RNG so results are reproducible
and partition-layout independent (SURVEY.md §4.3).

Input follows the reference's column convention (includes/io.py:131-134):
the LAST token of each row is the sensitive attribute; the rest are the
series. Output: per-record group id, shared SAX pattern, perturbed
sensitive value, and the k-group envelope (lo/hi arrays) — the
engine-native form of the reference's "[lo|hi]" strings
(includes/anonymized_dataset.py:27-50). Suppressed records keep null
group/sax/envelope (the " - " rows).

Scale note: one source's records must fit one executor's Arrow batch
(the same bound the single-node reference has for its whole table).
A source too big for one task goes to
``operators.anonymize_dist.kp_anonymize_distributed``, which keeps
reference semantics (groups may span the whole source) with records
distributed through every phase.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions import clustering as C

ANON_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("source", T.StringType(), False),
    T.StructField("group_id", T.StringType(), True),
    T.StructField("sax", T.StringType(), True),
    T.StructField("as_perturbed", T.LongType(), True),
    T.StructField("lo", T.ArrayType(T.LongType()), True),
    T.StructField("hi", T.ArrayType(T.LongType()), True),
    T.StructField("suppressed", T.BooleanType(), False),
])


def token_matrix(tokens: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """``(values, sensitive)`` of a ``tokens`` column of equal-length
    rows, both float64: the LAST token of each row is the sensitive
    attribute (``sensitive``, shape (n,)), the rest are the series
    (``values``, shape (n, T - 1)) — the one place that knows the
    reference's column convention (includes/io.py:131-134)."""
    mat = np.stack(tokens.to_numpy()).astype(np.float64)
    return mat[:, :-1], mat[:, -1]


def source_arrays(pdf: pd.DataFrame):
    """``(source, ids, values, sensitive)`` of one source, rows sorted by
    ``doc_id`` so results do not depend on partition layout (SURVEY.md
    §4.3). ``values`` is the series; ``sensitive`` maps row -> last token.
    """
    source = pdf["source"].iloc[0]
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    values, sens = token_matrix(pdf["tokens"])
    sensitive = {i: int(v) for i, v in enumerate(sens)}
    return source, pdf["doc_id"].tolist(), values, sensitive


def render(ids: list, source: str, sensitive: dict, placed,
           suppressed) -> pd.DataFrame:
    """ANON_SCHEMA rows from ``placed`` ``(row, group_id, sax, lo, hi)``
    in k-group order, then ``suppressed`` rows. The LAST placement of a
    row wins and suppression overwrites it: the reference's bottom-up
    can duplicate an id across k-groups, and its renderer dedupes
    exactly this way (anonymized_dataset.py:22-50).
    """
    rowmap: dict[int, tuple] = {}
    for r, gid, sax, lo, hi in placed:
        rowmap[r] = (ids[r], source, gid, sax, sensitive[r], lo, hi, False)
    for r in suppressed:
        rowmap[r] = (ids[r], source, None, None, None, None, None, True)
    cols = ANON_SCHEMA.fieldNames()
    out: dict[str, list] = {c: [] for c in cols}
    for row in rowmap.values():
        for c, v in zip(cols, row):
            out[c].append(v)
    return pd.DataFrame(out)


def per_source(tokens_df: DataFrame, kernel, k: int, p: int,
               *args) -> DataFrame:
    """``kernel(pdf, k, p, *args)`` once per ``source`` (one Arrow batch
    each), emitting ANON_SCHEMA."""
    if k < p:
        raise ValueError("k must be >= P (reference k_P_anonymity.py:40-44)")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return kernel(pdf, k, p, *args)

    return tokens_df.groupBy("source").applyInPandas(fn, ANON_SCHEMA)


def _anonymize_source(pdf: pd.DataFrame, k: int, p: int, paa: int, l: int,
                      algorithm: str, seed: int) -> pd.DataFrame:
    source, ids, values, sensitive = source_arrays(pdf)
    rnd = C.NumpyRandomSource(C.stable_seed(seed, source))
    rows = list(range(len(values)))

    suppressed_rows: list[list[int]] = []
    if algorithm == "kapra":
        tree = C.create_tree("kapra", values, rows, p, paa)
        k_groups, unplaced = C.bottom_up_kgroups(
            values, [list(g) for g in tree.p_groups], p, k, rnd)
        patterns = tree.patterns
        # sources with < k records can't form any k-group: suppress
        # (the reference refuses such input outright, naive.py:22-26)
        suppressed_rows = tree.suppressed + unplaced
    elif algorithm == "naive":
        gmax = values.max(axis=0)
        gmin = values.min(axis=0)
        k_groups_raw: list[list[int]] = []
        labels: list[str] = []
        C.top_down_greedy("naive", rows, k, values, k_groups_raw, labels,
                          rnd, "o", gmax, gmin)
        # NOTE: the reference computes postprocessing but rebinds a
        # local, so its naive path uses the RAW top-down clusters
        # (k_anonymity.py:27-32 vs naive.py:34-35); we mirror that.
        k_groups = k_groups_raw
        patterns = {}
        for grp in k_groups:
            tree = C.create_tree("naive", values, list(grp), p, paa)
            patterns.update(tree.patterns)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}")

    C.enforce_l_diversity(patterns, sensitive, k_groups, l, rnd)

    # group envelopes come from the FULL member list (including
    # duplicated members), before the renderer's dedup — reference-exact
    placed = []
    for gi, grp in enumerate(k_groups):
        glo = values[grp].min(axis=0).astype(np.int64)
        ghi = values[grp].max(axis=0).astype(np.int64)
        placed += [(r, f"{source}#{gi}", patterns.get(r), glo, ghi)
                   for r in grp]
    return render(ids, source, sensitive, placed,
                  [r for grp in suppressed_rows for r in grp])


def kp_anonymize(tokens_df: DataFrame, k: int, p: int, paa: int, l: int = 1,
                 algorithm: str = "kapra", seed: int = 42) -> DataFrame:
    """(k,P)-anonymity with l-diversity per ``source``.

    Equivalent CLI in the reference:
    ``python k_P_anonymity.py <algorithm> <k> <P> <paa> <l> <csv>``
    (k_P_anonymity.py:28-56), one run per source table.

    Each source is one applyInPandas task, so one source's records must
    fit one Arrow batch. A source too big for one task goes to
    ``operators.anonymize_dist.kp_anonymize_distributed``, which keeps
    reference semantics (groups span the source) with records
    distributed through every phase.
    """
    return per_source(tokens_df, _anonymize_source, k, p, paa, l,
                      algorithm, seed)
