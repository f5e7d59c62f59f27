"""Distributed create-tree parity: the breadth-first DataFrame-resident
tree (operators/tree_dist.py) must produce IDENTICAL leaf assignment —
same member sets, levels, patterns, labels — as the in-memory
recursive kernel (functions/clustering.split_node) that is itself
parity-tested against the reference (tests/test_clustering_parity)."""

import numpy as np
import pytest

from kapra_spark import datagen
from kapra_spark.functions import clustering as C
from kapra_spark.operators.tree_dist import create_tree_distributed


def _inmem_leaves(values, p, paa, max_level=5):
    good, bad = [], []
    C.split_node(values, list(range(len(values))), 1, "a" * paa,
                 p, paa, max_level, good, bad)
    out = set()
    for leaf in good:
        out.add((leaf.level, leaf.pattern, frozenset(leaf.rows), "good-leaf"))
    for leaf in bad:
        out.add((leaf.level, leaf.pattern, frozenset(leaf.rows), "bad-leaf"))
    return out


def _dist_leaves(spark, pdf, p, paa):
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    res = create_tree_distributed(tokens, p, paa).toPandas()
    ids = {d: i for i, d in enumerate(pdf["doc_id"])}
    out = set()
    for (leaf_id, level, pattern, label), grp in res.groupby(
            ["leaf_id", "level", "pattern", "label"]):
        out.add((int(level), pattern,
                 frozenset(ids[d] for d in grp["doc_id"]), label))
    return out


@pytest.mark.parametrize("n,p,paa,seed", [
    (300, 4, 4, 11),   # mid-size source, the r2-verdict 'done' config
    (500, 6, 5, 3),    # deeper tree, different alphabet width
    (60, 12, 4, 7),    # small: maximize-level + TB-merge paths
])
def test_tree_dist_matches_inmem(spark, n, p, paa, seed):
    pdf = datagen.tokens_pdf(n, n_tok=13, seed=seed, gap_fraction=0.0)
    # one global tree (the operator's unit is the whole table)
    mat = np.stack(pdf["tokens"].to_numpy()).astype(np.float64)[:, :-1]
    expect = _inmem_leaves(mat, p, paa)
    got = _dist_leaves(spark, pdf, p, paa)
    assert got == expect


def test_tree_dist_covers_all_rows(spark):
    pdf = datagen.tokens_pdf(200, n_tok=13, seed=5, gap_fraction=0.0)
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    res = create_tree_distributed(tokens, 4, 4).toPandas()
    assert len(res) == 200                       # every row exactly once
    assert res["doc_id"].nunique() == 200
    good = res[res["label"] == "good-leaf"]
    sizes = good.groupby("leaf_id").size()
    assert (sizes >= 4).all()                    # good leaves honor P


@pytest.mark.parametrize("n,p,paa,seed,parts", [
    pytest.param(300, 4, 4, 11, 1, id="300-4-4-11"),
    pytest.param(60, 12, 4, 7, 1, id="60-12-4-7"),   # TB-merge + maximize
    # the per-phase window ranks and min-doc aggregates across partitions
    pytest.param(300, 4, 4, 11, 8, id="300-4-4-11-8parts"),
])
def test_tree_dist_order_contract(spark, n, p, paa, seed, parts):
    """Sorting distributed leaves by order_key reproduces the recursive
    kernel's DFS append order exactly (per label class) — the contract
    the C4/C5 distributed phases (anonymize_dist) build on."""
    pdf = datagen.tokens_pdf(n, n_tok=13, seed=seed, gap_fraction=0.0)
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    mat = np.stack(pdf["tokens"].to_numpy()).astype(np.float64)[:, :-1]
    good, bad = [], []
    C.split_node(mat, list(range(len(mat))), 1, "a" * paa, p, paa, 5,
                 good, bad, canonical=True)
    ids = list(pdf["doc_id"])
    exp = {
        "good-leaf": [(l.level, l.pattern, frozenset(ids[r] for r in l.rows))
                      for l in good],
        "bad-leaf": [(l.level, l.pattern, frozenset(ids[r] for r in l.rows))
                     for l in bad],
    }
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    if parts > 1:
        tokens = tokens.repartition(parts, "doc_id")
    res = create_tree_distributed(tokens, p, paa).toPandas()
    got = {"good-leaf": [], "bad-leaf": []}
    for (leaf_id, level, pattern, label, okey), grp in res.groupby(
            ["leaf_id", "level", "pattern", "label", "order_key"]):
        got[label].append((okey, int(level), pattern,
                           frozenset(grp["doc_id"])))
    for label in exp:
        assert [x[1:] for x in sorted(got[label])] == exp[label]

