"""Distributed create-tree parity: the breadth-first DataFrame-resident
tree (operators/tree_dist.py) builds one tree per source, and each
source's tree must produce IDENTICAL leaf assignment — same member
sets, levels, patterns, labels — as the in-memory recursive kernel
(functions/clustering.split_node, itself parity-tested against the
reference in tests/test_clustering_parity) run on that source's rows,
with leaf order reproduced by ``order_key``."""

import numpy as np
import pytest

from kapra_spark import datagen
from kapra_spark.functions import clustering as C
from kapra_spark.operators.tree_dist import create_tree_distributed


def _inmem_leaves(pdf, p, paa, canonical=False):
    """{source: {label: [(level, pattern, doc ids)] in append order}} of
    ``split_node`` run on each source's rows in ``pdf`` order."""
    out = {}
    for source, src in pdf.groupby("source"):
        mat = np.stack(src["tokens"].to_numpy()).astype(np.float64)[:, :-1]
        ids = list(src["doc_id"])
        good, bad = [], []
        C.split_node(mat, list(range(len(mat))), 1, "a" * paa, p, paa, 5,
                     good, bad, canonical=canonical)
        out[source] = {
            label: [(lf.level, lf.pattern, frozenset(ids[r] for r in lf.rows))
                    for lf in leaves]
            for label, leaves in (("good-leaf", good), ("bad-leaf", bad))}
    return out


def _dist_leaves(res):
    """The same shape from ``create_tree_distributed`` output, each
    source's leaves sorted by ``order_key``."""
    keyed = {}
    for (source, _, level, pattern, label, okey), grp in res.groupby(
            ["source", "leaf_id", "level", "pattern", "label", "order_key"]):
        keyed.setdefault(source, {"good-leaf": [], "bad-leaf": []})
        keyed[source][label].append(
            (okey, int(level), pattern, frozenset(grp["doc_id"])))
    return {source: {label: [x[1:] for x in sorted(v)]
                     for label, v in by_label.items()}
            for source, by_label in keyed.items()}


@pytest.mark.parametrize("n,p,paa,seed", [
    (300, 4, 4, 11),   # mid-size sources, the r2-verdict 'done' config
    (500, 6, 5, 3),    # deeper trees, different alphabet width
    (60, 12, 4, 7),    # small: maximize-level + TB-merge paths
])
def test_tree_dist_matches_inmem(spark, n, p, paa, seed):
    """Per source, the leaf partition equals the reference-quirk
    ``split_node`` on the source's rows in input order."""
    pdf = datagen.tokens_pdf(n, n_tok=13, seed=seed, gap_fraction=0.0)
    assert pdf["source"].nunique() > 1
    expect = _inmem_leaves(pdf, p, paa)
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    got = _dist_leaves(create_tree_distributed(tokens, p, paa).toPandas())
    assert got.keys() == expect.keys()
    for source in expect:
        for label in ("good-leaf", "bad-leaf"):
            assert (set(got[source][label])
                    == set(expect[source][label])), (source, label)


def test_tree_dist_covers_all_rows(spark):
    pdf = datagen.tokens_pdf(200, n_tok=13, seed=5, gap_fraction=0.0)
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    res = create_tree_distributed(tokens, 4, 4).toPandas()
    assert len(res) == 200                       # every row exactly once
    assert res["doc_id"].nunique() == 200
    good = res[res["label"] == "good-leaf"]
    sizes = good.groupby(["source", "leaf_id"]).size()
    assert (sizes >= 4).all()                    # good leaves honor P
    # every row keeps its source
    assert (set(zip(res["source"], res["doc_id"]))
            == set(zip(pdf["source"], pdf["doc_id"])))


@pytest.mark.parametrize("n,p,paa,seed,parts", [
    pytest.param(300, 4, 4, 11, 1, id="300-4-4-11"),
    pytest.param(60, 12, 4, 7, 1, id="60-12-4-7"),   # TB-merge + maximize
    # the per-phase window ranks and min-doc aggregates across partitions
    pytest.param(300, 4, 4, 11, 8, id="300-4-4-11-8parts"),
])
def test_tree_dist_order_contract(spark, n, p, paa, seed, parts):
    """Sorting each source's distributed leaves by order_key reproduces
    the recursive kernel's DFS append order on that source's doc-sorted
    rows exactly (per label class) — the contract the C4/C5 distributed
    phases (anonymize_dist) build on."""
    pdf = datagen.tokens_pdf(n, n_tok=13, seed=seed, gap_fraction=0.0)
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    expect = _inmem_leaves(pdf, p, paa, canonical=True)
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    if parts > 1:
        tokens = tokens.repartition(parts, "doc_id")
    got = _dist_leaves(create_tree_distributed(tokens, p, paa).toPandas())
    assert got == expect

