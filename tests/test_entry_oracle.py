"""The anonymize-family driver queries against their pinned oracle rows
(``__spark_entry__.oracle_sql()``), compared the way
``tools/check_oracle.py`` compares them: the exact ``kp_anonymize``
output digest (kapra and naive), the global pattern loss, and the
distributed create-tree's leaf and order-contract mismatch counts
against the in-memory kernel (300 rows, and 10^4 rows in 32
partitions), and the distributed anonymizer's row mismatches against
its in-memory canonical twin (one-shard merge) with the multi-shard
merge's invariants. These queries build their own synthetic input, so
no sf data is needed."""

import importlib.util
import os

import duckdb
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str, rel: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("name", ["kp_anonymize_kapra", "kp_anonymize_naive",
                                  "pattern_loss_global", "tree_dist_parity",
                                  "tree_dist_mid", "kp_dist_parity",
                                  "kp_dist_sharded"])
def test_query_matches_oracle(spark, name):
    entry = _load("__spark_entry__", "__spark_entry__.py")
    normalize = _load("check_oracle", "tools/check_oracle.py").normalize
    mine = normalize(entry.queries()[name](spark, "unused").toPandas())
    theirs = normalize(duckdb.connect().execute(entry.oracle_sql()[name]).df())
    assert list(mine.columns) == list(theirs.columns)
    pd.testing.assert_frame_equal(mine, theirs, check_dtype=False,
                                  check_exact=False, rtol=0, atol=1e-9)
