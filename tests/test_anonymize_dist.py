"""Distributed (k,P)-anonymity end-to-end (operators/anonymize_dist):

- ROW-FOR-ROW equality between ``kp_anonymize_distributed`` (records
  distributed through C3/C4/C5/F9) and ``kp_anonymize_canonical`` (one
  in-memory kernel per source under the same order contract) — the
  round-4 'done' criterion for C4/C5 distribution.
- (k, P, l) invariants on one giant source anonymized as a whole
  (groups may span the whole source, as in the reference).
- the multi-shard C5 merge: invariants, a bounded value-loss cost
  against the one-shard (exact) merge, and a returned plan that never
  re-runs the checkpointed C5 kernels.
- layout independence: repartitioned input produces identical rows.
- ``source`` as a key: ids shared across sources, the empty input, and
  the job count of one call on a 4-source input.
"""

import numpy as np
import pandas as pd
import pytest

from kapra_spark import datagen
from kapra_spark.operators.anonymize_dist import (kp_anonymize_canonical,
                                                  kp_anonymize_distributed)
from kapra_spark.operators.grouping import ANON_SCHEMA
from tests.fixtures import jobs_of

# Spark jobs of one kp_anonymize_distributed call on the 4-source
# 250-row input (tests/fixtures.jobs_of, local[4], 8 shuffle
# partitions): 100-102 measured, as AQE's asynchronous broadcast jobs
# vary by a few between runs. One job chain per source took 374, the
# same rows as one source 126.
JOBS_4_SOURCES = 104


def _tot_vl(out: pd.DataFrame) -> float:
    """tot VL from the rendered envelopes (``group_value_loss``'s
    formula: n * sqrt(sum((hi - lo)^2) / T) per group)."""
    tot = 0.0
    for _, grp in out[~out["suppressed"]].groupby("group_id"):
        rng = (np.asarray(grp["hi"].iloc[0], np.float64)
               - np.asarray(grp["lo"].iloc[0], np.float64))
        tot += len(grp) * np.sqrt(np.sum(rng * rng) / len(rng))
    return tot


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in ("lo", "hi"):
        df[c] = df[c].map(lambda v: None if v is None else tuple(v))
    return (df.sort_values(["source", "doc_id"]).reset_index(drop=True)
            [["doc_id", "source", "group_id", "sax", "as_perturbed",
              "lo", "hi", "suppressed"]])


@pytest.mark.parametrize("n,k,p,paa,l,seed", [
    (250, 8, 4, 4, 2, 11),    # mid-size, multi-source (4 sources)
    (120, 6, 3, 5, 1, 3),     # no l-diversity pressure, wider paa
    (90, 16, 8, 4, 2, 7),     # few big groups: maximize/TB-merge paths
])
def test_distributed_matches_canonical(spark, n, k, p, paa, l, seed):
    pdf = datagen.tokens_pdf(n, n_tok=13, seed=seed, gap_fraction=0.0)
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    canon = _norm(kp_anonymize_canonical(tokens, k=k, p=p, paa=paa, l=l,
                                         seed=seed).toPandas())
    dist = _norm(kp_anonymize_distributed(tokens, k=k, p=p, paa=paa, l=l,
                                          seed=seed).toPandas())
    pd.testing.assert_frame_equal(canon, dist)


def test_distributed_layout_independent(spark):
    pdf = datagen.tokens_pdf(200, n_tok=13, seed=5, gap_fraction=0.0)
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    a = _norm(kp_anonymize_distributed(tokens, k=8, p=4, paa=4, l=2)
              .toPandas())
    b = _norm(kp_anonymize_distributed(tokens.repartition(13, "doc_id"),
                                       k=8, p=4, paa=4, l=2).toPandas())
    pd.testing.assert_frame_equal(a, b)


def test_distributed_giant_source_invariants(spark):
    """One hot source anonymized GLOBALLY by the distributed path: the
    (k, P, l) guarantees hold over the whole source."""
    k, p, l = 10, 5, 2
    pdf = datagen.tokens_pdf(1000, n_tok=13, seed=23, gap_fraction=0.0)
    pdf["source"] = "giant"
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    out = kp_anonymize_distributed(tokens, k=k, p=p, paa=4, l=l).toPandas()

    assert len(out) == 1000
    assert out["doc_id"].nunique() == 1000
    grouped = out[~out["suppressed"]]
    # k-anonymity: every rendered group has >= k members
    sizes = grouped.groupby("group_id").size()
    assert (sizes >= k).all()
    # P-requirement: every (group, pattern) subgroup has >= P members
    psizes = grouped.groupby(["group_id", "sax"]).size()
    assert (psizes >= p).all()
    # suppression is the exception, not the rule
    assert out["suppressed"].sum() < 0.1 * len(out)
    # l-diversity: no equivalence class dominates its PS_R beyond 1/l
    for (_, _), sub in grouped.groupby(["group_id", "sax"]):
        vc = sub["as_perturbed"].value_counts()
        assert vc.iloc[0] <= np.floor(len(sub) / l) or vc.iloc[0] == 1
    # group envelopes actually bound the member series
    toks = {r.doc_id: np.asarray(r.tokens[:-1]) for r in pdf.itertuples()}
    for row in grouped.head(50).itertuples():
        v = toks[row.doc_id]
        assert (v >= np.asarray(row.lo)).all()
        assert (v <= np.asarray(row.hi)).all()


def test_c5_sharded_multi_shard_invariants(spark):
    """Multi-shard C5 (the 10^12-sequence giant-source path, forced
    here with a tiny shard size): the grouping legitimately differs
    from the global greedy, but every (k, P, l) guarantee holds, every
    record is accounted for exactly once, the suppressed set equals
    the exact path's (shards always have >= shard_size >= k records,
    so no k-group-formation failures are introduced), the total value
    loss stays within 10% of the exact path's, and the result is
    independent of the input partition layout. The sub-map is
    checkpointed, so the returned plan holds no C5 greedy or envelope
    kernel: they ran once per shard before the call returned."""
    k, p, l = 8, 4, 2
    pdf = datagen.tokens_pdf(600, n_tok=13, seed=31, gap_fraction=0.0)
    pdf["source"] = "giant"
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    out_df = kp_anonymize_distributed(tokens, k=k, p=p, paa=4, l=l,
                                      c5_exact_max=0, c5_shard_size=16)
    out = out_df.toPandas()
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert "shard_kernel(" not in plan and "env_kernel(" not in plan
    assert len(out) == 600
    assert out["doc_id"].nunique() == 600
    grouped = out[~out["suppressed"]]
    assert (grouped.groupby("group_id").size() >= k).all()
    assert (grouped.groupby(["group_id", "sax"]).size() >= p).all()
    for (_, _), sub in grouped.groupby(["group_id", "sax"]):
        vc = sub["as_perturbed"].value_counts()
        assert vc.iloc[0] <= np.floor(len(sub) / l) or vc.iloc[0] == 1
    toks = {r.doc_id: np.asarray(r.tokens[:-1]) for r in pdf.itertuples()}
    for row in grouped.head(50).itertuples():
        v = toks[row.doc_id]
        assert (v >= np.asarray(row.lo)).all()
        assert (v <= np.asarray(row.hi)).all()

    exact = kp_anonymize_distributed(tokens, k=k, p=p, paa=4, l=l).toPandas()
    assert (set(out[out["suppressed"]]["doc_id"])
            == set(exact[exact["suppressed"]]["doc_id"]))
    assert _tot_vl(out) <= 1.10 * _tot_vl(exact)

    relay = _norm(kp_anonymize_distributed(
        tokens.repartition(13, "doc_id"), k=k, p=p, paa=4, l=l,
        c5_exact_max=0, c5_shard_size=16).toPandas())
    pd.testing.assert_frame_equal(_norm(out), relay)


def test_distributed_job_count(spark):
    """``source`` is a key, not a driver loop: the 4-source 250-row
    input runs one job chain for all sources."""
    pdf = datagen.tokens_pdf(250, n_tok=13, seed=11, gap_fraction=0.0)
    assert pdf["source"].nunique() == 4
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    n = jobs_of(spark, lambda: kp_anonymize_distributed(
        tokens, k=8, p=4, paa=4, l=2).toPandas())
    assert n <= JOBS_4_SOURCES


def test_distributed_doc_id_shared_across_sources(spark):
    """``doc_id`` is unique only within a source: every id below appears
    in two or three sources, and each source still equals its canonical
    run, including source ``c``, smaller than P and all suppressed."""
    parts = []
    for source, n, seed in (("a", 120, 13), ("b", 120, 17), ("c", 3, 19)):
        part = datagen.tokens_pdf(n, n_tok=13, seed=seed, gap_fraction=0.0)
        part["source"] = source
        parts.append(part)
    tokens = spark.createDataFrame(pd.concat(parts, ignore_index=True),
                                   schema=datagen.TOKENS_SCHEMA)
    canon = _norm(kp_anonymize_canonical(tokens, k=8, p=4, paa=4, l=2)
                  .toPandas())
    dist = _norm(kp_anonymize_distributed(tokens, k=8, p=4, paa=4, l=2)
                 .toPandas())
    assert len(dist) == 243
    assert dist[dist["source"] == "c"]["suppressed"].all()
    pd.testing.assert_frame_equal(canon, dist)


def test_distributed_empty_input(spark):
    pdf = datagen.tokens_pdf(10, n_tok=13, seed=1, gap_fraction=0.0)
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA).limit(0)
    out = kp_anonymize_distributed(tokens, k=8, p=4, paa=4)
    assert out.schema == ANON_SCHEMA
    assert out.count() == 0


def test_distributed_small_source_suppressed(spark):
    """A source with fewer than k records cannot form any k-group: all
    its records come back suppressed (the reference refuses such input;
    suppression is the engine's privacy-safe resolution)."""
    pdf = datagen.tokens_pdf(5, n_tok=13, seed=2, gap_fraction=0.0)
    pdf["source"] = "tiny"
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    out = kp_anonymize_distributed(tokens, k=8, p=4, paa=4).toPandas()
    assert len(out) == 5
    assert out["suppressed"].all()
