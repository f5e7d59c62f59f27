"""Rollup cascade tests: fast path == long-form path == DuckDB oracle,
re-aggregation invariants, LOCF properties, single-shuffle plan."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from kapra_spark import datagen
from kapra_spark.operators import rollup as R

N = 64
N_TOK = 144


@pytest.fixture(scope="module")
def tokens_pdf():
    return datagen.tokens_pdf(N, n_tok=N_TOK, seed=42, gap_fraction=0.3)


@pytest.fixture(scope="module")
def tokens(spark, tokens_pdf):
    return spark.createDataFrame(tokens_pdf, schema=datagen.TOKENS_SCHEMA).cache()


def _duck_rollup(tokens_pdf: pd.DataFrame, mins: int) -> pd.DataFrame:
    import pyarrow as pa

    con = duckdb.connect()
    tbl = pa.table({
        "doc_id": pa.array(tokens_pdf["doc_id"]),
        "source": pa.array(tokens_pdf["source"]),
        "tokens": pa.array([list(map(int, t)) for t in tokens_pdf["tokens"]],
                           type=pa.list_(pa.int32())),
    })
    con.register("tokens", tbl)
    q = f"""
    WITH long AS (
      SELECT doc_id, source,
             generate_subscripts(tokens, 1) - 1 AS pos,
             unnest(tokens) AS raw
      FROM tokens
    ), nulled AS (
      SELECT doc_id, source, pos,
             CASE WHEN raw = -1 THEN NULL ELSE raw END AS v FROM long
    ), locf AS (
      SELECT doc_id, source, pos,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY source, doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS value,
             (v IS NULL AND last_value(v IGNORE NULLS) OVER (
               PARTITION BY source, doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) IS NOT NULL) AS filled
      FROM nulled
    )
    SELECT source, doc_id,
           {R.EPOCH_SECONDS} + (pos // {mins}) * {mins} * 60 AS bucket,
           count(value) AS cnt, sum(value) AS sum,
           min(value) AS min, max(value) AS max,
           first(value ORDER BY pos) FILTER (value IS NOT NULL) AS first,
           last(value ORDER BY pos) FILTER (value IS NOT NULL) AS last,
           sum(CASE WHEN filled THEN 1 ELSE 0 END) AS n_filled
    FROM locf
    GROUP BY 1, 2, 3
    HAVING count(value) > 0
    ORDER BY source, doc_id, bucket
    """
    return con.execute(q).df()


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    return (df.sort_values(["source", "doc_id", "bucket"])
            .reset_index(drop=True)
            .astype({"cnt": "int64", "sum": "int64", "min": "int64",
                     "max": "int64", "first": "int64", "last": "int64",
                     "n_filled": "int64"}))


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_fast_path_matches_duckdb(tokens, tokens_pdf, tier):
    mins = R.TIERS[tier]
    fast = (R.cascade_fast(tokens, tiers=(tier,))
            .toPandas().drop(columns=["tier"]))
    oracle = _duck_rollup(tokens_pdf, mins)
    pd.testing.assert_frame_equal(_norm(fast), _norm(oracle), check_dtype=False)


def test_long_form_cascade_matches_fast(spark, tokens):
    """The INDEPENDENT declarative plan (posexplode -> window -> groupBy,
    no shared kernel) must match the mapInArrow fast path."""
    tiers = R.cascade_declarative(tokens)
    fast = R.cascade_fast(tokens).toPandas()
    for tier in ("1m", "1h", "1d"):
        longf = tiers[tier].toPandas()
        longf["bucket"] = longf["bucket"].astype("datetime64[ns]").astype("int64") // 10**9
        ff = fast[fast["tier"] == tier].drop(columns=["tier"])
        pd.testing.assert_frame_equal(_norm(ff), _norm(longf), check_dtype=False)


def test_cascade_matches_declarative(spark, tokens):
    """The production cascade() (kernel-based, zero shuffle) must equal
    the declarative long-form implementation tier by tier: same columns,
    same rows, same values — the r06 optimization must not change what
    the operator computes."""
    kern = R.cascade(tokens)
    decl = R.cascade_declarative(tokens)
    for tier in ("1m", "1h", "1d"):
        k = kern[tier].toPandas()
        d = decl[tier].toPandas()
        assert list(k.columns) == list(d.columns)
        for df in (k, d):
            df["bucket"] = (df["bucket"].astype("datetime64[ns]")
                            .astype("int64") // 10**9)
        pd.testing.assert_frame_equal(_norm(k), _norm(d), check_dtype=False)


def test_empty_series_has_no_buckets(spark):
    """A series with n_tok = 0 yields no bucket in any tier and does not
    fail the task: cascade_fast and every cascade() tier equal their
    result on the table without it."""
    pdf = datagen.tokens_pdf(2, n_tok=N_TOK, seed=7, gap_fraction=0.3)
    pdf.at[1, "tokens"] = np.zeros(0, dtype=np.int32)
    pdf.at[1, "n_tok"] = 0
    both = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    full = spark.createDataFrame(pdf.iloc[:1], schema=datagen.TOKENS_SCHEMA)
    key = ["tier", "source", "doc_id", "bucket"]
    pd.testing.assert_frame_equal(
        R.cascade_fast(both).toPandas().sort_values(key).reset_index(drop=True),
        R.cascade_fast(full).toPandas().sort_values(key).reset_index(drop=True))
    got, want = R.cascade(both), R.cascade(full)
    for tier in R.TIERS:
        pd.testing.assert_frame_equal(
            got[tier].toPandas().sort_values(key[1:]).reset_index(drop=True),
            want[tier].toPandas().sort_values(key[1:]).reset_index(drop=True))


def test_reaggregation_invariants(spark, tokens):
    tiers = R.cascade(tokens)
    m = tiers["1m"].toPandas()
    h = tiers["1h"].toPandas()
    m["hb"] = m["bucket"].astype("datetime64[ns]").astype("int64") // 10**9 // 3600 * 3600
    agg = m.groupby(["source", "doc_id", "hb"]).agg(
        cnt=("cnt", "sum"), sum=("sum", "sum"), min=("min", "min"), max=("max", "max"))
    h["hb"] = h["bucket"].astype("datetime64[ns]").astype("int64") // 10**9
    h2 = h.set_index(["source", "doc_id", "hb"])[["cnt", "sum", "min", "max"]]
    pd.testing.assert_frame_equal(agg.sort_index(), h2.sort_index(), check_dtype=False)


def test_locf_properties():
    vals = np.array([
        [-1, -1, 5, -1, 7, -1],
        [3, -1, -1, 4, -1, -1],
        [-1, -1, -1, -1, -1, -1],
    ], dtype=np.int64)
    filled, mask = R._locf_2d(vals)
    assert np.isnan(filled[0, 0]) and np.isnan(filled[0, 1])  # leading gaps stay
    assert filled[0, 3] == 5 and filled[0, 5] == 7
    assert filled[1, 2] == 3 and filled[1, 5] == 4
    assert np.isnan(filled[2]).all()
    assert mask[0, 3] and not mask[0, 0] and not mask[0, 2]
    # idempotence: re-filling a filled series changes nothing
    refill, mask2 = R._locf_2d(np.where(np.isnan(filled), -1, filled).astype(np.int64))
    assert np.array_equal(np.isnan(refill), np.isnan(filled))
    assert np.array_equal(refill[~np.isnan(refill)], filled[~np.isnan(filled)])


def test_single_shuffle_plan(spark, tokens):
    """The declarative long-form cascade must contain exactly one
    Exchange: the upfront repartition on (source, doc_id)."""
    tiers = R.cascade_declarative(tokens)
    plan = tiers["1d"]._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    assert n_exchanges == 1, plan


def test_cascade_zero_shuffle_plan(spark, tokens):
    """The production cascade() must contain NO Exchange at all for any
    tier: each tier is one narrow mapInArrow over the scan."""
    tiers = R.cascade(tokens)
    for tier in ("1m", "1h", "1d"):
        plan = tiers[tier]._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan


def test_retention():
    import pyspark.sql.functions as F  # noqa
    # pure arithmetic check on the helper
    now = R.EPOCH_SECONDS + 10 * 86400
    horizon = now - R.DEFAULT_RETENTION["1m"] * 60
    assert horizon == now - 7 * 86400


def test_tokens_df_deterministic_across_partitioning(spark):
    a = datagen.tokens_df(spark, 200, n_tok=24, partitions=2).toPandas()
    b = datagen.tokens_df(spark, 200, n_tok=24, partitions=7).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert a["source"].tolist() == b["source"].tolist()
    for x, y in zip(a["tokens"], b["tokens"]):
        assert list(x) == list(y)


def test_gapfill_interpolate_exact(spark):
    """Linear interp: interior gaps take the affine blend, leading and
    trailing gaps stay NULL, observed rows pass through."""
    from kapra_spark.operators.rollup import gapfill_interpolate

    rows = [("s", "d", 0, None), ("s", "d", 1, 10), ("s", "d", 2, None),
            ("s", "d", 3, None), ("s", "d", 4, 40), ("s", "d", 5, None)]
    df = spark.createDataFrame(
        rows, "source string, doc_id string, pos int, value long")
    got = {r["pos"]: (r["value"], r["filled"])
           for r in gapfill_interpolate(df).collect()}
    assert got[0] == (None, False)        # leading gap stays NULL
    assert got[1] == (10.0, False)
    assert got[2] == (20.0, True)         # 10 + (40-10)*(2-1)/(4-1)
    assert got[3] == (30.0, True)
    assert got[4] == (40.0, False)
    assert got[5] == (None, False)        # trailing gap stays NULL
