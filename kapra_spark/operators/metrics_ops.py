"""Anonymization quality metrics as Spark aggregates (SURVEY.md A3-A6):
the reference path for scoring a stored anonymized table.

``plans.anonymize_plan.run_kp_anonymity`` does not run these: the
anonymize kernel emits each record's VL and PL with its rows
(``operators.grouping.kp_anonymize_scored``). These aggregates
recompute both from the ``ANON_SCHEMA`` table alone, so they are the
independent reference the in-kernel losses are tested against
(tests/test_anonymize.py), and they back the ``pattern_loss_global``
oracle query and perfbench's layer sweep.

VL runs as native DataFrame aggregations over the stored envelope
arrays (higher-order functions — no Python in the loop); pattern loss
joins the anonymized rows back to their series and runs the batched
NumPy kernel ``functions.metrics.pattern_loss_batch`` in an
Arrow-vectorized pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import metrics as M
from .grouping import token_matrix


def group_value_loss(anon_df: DataFrame) -> DataFrame:
    """Per-group instant value loss from stored envelopes
    (reference metric.py:85-123: VL uses the group's shared envelope,
    every member contributes the same range)."""
    t = F.size(F.col("lo"))
    rng2 = F.aggregate(
        F.zip_with("hi", "lo", lambda h, l: (h - l) * (h - l)),
        F.lit(0.0), lambda acc, x: acc + x)
    per_group = (
        anon_df.filter(~F.col("suppressed"))
        .groupBy("source", "group_id")
        .agg(F.count("*").alias("n"),
             F.first("lo").alias("lo"), F.first("hi").alias("hi"))
    )
    return per_group.select(
        "source", "group_id", "n",
        (F.col("n") * F.sqrt(rng2 / t)).alias("vl"))


def global_value_loss(anon_df: DataFrame) -> DataFrame:
    """tot/avg VL; the average divides by ALL output rows including
    suppressed ones (reference metric.py:121-123). The independent
    reference for the in-kernel ``vl`` column of
    ``grouping.kp_anonymize_scored``."""
    per_group = group_value_loss(anon_df)
    total_rows = anon_df.count()
    return per_group.agg(
        F.sum("vl").alias("tot_value_loss"),
        (F.sum("vl") / F.lit(total_rows)).alias("avg_value_loss"))


def pattern_loss_per_record(tokens_df: DataFrame, anon_df: DataFrame) -> DataFrame:
    """PL per record: cosine distance between the record's PAA feature
    vector and the reconstruction of its group's SAX pattern
    (reference pattern_loss.py:167-197; paa size = len(sax))."""
    joined = (
        tokens_df.select("doc_id", "tokens")
        .join(anon_df.filter(F.col("sax").isNotNull()).select("doc_id", "sax"), "doc_id")
    )

    lut = M.median_lut()

    @F.pandas_udf(T.DoubleType())
    def pl_udf(tokens: pd.Series, sax: pd.Series) -> pd.Series:
        out = np.empty(len(tokens))
        lens = np.fromiter((len(t) for t in tokens), dtype=np.int64,
                           count=len(tokens))
        for n in np.unique(lens):
            rows = np.nonzero(lens == n)[0]
            values, _ = token_matrix(tokens.iloc[rows])
            out[rows] = M.pattern_loss_batch(values, sax.iloc[rows].tolist(),
                                             lut)
        return pd.Series(out)

    return joined.select("doc_id", pl_udf("tokens", "sax").alias("pl"))


def global_pattern_loss(tokens_df: DataFrame, anon_df: DataFrame) -> DataFrame:
    """tot/avg PL; average divides by the number of ORIGINAL series
    (reference pattern_loss.py:249-256). The independent reference for
    the in-kernel ``pl`` column of ``grouping.kp_anonymize_scored``.
    ``doc_id`` must be unique in both frames: the join counts a
    duplicated id once per pairing."""
    per_rec = pattern_loss_per_record(tokens_df, anon_df)
    n_series = tokens_df.count()
    return per_rec.agg(
        F.sum("pl").alias("tot_pattern_loss"),
        (F.sum("pl") / F.lit(n_series)).alias("avg_pattern_loss"))
