"""Anonymization quality metrics as Spark aggregates (SURVEY.md A3-A6).

VL/NCP run as native DataFrame aggregations over the stored envelope
arrays (higher-order functions — no Python in the loop); pattern loss
is an Arrow-vectorized pandas UDF that broadcasts the precomputed
(level, letter) -> empirical-median table (seeded, deterministic —
reference includes/pattern_loss.py:49-129).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import metrics as M
from ..functions import sax as S
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
    suppressed ones (reference metric.py:121-123)."""
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

    # precompute a (level, letter) -> empirical-median lookup matrix on
    # the driver; tiny, ships inside the UDF closure
    med_lut = np.zeros((S.MAX_LEVEL + 2, S.MAX_LEVEL + 2))
    for lvl in range(2, S.MAX_LEVEL + 2):
        med_lut[lvl, :lvl] = S.interval_medians(lvl)

    @F.pandas_udf(T.DoubleType())
    def pl_udf(tokens: pd.Series, sax: pd.Series) -> pd.Series:
        out = np.empty(len(tokens))
        if len(tokens) == 0:
            return pd.Series(out)
        # batch rows by (series length, sax length): the znorm/PAA
        # kernels and the median lookup are then single 2-D NumPy ops
        lens_t = np.fromiter((len(t) for t in tokens), dtype=np.int64,
                             count=len(tokens))
        lens_s = sax.str.len().to_numpy()
        for lt, ls in {(int(a), int(b)) for a, b in zip(lens_t, lens_s)}:
            rows = np.nonzero((lens_t == lt) & (lens_s == ls))[0]
            mat, _ = token_matrix(tokens.iloc[rows])
            joined_sax = "".join(sax.iloc[i] for i in rows)
            idx = (np.frombuffer(joined_sax.encode(), dtype=np.uint8)
                   .astype(np.int64).reshape(len(rows), ls) - 97)
            levels = idx.max(axis=1) + 1
            p_star = np.where(levels[:, None] > 1,
                              med_lut[levels[:, None], idx], 0.0)
            p = S.paa2d(S.znorm2d(mat), ls)
            # reference cosine-distance conventions, vectorized
            # (functions/metrics.py:100-113)
            su, sv = p.sum(axis=1), p_star.sum(axis=1)
            nu = np.linalg.norm(p, axis=1)
            nv = np.linalg.norm(p_star, axis=1)
            dot = (p * p_star).sum(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = 1.0 - dot / (nu * nv)
            vals = np.where(
                (su > 0) & (sv > 0),
                np.where((nu == 0) | (nv == 0), 1.0, cos),
                np.where((su == 0) & (sv == 0), 0.0, 1.0))
            out[rows] = vals
        return pd.Series(out)

    return joined.select("doc_id", pl_udf("tokens", "sax").alias("pl"))


def global_pattern_loss(tokens_df: DataFrame, anon_df: DataFrame) -> DataFrame:
    """tot/avg PL; average divides by the number of ORIGINAL series
    (reference pattern_loss.py:249-256)."""
    per_rec = pattern_loss_per_record(tokens_df, anon_df)
    n_series = tokens_df.count()
    return per_rec.agg(
        F.sum("pl").alias("tot_pattern_loss"),
        (F.sum("pl") / F.lit(n_series)).alias("avg_pattern_loss"))
