"""End-to-end (k,P)-anonymity pipeline — the Spark re-expression of the
reference's CLI lifecycle (k_P_anonymity.py:28-103):

  load -> anonymize (kapra | naive) -> evaluate (PL, VL) -> persist
  anonymized table + 1-row metrics record.

`eta` is wall-clock end-to-end like the reference's timer
(k_P_anonymity.py:47-59).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.grouping import kp_anonymize
from ..operators.metrics_ops import global_pattern_loss, global_value_loss
from ..session import cached


def _losses(tokens_df: DataFrame, anon: DataFrame) -> tuple:
    return (global_value_loss(anon).collect()[0],
            global_pattern_loss(tokens_df, anon).collect()[0])


def run_kp_anonymity(
    spark: SparkSession,
    algorithm: str,
    k: int,
    p: int,
    paa: int,
    l: int,
    tokens_df: DataFrame,
    output_path: str | None = None,
    results_path: str | None = None,
) -> dict:
    t_start = time.time()

    anon = kp_anonymize(tokens_df, k=k, p=p, paa=paa, l=l, algorithm=algorithm)
    if output_path:
        anon.write.mode("overwrite").parquet(output_path)
        vl, pl = _losses(tokens_df, spark.read.parquet(output_path))
    else:
        # cached for the two loss jobs only: a cache left behind would
        # let a later call on the same input skip the anonymization
        with cached(anon) as anon:
            anon.count()
            vl, pl = _losses(tokens_df, anon)
    eta = time.time() - t_start

    row = {
        "algorithm": algorithm, "k": k, "p": p, "paa": paa, "l": l,
        "eta": round(eta, 3),
        "tot_pattern_loss": float(pl["tot_pattern_loss"]),
        "avg_pattern_loss": float(pl["avg_pattern_loss"]),
        "tot_value_loss": float(vl["tot_value_loss"]),
        "avg_value_loss": float(vl["avg_value_loss"]),
    }
    if results_path:
        (spark.createDataFrame([row])
         .withColumn("run_ts", F.current_timestamp())
         .write.mode("append").parquet(results_path))
    return row
