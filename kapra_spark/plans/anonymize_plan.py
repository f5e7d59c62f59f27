"""End-to-end (k,P)-anonymity pipeline — the Spark re-expression of the
reference's CLI lifecycle (k_P_anonymity.py:28-103):

  load -> anonymize (kapra | naive) and evaluate (PL, VL) in one pass
  -> persist anonymized table + 1-row metrics record.

The anonymize kernel emits each record's pattern and value loss with
its rows (``grouping.kp_anonymize_scored``), so one aggregate over that
output scores the run: no second scan of the input, no join back to it
and no second Python crossing. ``metrics_ops.global_value_loss`` /
``global_pattern_loss`` compute the same losses from a stored table and
are the reference they are tested against.

`eta` is wall-clock end-to-end like the reference's timer
(k_P_anonymity.py:47-59).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.grouping import ANON_SCHEMA, kp_anonymize_scored
from ..session import cached


def _totals(scored: DataFrame):
    return scored.agg(F.sum("vl").alias("vl"), F.sum("pl").alias("pl"),
                      F.count("*").alias("n_out"),
                      F.sum("n_in").alias("n_in")).collect()[0]


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
    """Anonymize ``tokens_df``, write the ``ANON_SCHEMA`` table to
    ``output_path`` if given, and return (and append to ``results_path``)
    the run's metrics row. The average VL divides by all output rows,
    suppressed ones included (reference metric.py:121-123); the average
    PL by input rows (reference pattern_loss.py:249-256). ``doc_id``
    must be unique. Without ``output_path`` the run is one aggregate job
    chain and nothing is cached."""
    t_start = time.time()

    scored = kp_anonymize_scored(tokens_df, k=k, p=p, paa=paa, l=l,
                                 algorithm=algorithm)
    if output_path:
        # cached for the write and the aggregate only: a cache left
        # behind would let a later call on the same input skip the
        # anonymization
        with cached(scored) as scored:
            (scored.select(*ANON_SCHEMA.fieldNames())
             .write.mode("overwrite").parquet(output_path))
            tot = _totals(scored)
    else:
        tot = _totals(scored)
    eta = time.time() - t_start

    vl, pl = float(tot["vl"]), float(tot["pl"])
    row = {
        "algorithm": algorithm, "k": k, "p": p, "paa": paa, "l": l,
        "eta": round(eta, 3),
        "tot_pattern_loss": pl,
        "avg_pattern_loss": pl / tot["n_in"],
        "tot_value_loss": vl,
        "avg_value_loss": vl / tot["n_out"],
    }
    if results_path:
        (spark.createDataFrame([row])
         .withColumn("run_ts", F.current_timestamp())
         .write.mode("append").parquet(results_path))
    return row
