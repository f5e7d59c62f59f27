"""End-to-end rollup + downsample + retention pipeline with resumable
lineage-tracked writes — the engine's flagship plan (BASELINE.json
north_rule).

    tokens (doc_id, tokens, n_tok, source)
      └─ series_kernel(blocks, 1h, 1d): ONE scan + ONE Python pass,
         one row per series, cached
           ├─ inline(blocks) -> blocks_1m  (compress_tokens' columns)
           ├─ inline(t_1h)   -> tier_1h    (cascade_fast's columns)
           └─ inline(t_1d)   -> tier_1d
    each written partitioned by (source, day) through ONE
    lineage.write_stages_with_lineage call: a killed run resumes from
    committed partitions, re-writes are idempotent, checksums certify
    equality.

Zero shuffles and one kernel pass: the cached kernel output is
projected into the three tables. The call pays one lineage read, one
metrics job over all stages, one write per table and one lineage
append; the kernel runs once, not once per table. The cache holds one
nested row per series (its blocks and tier buckets, each string once),
never a per-table copy on top of it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.lineage import Stage, write_stages_with_lineage
from ..operators.rollup import (DEFAULT_RETENTION, apply_retention, blocks_rows,
                                series_kernel, tier_rows)
from ..session import cached


def run_rollup_pipeline(
    spark: SparkSession,
    tokens: DataFrame,
    base_path: str,
    run_id: str,
    now_bucket_seconds: int | None = None,
    retention: dict | None = None,
    resume: bool = True,
) -> dict:
    """Returns per-stage write stats. ``now_bucket_seconds`` pins the
    retention horizon (explicit for determinism/resume)."""
    lineage_path = f"{base_path}/_lineage"

    # the kernel output is the only cache: every stage frame below is a
    # projection of it, evaluated by the writer's metrics job and again
    # by its data write
    with cached(series_kernel(tokens, ("blocks", "1h", "1d"))) as kernel:
        blocks = blocks_rows(kernel).withColumnRenamed("bucket_day", "day")
        stages = [Stage("blocks_1m", blocks, f"{base_path}/blocks_1m",
                        ["source", "day"])]
        for tier in ("1h", "1d"):
            t = tier_rows(kernel, tier).withColumn(
                "day", F.to_date(F.timestamp_seconds("bucket")))
            if now_bucket_seconds is not None:
                t = apply_retention(t, tier, now_bucket_seconds,
                                    retention or DEFAULT_RETENTION)
            stages.append(Stage(f"tier_{tier}", t, f"{base_path}/tier_{tier}",
                                ["source", "day"]))
        return write_stages_with_lineage(spark, stages, lineage_path, run_id,
                                         resume=resume)
