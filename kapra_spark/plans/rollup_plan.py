"""End-to-end rollup + downsample + retention pipeline with resumable
lineage-tracked writes — the engine's flagship plan (BASELINE.json
north_rule).

    tokens (doc_id, tokens, n_tok, source)
      └─ compress_and_cascade: ONE scan + ONE Python pass, cached
           ├─ 1m tier  -> Gorilla blocks  (compress_tokens' columns)
           ├─ 1h tier  -> rows            (cascade_fast's columns)
           └─ 1d tier  -> rows
    each written partitioned by (source, day) through ONE
    lineage.write_stages_with_lineage call: a killed run resumes from
    committed partitions, re-writes are idempotent, checksums certify
    equality.

Zero shuffles and one kernel pass: the cached kernel output is
projected into the three tables ``blocks_1m``, ``tier_1h`` and
``tier_1d``. The call pays one lineage read, one metrics job over all
stages, one write per table and one lineage append; the kernel runs
once, not once per table. The cache holds the kernel output (~15% of
the input bytes for the blocks plus the tier rows), never a per-table
copy on top of it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.compress import compress_and_cascade
from ..operators.lineage import Stage, write_stages_with_lineage
from ..operators.rollup import CASCADE_SCHEMA, DEFAULT_RETENTION, apply_retention
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
    with cached(compress_and_cascade(tokens, tiers=("1h", "1d"))) as kernel:
        # exactly compress_tokens' columns, bucket_day renamed to day
        blocks = (kernel.filter(F.col("kind") == "block")
                  .select("doc_id", "source", F.lit("1m").alias("tier"),
                          F.col("bucket_day").alias("day"),
                          "t0", "v0", "n", "payload"))
        stages = [Stage("blocks_1m", blocks, f"{base_path}/blocks_1m",
                        ["source", "day"])]
        for tier in ("1h", "1d"):
            # exactly cascade_fast's columns minus tier, plus day
            t = (kernel.filter(F.col("tier") == tier)
                 .select(*[c for c in CASCADE_SCHEMA.names if c != "tier"])
                 .withColumn("day", F.to_date(F.timestamp_seconds("bucket"))))
            if now_bucket_seconds is not None:
                t = apply_retention(t, tier, now_bucket_seconds,
                                    retention or DEFAULT_RETENTION)
            stages.append(Stage(f"tier_{tier}", t, f"{base_path}/tier_{tier}",
                                ["source", "day"]))
        return write_stages_with_lineage(spark, stages, lineage_path, run_id,
                                         resume=resume)
