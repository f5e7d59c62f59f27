"""Flagship pipeline: end-to-end run, kill/resume, retention, and
decompressed-1m == raw-tokens equality."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from kapra_spark import datagen
from kapra_spark.plans.rollup_plan import run_rollup_pipeline


@pytest.fixture(scope="module")
def tokens(spark):
    pdf = datagen.tokens_pdf(60, n_tok=1440 * 2, seed=9, gap_fraction=0.1)
    return spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA).cache()


def test_pipeline_end_to_end_and_resume(spark, tokens, tmp_path):
    base = str(tmp_path / "pipe")
    s1 = run_rollup_pipeline(spark, tokens, base, run_id="r1")
    assert all(v["written_partitions"] > 0 for v in s1.values())

    # rerun = full resume: nothing rewritten
    s2 = run_rollup_pipeline(spark, tokens, base, run_id="r2")
    assert all(v["written_partitions"] == 0 for v in s2.values())
    assert all(v["skipped_partitions"] == s1[k]["written_partitions"]
               for k, v in s2.items())

    # 1h tier contents match a fresh computation
    from kapra_spark.operators.rollup import cascade_fast

    stored = spark.read.parquet(f"{base}/tier_1h")
    fresh = cascade_fast(tokens, tiers=("1h",)).drop("tier")
    assert stored.count() == fresh.count()
    a = stored.groupBy("source").agg(F.sum("sum").alias("s")).collect()
    b = fresh.groupBy("source").agg(F.sum("sum").alias("s")).collect()
    assert {r["source"]: r["s"] for r in a} == {r["source"]: r["s"] for r in b}


def test_pipeline_decompress_equals_input(spark, tokens, tmp_path):
    from kapra_spark.operators.compress import decompress_tokens

    base = str(tmp_path / "pipe2")
    run_rollup_pipeline(spark, tokens, base, run_id="r1")
    blocks = (spark.read.parquet(f"{base}/blocks_1m")
              .withColumnRenamed("day", "bucket_day"))
    back = decompress_tokens(blocks)
    # day-blocks: reassemble per doc in t0 order (2 days -> 2 blocks)
    orig = {r.doc_id: list(r.tokens) for r in tokens.collect()}
    got: dict[str, list] = {}
    for r in sorted(back.collect(), key=lambda r: (r.doc_id, r.t0)):
        got.setdefault(r.doc_id, []).extend(r.tokens)
    for k, v in orig.items():
        assert got[k] == v, k


def test_pipeline_retention(spark, tokens, tmp_path):
    from kapra_spark.operators.rollup import EPOCH_SECONDS

    base = str(tmp_path / "pipe3")
    # "now" = 10 days after epoch; 1h keeps 90 days -> all kept;
    # shrink 1h retention to 1 day to see expiry
    stats = run_rollup_pipeline(
        spark, tokens, base, run_id="r1",
        now_bucket_seconds=EPOCH_SECONDS + 10 * 86400,
        retention={"1m": None, "1h": 24, "1d": None})
    # tokens span days 1-2 after epoch, all earlier than the 1-day
    # horizon: everything expired -> no 1h partitions even exist
    assert stats["tier_1h"]["written_partitions"] == 0
    import os

    assert not os.path.exists(f"{base}/tier_1h") \
        or spark.read.parquet(f"{base}/tier_1h").count() == 0
    # 1d tier (retention None = keep forever) still written
    assert stats["tier_1d"]["written_partitions"] > 0


# ---------------------------------------------------------------------------
# one kernel pass, one lineage round-trip per call
# ---------------------------------------------------------------------------

def _lineage(spark, base):
    return {(r["stage"], r["partition_key"]): (r["row_count"], r["checksum"])
            for r in spark.read.parquet(f"{base}/_lineage").collect()}


def test_lineage_matches_independent_references(spark, tmp_path):
    """Per stage and partition, the lineage (row_count, checksum) equals
    partition_metrics of the labelled references: ``compress_tokens``
    for the blocks, ``cascade_fast`` + ``apply_retention`` for the
    tiers. The horizon expires part of the 1h tier."""
    from kapra_spark.operators.compress import compress_tokens
    from kapra_spark.operators.lineage import partition_metrics
    from kapra_spark.operators.rollup import (DEFAULT_RETENTION, EPOCH_SECONDS,
                                              apply_retention, cascade_fast)

    pdf = datagen.tokens_pdf(50, n_tok=144, seed=9, gap_fraction=0.05)
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    now = EPOCH_SECONDS + 90 * 24 * 3600 + 5400
    base = str(tmp_path / "pipe")
    run_rollup_pipeline(spark, tokens, base, run_id="r", now_bucket_seconds=now)

    # reference 1: the stand-alone Gorilla blocks kernel
    refs = {"blocks_1m": compress_tokens(tokens)
            .withColumnRenamed("bucket_day", "day")}
    # reference 2: the stand-alone tier kernel + retention
    tiers = cascade_fast(tokens, tiers=("1h", "1d"))
    for tier in ("1h", "1d"):
        t = (tiers.filter(F.col("tier") == tier).drop("tier")
             .withColumn("day", F.to_date(F.timestamp_seconds("bucket"))))
        refs[f"tier_{tier}"] = apply_retention(t, tier, now, DEFAULT_RETENTION)
    want = {(stage, r["partition_key"]): (r["row_count"], r["checksum"])
            for stage, df in refs.items()
            for r in partition_metrics(df, ["source", "day"]).collect()}
    assert _lineage(spark, base) == want
    # the stored tables keep the references' columns
    for stage, df in refs.items():
        assert sorted(spark.read.parquet(f"{base}/{stage}").columns) \
            == sorted(df.columns)


def test_one_lineage_append_per_call(spark, tokens, tmp_path):
    """All stages of one call are committed by a single lineage append:
    one distinct committed_at per run_id."""
    base = str(tmp_path / "pipe")
    run_rollup_pipeline(spark, tokens, base, run_id="r1")
    lin = spark.read.parquet(f"{base}/_lineage")
    assert {r["stage"] for r in lin.collect()} == \
        {"blocks_1m", "tier_1h", "tier_1d"}
    per_run = (lin.groupBy("run_id")
               .agg(F.countDistinct("committed_at").alias("n")).collect())
    assert [(r["run_id"], r["n"]) for r in per_run] == [("r1", 1)]


def test_partial_resume_writes_only_missing_stages(spark, tokens, tmp_path):
    """With only blocks_1m committed, a resume skips the blocks and
    writes both tiers; the lineage then matches a one-shot run."""
    import shutil

    one_shot = str(tmp_path / "one_shot")
    s1 = run_rollup_pipeline(spark, tokens, one_shot, run_id="r1")
    want = _lineage(spark, one_shot)

    base = str(tmp_path / "pipe")
    run_rollup_pipeline(spark, tokens, base, run_id="r1")
    # keep only the blocks commit: rewrite lineage without the tiers
    lin = spark.read.parquet(f"{base}/_lineage") \
        .filter(F.col("stage") == "blocks_1m").toPandas()
    shutil.rmtree(f"{base}/_lineage")
    for tier in ("tier_1h", "tier_1d"):
        shutil.rmtree(f"{base}/{tier}")
    spark.createDataFrame(lin).write.parquet(f"{base}/_lineage")

    s2 = run_rollup_pipeline(spark, tokens, base, run_id="r2")
    assert s2["blocks_1m"] == {
        "written_partitions": 0,
        "skipped_partitions": s1["blocks_1m"]["written_partitions"]}
    for tier in ("tier_1h", "tier_1d"):
        assert s2[tier] == {"written_partitions": s1[tier]["written_partitions"],
                            "skipped_partitions": 0}
    assert _lineage(spark, base) == want


def test_kill_before_lineage_append_reruns_idempotently(spark, tokens,
                                                        tmp_path):
    """A kill after the data writes but before the lineage append
    (simulated by removing the lineage) recomputes every stage on
    resume; dynamic overwrite makes that idempotent, and every stage
    verifies against its lineage."""
    import shutil

    from kapra_spark.operators.lineage import verify_against_lineage

    base = str(tmp_path / "pipe")
    s1 = run_rollup_pipeline(spark, tokens, base, run_id="r1")
    counts = {s: spark.read.parquet(f"{base}/{s}").count() for s in s1}
    want = _lineage(spark, base)
    shutil.rmtree(f"{base}/_lineage")

    s2 = run_rollup_pipeline(spark, tokens, base, run_id="r2")
    assert s2 == s1
    assert _lineage(spark, base) == want
    for stage in s1:
        assert spark.read.parquet(f"{base}/{stage}").count() == counts[stage]
        v = verify_against_lineage(spark, f"{base}/{stage}", ["source", "day"],
                                   f"{base}/_lineage", stage)
        assert v.filter(~F.col("ok") | F.col("ok").isNull()).count() == 0


def _jobs_of(spark, call):
    """Spark jobs that ``call`` runs: job ids started between two 1-task
    marker jobs of one job group (AQE map-stage jobs count too)."""
    sc = spark.sparkContext
    sc.setJobGroup("job_count", "job_count")
    try:
        sc.parallelize([0], 1).count()
        before = set(sc.statusTracker().getJobIdsForGroup("job_count"))
        call()
        sc.parallelize([0], 1).count()
        after = set(sc.statusTracker().getJobIdsForGroup("job_count"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(after - before) - 1  # minus the closing marker


def test_pipeline_job_count(spark, tokens, tmp_path):
    """A fresh default call runs 9 Spark jobs and a full resume 5: the
    kernel runs once into the one cache and the lineage is read once
    per call. Dropping the kernel cache (resume: 2 jobs) or a lineage
    round-trip per stage (fresh: 15 jobs) changes these counts."""
    base = str(tmp_path / "pipe")
    assert _jobs_of(spark, lambda: run_rollup_pipeline(
        spark, tokens, base, run_id="r1")) == 9
    assert _jobs_of(spark, lambda: run_rollup_pipeline(
        spark, tokens, base, run_id="r2")) == 5
