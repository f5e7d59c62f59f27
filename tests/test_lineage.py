"""Resume/exactly-once tests (FIXTURES.md F-6): kill-after-partial-commit
-> rerun -> identical tables, equal checksums, no double counting."""

import pyspark.sql.functions as F
import pytest

from kapra_spark import datagen
from kapra_spark.operators import rollup as R
from kapra_spark.operators.lineage import (partition_metrics,
                                           verify_against_lineage,
                                           write_with_lineage)
from kapra_spark.operators.skew import salted_repartition, two_phase_agg


@pytest.fixture(scope="module")
def tier1h(spark):
    pdf = datagen.tokens_pdf(48, n_tok=1440 * 3, seed=3)  # 3 days
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    df = (R.cascade_fast(tokens, tiers=("1h",))
          .withColumn("day", F.to_date(F.timestamp_seconds(F.col("bucket")))))
    return df.cache()


def test_resume_no_double_counting(spark, tier1h, tmp_path):
    path = str(tmp_path / "tier1h")
    lin = str(tmp_path / "lineage")

    # simulate a killed run: only one source committed
    partial = tier1h.filter(F.col("source") == "sales")
    r1 = write_with_lineage(partial, path, ["source", "day"], lin,
                            run_id="r1", stage="tier1h")
    assert r1["written_partitions"] > 0

    # rerun over the FULL input: committed partitions must be skipped
    r2 = write_with_lineage(tier1h, path, ["source", "day"], lin,
                            run_id="r2", stage="tier1h")
    assert r2["skipped_partitions"] == r1["written_partitions"]
    assert r2["written_partitions"] > 0

    # final table == one-shot write (content equality)
    stored = spark.read.parquet(path)
    assert stored.count() == tier1h.count()
    a = partition_metrics(stored.select(tier1h.columns), ["source", "day"])
    b = partition_metrics(tier1h, ["source", "day"])
    diff = a.join(b, "partition_key") \
            .filter((a["row_count"] != b["row_count"])
                    | (a["checksum"] != b["checksum"]))
    # column-name collision safe compare
    av = {r["partition_key"]: (r["row_count"], r["checksum"]) for r in a.collect()}
    bv = {r["partition_key"]: (r["row_count"], r["checksum"]) for r in b.collect()}
    assert av == bv

    # lineage verification certificate all-ok
    v = verify_against_lineage(spark, path, ["source", "day"], lin, "tier1h")
    assert v.filter(~F.col("ok")).count() == 0

    # idempotence: a third run writes nothing
    r3 = write_with_lineage(tier1h, path, ["source", "day"], lin,
                            run_id="r3", stage="tier1h")
    assert r3["written_partitions"] == 0


def test_checksum_partition_layout_independent(spark, tier1h):
    a = partition_metrics(tier1h, ["source"])
    b = partition_metrics(tier1h.repartition(17), ["source"])
    av = {r["partition_key"]: (r["row_count"], r["checksum"]) for r in a.collect()}
    bv = {r["partition_key"]: (r["row_count"], r["checksum"]) for r in b.collect()}
    assert av == bv


def test_two_phase_agg_matches_direct(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    direct = {r["event_type"]: (r["cnt"], round(r["s"], 4), r["mn"], r["mx"])
              for r in ev.groupBy("event_type")
              .agg(F.count("value").alias("cnt"), F.sum("value").alias("s"),
                   F.min("value").alias("mn"), F.max("value").alias("mx"))
              .collect()}
    salted = {r["event_type"]: (r["cnt"], round(r["s"], 4), r["mn"], r["mx"])
              for r in two_phase_agg(
                  ev, ["event_type"],
                  {"cnt": ("value", "count"), "s": ("value", "sum"),
                   "mn": ("value", "min"), "mx": ("value", "max")},
                  salt_col="user_id").collect()}
    assert direct == salted


def test_salted_repartition_spreads_hot_key(spark):
    pdf = datagen.tokens_pdf(400, n_tok=12, seed=4)
    df = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    out = salted_repartition(df, ["source"], "doc_id", n_salts=8,
                             num_partitions=16)
    sizes = (out.withColumn("pid", F.spark_partition_id())
             .filter(F.col("source") == "sales")
             .groupBy("pid").count().collect())
    assert len(sizes) > 1  # the hot source no longer lives in one task


def test_sort_within_orders_files_for_rowgroup_pruning(spark, tier1h,
                                                       tmp_path):
    """sort_within writes each parquet file ordered by the sort key,
    which is what makes row-group min/max stats tight (scan-time
    skipping for point lookups); checksums are order-independent so
    lineage is unaffected."""
    import glob

    import pyarrow.parquet as pq

    path, lin = str(tmp_path / "sorted"), str(tmp_path / "lin")
    write_with_lineage(tier1h.repartition(4), path, ["source", "day"],
                       lin, run_id="r0", stage="s",
                       sort_within=["doc_id", "bucket"])
    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    assert files
    for f in files:
        t = pq.read_table(f, columns=["doc_id", "bucket"]).to_pandas()
        key = list(zip(t["doc_id"], t["bucket"]))
        assert key == sorted(key), f
    # lineage still verifies (checksum is order-free)
    v = verify_against_lineage(spark, path, ["source", "day"], lin, "s")
    assert v.filter(~F.col("ok")).count() == 0


def test_write_restores_partition_overwrite_mode(spark, tier1h, tmp_path):
    """The writer's dynamic partition overwrite is scoped to its own
    writes: the session's prior setting (set or unset) is restored."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "static")
        write_with_lineage(tier1h, str(tmp_path / "a"), ["source", "day"],
                           str(tmp_path / "lin"), run_id="r", stage="s")
        assert spark.conf.get(key) == "static"
        spark.conf.unset(key)
        write_with_lineage(tier1h, str(tmp_path / "b"), ["source", "day"],
                           str(tmp_path / "lin"), run_id="r", stage="t")
        assert spark.conf.get(key, None) is None
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_corrupt_lineage_fails_loudly(spark, tier1h, tmp_path):
    """Only a missing lineage path means a fresh run. A lineage table
    that exists but cannot be read raises, instead of silently
    recomputing every partition and appending lineage again."""
    import glob

    path, lin = str(tmp_path / "data"), str(tmp_path / "lin")
    write_with_lineage(tier1h, path, ["source", "day"], lin,
                       run_id="r1", stage="tier1h")
    files = glob.glob(f"{lin}/*.parquet")
    assert files
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        write_with_lineage(tier1h, path, ["source", "day"], lin,
                           run_id="r2", stage="tier1h")
    # nothing was re-appended next to the corrupt files
    assert sorted(glob.glob(f"{lin}/*.parquet")) == sorted(files)


def test_lineage_append_runs_no_python_task(spark, tier1h, tmp_path,
                                            monkeypatch):
    """The lineage append frame is built on the JVM side from an Arrow
    table: its RDD holds no ``PythonRDD``, so the append starts no
    Python worker. The stored rows keep the lineage schema and every
    row carries a commit time."""
    from pyspark.sql import DataFrameWriter

    from kapra_spark.operators.lineage import LINEAGE_COLS, LINEAGE_SCHEMA

    written = {}
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written[path] = self._df
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    lin = str(tmp_path / "lin")
    r = write_with_lineage(tier1h, str(tmp_path / "data"), ["source", "day"],
                           lin, run_id="r1", stage="tier1h")
    assert "PythonRDD" not in written[lin]._jdf.rdd().toDebugString()

    stored = spark.read.parquet(lin)
    assert stored.columns == LINEAGE_COLS
    assert (stored.schema.simpleString()
            == spark.createDataFrame([], LINEAGE_SCHEMA).schema.simpleString())
    rows = stored.collect()
    assert len(rows) == r["written_partitions"] > 0
    assert {x["run_id"] for x in rows} == {"r1"}
    assert all(x["committed_at"] is not None for x in rows)
    assert partition_metrics(tier1h, ["source", "day"]).count() == len(rows)
