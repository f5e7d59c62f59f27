"""Per-partition lineage + resumable writes (SURVEY.md J5/S3,
FIXTURES.md F-6).

The reference loses everything on a kill (single process, no
persistence until the final CSV). The engine writes each stage
partition-by-partition with dynamic partition overwrite and records
(run scope, stage, partition_key, row_count, checksum) in a lineage
table. Resume = filter the input's partition keys against the
committed lineage: only missing partitions are recomputed, and
re-writing a partition is idempotent (overwrite), so a kill between
data write and lineage append cannot double-count.

Several stages share one call of :func:`write_stages_with_lineage`, so
a plan with N outputs pays one lineage read, one metrics job and one
lineage append, not N of each.

Checksum is an order-independent BIT_XOR of xxhash64 over every column,
so it is partition-layout and task-retry independent.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import cached, scoped_conf

LINEAGE_COLS = ["run_id", "stage", "partition_key", "row_count",
                "checksum", "committed_at"]
LINEAGE_SCHEMA = ("run_id string, stage string, partition_key string, "
                  "row_count bigint, checksum bigint, committed_at timestamp")


def row_checksum(df: DataFrame) -> F.Column:
    """Canonical row digest: columns sorted by name and cast to string,
    so the checksum is stable across column reorderings (partitioned
    parquet moves partition columns to the end on read-back)."""
    return F.xxhash64(*[F.col(c).cast("string") for c in sorted(df.columns)])


def _partition_key(partition_cols: list[str]) -> F.Column:
    return F.concat_ws("|", *[F.col(c).cast("string") for c in partition_cols])


def _keyed_digests(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """(partition_key, _digest) per row."""
    return df.select(_partition_key(partition_cols).alias("partition_key"),
                     row_checksum(df).alias("_digest"))


def _aggregate_digests(digests: DataFrame, keys: list[str]) -> DataFrame:
    return (digests.groupBy(*keys)
            .agg(F.count("*").alias("row_count"),
                 F.bit_xor("_digest").alias("checksum")))


def partition_metrics(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """(partition_key, row_count, checksum) per partition."""
    return _aggregate_digests(_keyed_digests(df, partition_cols),
                              ["partition_key"])


def committed_partitions(spark: SparkSession, lineage_path: str,
                         stages: list[str]) -> dict[str, set[str]]:
    """Committed partition keys per stage, from ONE read of the lineage
    table. Only a missing lineage path means a fresh run; any other read
    error (a corrupt or foreign file) raises instead of silently turning
    into a full recompute and a second lineage append. The schema is
    given, so the read runs no footer-inference job."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(lineage_path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    done: dict[str, set[str]] = {s: set() for s in stages}
    if not fs.exists(hpath):
        return done
    # metadata-sized (one row per committed partition per commit):
    # collect the raw rows and de-duplicate here, no shuffle
    for r in (spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
              .filter(F.col("stage").isin(stages))
              .select("stage", "partition_key").collect()):
        done[r["stage"]].add(r["partition_key"])
    return done


@dataclass(frozen=True)
class Stage:
    """One output of a multi-stage write: ``df`` lands at ``path``
    partitioned by ``partition_cols``; ``name`` is its lineage stage."""
    name: str
    df: DataFrame
    path: str
    partition_cols: list[str]
    sort_within: list[str] | None = None


def write_stages_with_lineage(
    spark: SparkSession,
    stages: list[Stage],
    lineage_path: str,
    run_id: str,
    resume: bool = True,
) -> dict[str, dict]:
    """Write every stage with exactly-once semantics and a fixed job
    count, whatever the number of stages: one lineage read, one metrics
    job over a stage-tagged union, one data write per stage that has
    rows, then one lineage append. Returns, per stage name,
    {written_partitions, skipped_partitions}.

    The stage frames are evaluated twice (metrics, then write): cache
    whatever expensive plan they share before calling, and nothing on
    top of it.

    Exactly-once: a kill before the single lineage append leaves every
    stage of the call uncommitted, so the resume recomputes all of
    them; re-writing a partition is a dynamic overwrite, so that is
    idempotent and cannot double-count."""
    done = (committed_partitions(spark, lineage_path,
                                 [s.name for s in stages])
            if resume else {s.name: set() for s in stages})

    works = []
    for st in stages:
        work = st.df
        if done[st.name]:
            # NOTE: `skipped` counts committed partitions SEEN for the
            # stage, not the intersection with this input's keys — an
            # incremental resume covering a subset of history reports
            # the full committed count. Exact intersection would need a
            # distinct over the input (the full-input scan this path
            # exists to avoid). The key set is metadata-sized, so it
            # filters as a literal set: no join, no shuffle.
            work = work.filter(~_partition_key(st.partition_cols)
                               .isin(sorted(done[st.name])))
        works.append(work)

    # metrics BEFORE the data writes: an all-committed (or all-expired)
    # stage then ends here without creating an empty, schema-less data
    # directory
    tagged = [_keyed_digests(w, st.partition_cols)
              .withColumn("stage", F.lit(st.name))
              for st, w in zip(stages, works)]
    rows = _aggregate_digests(reduce(DataFrame.unionByName, tagged),
                              ["stage", "partition_key"]).collect()

    written = {st.name: 0 for st in stages}
    for r in rows:
        written[r["stage"]] += 1
    with scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode",
                     "dynamic"):
        for st, work in zip(stages, works):
            if not written[st.name]:
                continue
            if st.sort_within:
                # partition cols lead so the file writer's required
                # clustering is already satisfied and it inserts no
                # second (unstable) sort
                work = work.sortWithinPartitions(*st.partition_cols,
                                                 *st.sort_within)
            (work.write.mode("overwrite")
             .partitionBy(*st.partition_cols).parquet(st.path))
    if rows:
        # from an Arrow table, so the append runs no Python worker task
        # (a list of rows would be parallelized and pickled through one)
        keys = pa.table({"run_id": [run_id] * len(rows),
                         **{c: [r[c] for r in rows] for c in (
                             "stage", "partition_key", "row_count",
                             "checksum")}})
        (spark.createDataFrame(keys)
         .withColumn("committed_at", F.current_timestamp())
         .write.mode("append").parquet(lineage_path))
    return {st.name: {"written_partitions": written[st.name],
                      "skipped_partitions": len(done[st.name])}
            for st in stages}


def write_with_lineage(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    lineage_path: str,
    run_id: str,
    stage: str,
    resume: bool = True,
    sort_within: list[str] | None = None,
) -> dict:
    """Write ``df`` partitioned by ``partition_cols`` with exactly-once
    semantics: a one-stage :func:`write_stages_with_lineage`. Returns
    {written_partitions, skipped_partitions}.

    ``sort_within`` sorts rows WITHIN each task before writing (no
    shuffle — ``sortWithinPartitions``), which makes parquet row-group
    min/max statistics on those columns tight and disjoint: a point
    lookup (``doc_id = X``) then skips whole row groups at scan time
    instead of reading the partition. The scan-locality knob for the
    blocks store — the parquet equivalent of an Iceberg sort order."""
    # the metrics job and the data write both evaluate ``df``: caching
    # it keeps its producer (typically a Python kernel) to one pass
    with cached(df) as df:
        return write_stages_with_lineage(
            df.sparkSession,
            [Stage(stage, df, path, partition_cols, sort_within)],
            lineage_path, run_id, resume)[stage]


def latest_lineage(spark: SparkSession, lineage_path: str,
                   stage: str) -> DataFrame:
    """The latest lineage row per partition of ``stage``. Picked by
    ``row_number``, NOT orderBy + dropDuplicates: Spark does not
    guarantee dropDuplicates keeps the first row of a prior sort."""
    w = (Window.partitionBy("partition_key")
         .orderBy(F.desc("committed_at"), F.desc("run_id")))
    return (spark.read.parquet(lineage_path)
            .filter(F.col("stage") == stage)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn"))


def verify_against_lineage(spark: SparkSession, path: str,
                           partition_cols: list[str], lineage_path: str,
                           stage: str) -> DataFrame:
    """Recompute per-partition (row_count, checksum) from the stored
    table and diff against the latest lineage records — the resume
    test's no-double-counting certificate."""
    actual = partition_metrics(spark.read.parquet(path), partition_cols)
    lin = latest_lineage(spark, lineage_path, stage).select(
        "partition_key", F.col("row_count").alias("expect_rows"),
        F.col("checksum").alias("expect_checksum"))
    return (actual.join(lin, "partition_key", "full_outer")
            .withColumn("ok", (F.col("row_count") == F.col("expect_rows"))
                        & (F.col("checksum") == F.col("expect_checksum"))))
