"""Partition compaction for the lineage-written block store (the
small-files problem).

Incremental runs of ``write_with_lineage`` (operators/lineage.py) land
one-or-more files per (source, day) partition per run; at ingest
cadence a hot partition accumulates hundreds of small parquet files,
and at 100 TB the scan-planning and open() overhead dominates reads.
Compaction rewrites each offending partition into
``ceil(bytes / target_bytes)`` files while proving, via the lineage
checksums, that the data is byte-for-byte the same multiset of rows.

Shape (the Iceberg ``rewrite_data_files`` action re-expressed for the
parquet fallback of sources/table_store.py):

1. **Plan from metadata only** — a recursive Hadoop-FS listing (no
   data read; with an Iceberg catalog this is the manifest scan).
   A partition needs compaction when it holds more files than its
   byte-size justifies.
2. **Read only the selected partitions** — each partition directory
   is passed to ``spark.read.parquet(*dirs)`` with ``basePath``, so
   pruning is by construction, not by filter-pushdown luck.
3. **Controlled file fan-in** — rows are repartitioned on
   (partition cols, ``_f``) where ``_f = pmod(xxhash64(data cols),
   n_target)``; every (partition, _f) combo lands in exactly one
   task, so each rewritten partition holds at most its planned file
   count. Deterministic under task retry (no ``rand()``).
4. **Dynamic partition overwrite** replaces only the selected
   partitions. NOT transactional on plain parquet (a reader racing
   the rewrite can see a partition mid-swap) — with an Iceberg
   catalog the same plan commits as a snapshot; stated honestly here.
5. **Checksum certificate** — per-partition (row_count, BIT_XOR
   xxhash64) is computed on the rows actually rewritten and compared
   against the stored lineage for the stage; a mismatch raises before
   anything is overwritten. The compaction itself appends lineage
   rows under stage ``"compact:<stage>"``.

Reference context: the reference (/root/reference) has no persistent
store at all (SURVEY.md §1); this is engine surface for the
north-rule's resumable Iceberg-shaped pipeline.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scoped_conf
from .lineage import LINEAGE_COLS, latest_lineage, partition_metrics


def list_partition_files(spark: SparkSession, path: str,
                         partition_cols: list[str]) -> list[dict]:
    """Metadata-only recursive listing: one dict per partition
    directory with its file count and total bytes. Uses the Hadoop
    FileSystem API, so it works unchanged on hdfs:// and s3a:// paths;
    cost is O(#files) driver metadata, the same scan an Iceberg
    manifest read replaces."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    root_uri = fs.makeQualified(root).toString().rstrip("/")
    parts: dict[str, dict] = {}
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        name = p.getName()
        if name.startswith("_") or name.startswith("."):
            continue
        full = p.toString()
        rel = full[len(root_uri):].strip("/")
        segs = rel.split("/")[:-1]
        kv = dict(s.split("=", 1) for s in segs if "=" in s)
        if set(kv) != set(partition_cols):
            continue
        key = "|".join(kv[c] for c in partition_cols)
        d = parts.setdefault(key, {
            "partition_key": key,
            "dir": full[: full.rfind("/")],
            "values": kv,
            "n_files": 0,
            "bytes": 0,
        })
        d["n_files"] += 1
        d["bytes"] += st.getLen()
    return sorted(parts.values(), key=lambda d: d["partition_key"])


def plan_compaction(spark: SparkSession, path: str,
                    partition_cols: list[str],
                    target_bytes: int = 128 * 1024 * 1024,
                    max_partitions: int = 200) -> list[dict]:
    """Partitions worth rewriting: more files than
    ``ceil(bytes / target_bytes)``. Capped at ``max_partitions`` per
    call (worst offenders first) so a single compaction run is a
    bounded job, not an unbounded tail-chase."""
    out = []
    for d in list_partition_files(spark, path, partition_cols):
        n_target = max(1, math.ceil(d["bytes"] / target_bytes))
        if d["n_files"] > n_target:
            out.append({**d, "n_target": n_target})
    out.sort(key=lambda d: d["n_files"] - d["n_target"], reverse=True)
    return out[:max_partitions]


def compact_partitions(spark: SparkSession, path: str,
                       partition_cols: list[str],
                       lineage_path: str | None = None,
                       stage: str | None = None,
                       run_id: str = "compact",
                       target_bytes: int = 128 * 1024 * 1024,
                       max_partitions: int = 200) -> dict:
    """Rewrite small-file partitions in place (dynamic overwrite).
    With ``lineage_path``+``stage`` set, the rows about to be written
    are checksum-verified against the stage's committed lineage FIRST
    (raises on mismatch, nothing overwritten) and the rewrite appends
    ``compact:<stage>`` lineage rows. Returns
    {partitions_compacted, files_before, files_planned, bytes}."""
    plan = plan_compaction(spark, path, partition_cols,
                           target_bytes, max_partitions)
    if not plan:
        return {"partitions_compacted": 0, "files_before": 0,
                "files_planned": 0, "bytes": 0}

    df = (spark.read.option("basePath", path)
          .parquet(*[d["dir"] for d in plan]))
    data_cols = [c for c in df.columns if c not in partition_cols]

    if lineage_path is not None and stage is not None:
        actual = {r["partition_key"]: (r["row_count"], r["checksum"])
                  for r in partition_metrics(df, partition_cols).collect()}
        expect = {r["partition_key"]: (r["row_count"], r["checksum"])
                  for r in latest_lineage(spark, lineage_path,
                                          stage).collect()}
        for d in plan:
            k = d["partition_key"]
            if k in expect and actual.get(k) != expect[k]:
                raise ValueError(
                    f"compaction aborted: partition {k!r} does not match "
                    f"its committed lineage (actual={actual.get(k)}, "
                    f"lineage={expect[k]}) — store is inconsistent")

    # per-partition target file count via a broadcast metadata join
    key = F.concat_ws("|", *[F.col(c).cast("string")
                             for c in partition_cols])
    targets = F.broadcast(spark.createDataFrame(
        [(d["partition_key"], d["n_target"]) for d in plan],
        "partition_key string, _n_target int"))
    fan = (df.withColumn("partition_key", key)
           .join(targets, "partition_key")
           .withColumn("_f", F.pmod(F.xxhash64(*data_cols),
                                    F.col("_n_target"))))
    total = sum(d["n_target"] for d in plan)
    # scope the dynamic overwrite to THIS write: later mode('overwrite')
    # partitioned writes keep the session's own semantics
    with scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode",
                     "dynamic"):
        (fan.repartition(total, *partition_cols, F.col("_f"))
         .drop("partition_key", "_n_target", "_f")
         .write.mode("overwrite").partitionBy(*partition_cols).parquet(path))

    if lineage_path is not None and stage is not None:
        rows = [(run_id, f"compact:{stage}", d["partition_key"],
                 actual[d["partition_key"]][0],
                 actual[d["partition_key"]][1])
                for d in plan if d["partition_key"] in actual]
        (spark.createDataFrame(
            rows, "run_id string, stage string, partition_key string, "
                  "row_count bigint, checksum bigint")
         .withColumn("committed_at", F.current_timestamp())
         .select(*LINEAGE_COLS)
         .write.mode("append").parquet(lineage_path))

    return {"partitions_compacted": len(plan),
            "files_before": sum(d["n_files"] for d in plan),
            "files_planned": total,
            "bytes": sum(d["bytes"] for d in plan)}
