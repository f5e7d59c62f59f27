"""SparkSession factory tuned for the engine.

Arrow on (every custom kernel crosses the JVM<->Python boundary as
Arrow batches), AQE on (runtime skew-join + partition coalescing),
UTC session timezone (oracle parity with DuckDB).

At 100 TB the same settings hold; only ``shuffle_partitions`` and
executor sizing change (set ``spark.sql.shuffle.partitions`` ~2-3x
total cores, and rely on AQE coalescing to shrink small stages).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "kapra_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox;
    on a real cluster pass ``None`` and let spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~1x core count locally; on a cluster use 2-3x total cores.
        try:
            shuffle_partitions = max(8, int(master.split("[")[1].rstrip("]*")))
        except (IndexError, ValueError):
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # broadcast joins for dim tables up to 64 MB
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set a session conf for the ``with`` block only, then restore the
    prior value (or unset it), so later statements keep the session's
    own semantics."""
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Cache ``df`` for the ``with`` block and release it on exit. A
    plan the caller already cached is used as is and left cached, so
    the cache manager ends as it started."""
    if df.storageLevel != StorageLevel.NONE:
        yield df
        return
    df = df.cache()
    try:
        yield df
    finally:
        df.unpersist()
