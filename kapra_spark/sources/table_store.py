"""Named-table storage: Iceberg when a catalog is configured, a
parquet-directory layout with identical semantics otherwise.

The north star stores tiers/lineage in Iceberg tables. This sandbox has
no Iceberg runtime (no jars, no network), so the engine ships BOTH
backends behind one API and picks per-session:

- **iceberg** — used when the session has a ``spark.sql.catalog.<name>``
  whose value is the Iceberg SparkCatalog. Writes go through the DSv2
  ``writeTo`` API: ``createOrReplace()`` for full loads,
  ``overwritePartitions()`` for idempotent partition-level re-writes
  (the commit-retry unit the lineage layer assumes). Each commit is an
  Iceberg snapshot — the resume point.
- **parquet** — directory per table, ``partitionBy`` subdirs, dynamic
  partition overwrite mode (the same idempotent-partition-rewrite
  contract, minus the catalog). This is what the in-container tests
  exercise; the Iceberg branch is config-gated, not stubbed: it is the
  identical plan with a different sink format.

Either way the per-partition lineage/metrics records live in a table
next to the data (operators/lineage.py) — on Iceberg, a killed job
resumes from the last committed snapshot; on parquet, from the last
fully-written partition directory (write order: data first, lineage
append second, so a crash between them re-writes idempotently).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import scoped_conf


def detect_iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of the first configured Iceberg catalog, or None."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:
        return None
    for k, v in confs:
        if (k.startswith("spark.sql.catalog.") and k.count(".") == 3
                and "iceberg" in str(v).lower()):
            return k.rsplit(".", 1)[1]
    return None


class TableStore:
    """Write/read named partitioned tables on either backend."""

    def __init__(self, spark: SparkSession, base: str,
                 catalog: str | None = None, namespace: str = "kapra"):
        self.spark = spark
        self.base = base.rstrip("/")
        self.catalog = (catalog if catalog is not None
                        else detect_iceberg_catalog(spark))
        self.namespace = namespace
        if self.catalog:
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS "
                      f"{self.catalog}.{self.namespace}")

    # -- naming ---------------------------------------------------------

    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def _path(self, table: str) -> str:
        return f"{self.base}/{table}"

    # -- API ------------------------------------------------------------

    def write(self, df: DataFrame, table: str,
              partition_cols: list[str] | None = None,
              mode: str = "overwrite_partitions") -> None:
        """``overwrite_partitions``: idempotently replace only the
        partitions present in ``df`` (the lineage layer's retry unit).
        ``replace``: full table swap. ``append``: blind append (metrics
        tables)."""
        partition_cols = partition_cols or []
        if self.catalog:
            ident = self._ident(table)
            w = df.writeTo(ident)
            if partition_cols:
                from pyspark.sql import functions as F
                w = w.partitionedBy(*[F.col(c) for c in partition_cols])
            if mode == "append":
                # only create on a genuinely missing table — a blind
                # except-fallback would replace the whole table (and
                # its accumulated metrics/lineage) on any transient
                # append failure; real failures must surface
                if self._iceberg_exists(table):
                    w.append()
                else:
                    w.createOrReplace()
            elif mode == "replace":
                w.createOrReplace()
            else:  # overwrite_partitions
                if self._iceberg_exists(table):
                    df.writeTo(ident).overwritePartitions()
                else:
                    w.createOrReplace()
            return
        path = self._path(table)
        if mode == "append":
            df.write.mode("append").parquet(path)
            return
        w = df.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        with scoped_conf(self.spark, "spark.sql.sources.partitionOverwriteMode",
                         "dynamic" if mode == "overwrite_partitions" else "static"):
            w.parquet(path)

    def read(self, table: str) -> DataFrame:
        if self.catalog:
            return self.spark.read.table(self._ident(table))
        return self.spark.read.parquet(self._path(table))

    def exists(self, table: str) -> bool:
        if self.catalog:
            return self._iceberg_exists(table)
        try:
            self.spark.read.parquet(self._path(table)).schema
            return True
        except Exception:
            return False

    def _iceberg_exists(self, table: str) -> bool:
        try:
            return self.spark.catalog.tableExists(self._ident(table))
        except Exception:
            return False
