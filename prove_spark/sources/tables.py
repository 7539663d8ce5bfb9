"""Lakehouse table layer: Iceberg when available, parquet fallback.

The job (pipeline/checkpoint.py) writes its `triples`, `entities` and
`manifest` tables through TableIO; the production design (BASELINE.json)
keeps them as Iceberg v2 tables and resumes from the manifest's per-bucket
input fingerprints. Without the Iceberg runtime jar on the classpath,
TableIO transparently degrades to directory-per-table parquet with the
same write semantics we rely on for resume: idempotent per-bucket overwrite
(dynamic partition overwrite ≈ Iceberg REPLACE PARTITIONS).

Replaces the reference's MongoDB sinks (utils/mongo_handler.py:134-349) and
SQLite read path (functions.py:45-103).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Iceberg first writes check exists() and then create(): two bucket groups
# committing at once (pipeline/checkpoint.py) could both see "absent".
_ICEBERG_CREATE = threading.Lock()


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class TableIO:
    """Minimal catalog: name → path under a warehouse root (parquet mode) or
    name → catalog identifier (Iceberg mode).

    Iceberg mode (`use_iceberg=True`, autodetected from the classpath by
    default) routes everything through the session catalog with
    DataFrameWriterV2 semantics: append → `writeTo(...).append()`,
    overwrite → `createOrReplace()`, per-bucket idempotent replace →
    `overwritePartitions()` (Iceberg v2 dynamic REPLACE PARTITIONS — exactly
    the resume primitive checkpoint.py relies on). Parquet mode emulates the
    same semantics with directory-per-table dynamic partition overwrite.

    All parquet path operations go through the Hadoop FileSystem API so
    s3a:// / hdfs:// / file:// warehouses behave identically — local os.*
    calls would silently break resume on any non-local warehouse (exists()
    returning False forever means every rerun recomputes everything)."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        use_iceberg: bool | None = None,
        namespace: str = "prove",
    ):
        self.spark = spark
        self.warehouse = warehouse.rstrip("/")
        self.namespace = namespace
        self.use_iceberg = (
            iceberg_available(spark) if use_iceberg is None else use_iceberg
        )
        if self.use_iceberg:
            self.spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS {self.namespace}"
            )

    def path(self, table: str) -> str:
        return f"{self.warehouse}/{table}"

    def ident(self, table: str) -> str:
        """Catalog identifier for Iceberg mode."""
        return f"{self.namespace}.{table}"

    def _fs(self, path: str):
        jvm = self.spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )
        return fs, hpath

    def exists(self, table: str) -> bool:
        """True only if the table holds committed output. Iceberg: a catalog
        lookup (an Iceberg commit is atomic, so presence == committed).
        Parquet: a _SUCCESS marker or at least one non-underscore entry — a
        crashed write can leave only `_temporary/` behind, and counting that
        as present makes callers skip their empty-table fallbacks and die on
        schema inference."""
        if self.use_iceberg:
            return bool(self.spark.catalog.tableExists(self.ident(table)))
        fs, hpath = self._fs(self.path(table))
        if not fs.exists(hpath):
            return False
        for status in fs.listStatus(hpath):
            name = status.getPath().getName()
            if name == "_SUCCESS" or not name.startswith(("_", ".")):
                return True
        return False

    def read(self, table: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(self.ident(table))
        return self.spark.read.parquet(self.path(table))

    def append(self, df: DataFrame, table: str) -> None:
        if self.use_iceberg:
            with _ICEBERG_CREATE:
                if not self.exists(table):
                    df.writeTo(self.ident(table)).using("iceberg").create()
                    return
            df.writeTo(self.ident(table)).append()
            return
        df.write.mode("append").parquet(self.path(table))

    def overwrite(self, df: DataFrame, table: str) -> None:
        if self.use_iceberg:
            df.writeTo(self.ident(table)).using("iceberg").createOrReplace()
            return
        df.write.mode("overwrite").parquet(self.path(table))

    def overwrite_buckets(self, df: DataFrame, table: str, bucket_col: str = "bucket") -> None:
        """Idempotent per-bucket replace: re-running a bucket replaces exactly
        its files/partitions. Iceberg: `overwritePartitions()` on a table
        partitioned by the bucket column (dynamic REPLACE PARTITIONS, an
        atomic snapshot commit). Parquet: dynamic partition overwrite keyed
        by the bucket column — same replace granularity, directory-level."""
        if self.use_iceberg:
            ident = self.ident(table)
            with _ICEBERG_CREATE:
                if not self.exists(table):
                    (
                        df.writeTo(ident)
                        .using("iceberg")
                        .partitionedBy(F.col(bucket_col))
                        .create()
                    )
                    return
            df.writeTo(ident).overwritePartitions()
            return
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(bucket_col)
            .parquet(self.path(table))
        )

    def delete_buckets(
        self, table: str, buckets: list[int], bucket_col: str = "bucket"
    ) -> None:
        """Drop specific bucket partitions. Each bucket group of the
        checkpointed build drops its own buckets before it overwrites them:
        dynamic partition overwrite only replaces partitions PRESENT in the
        new output, so a recomputed bucket that now yields zero rows would
        otherwise keep its stale files. Iceberg: a partition-predicate
        DELETE (metadata-level drop on a bucket-partitioned table). Parquet:
        remove the `bucket=<b>` directories, and no other path, so a
        concurrent commit of other buckets is not disturbed."""
        if not buckets:
            return
        if self.use_iceberg:
            in_list = ",".join(str(int(b)) for b in buckets)
            self.spark.sql(
                f"DELETE FROM {self.ident(table)} "
                f"WHERE {bucket_col} IN ({in_list})"
            )
            return
        fs, _ = self._fs(self.path(table))
        for p in self._bucket_paths(table, buckets, bucket_col):
            if fs.exists(p):
                fs.delete(p, True)

    def read_buckets(
        self, table: str, buckets: list[int], bucket_col: str = "bucket"
    ) -> DataFrame | None:
        """Rows of the given bucket partitions, or None when none of them
        holds data. Parquet: reads only the `bucket=<b>` directories (with
        `basePath`, so the bucket column survives) and never lists the table
        root, where a concurrent dynamic overwrite of OTHER buckets may be
        renaming directories. Iceberg: a partition-filtered snapshot read."""
        if self.use_iceberg:
            if not self.exists(table):
                return None
            return self.read(table).where(F.col(bucket_col).isin(buckets))
        fs, _ = self._fs(self.path(table))
        paths = [
            p.toString()
            for p in self._bucket_paths(table, buckets, bucket_col)
            if fs.exists(p)
        ]
        if not paths:
            return None
        return self.spark.read.option("basePath", self.path(table)).parquet(
            *paths
        )

    def _bucket_paths(self, table: str, buckets: list[int], bucket_col: str):
        jvm = self.spark._jvm
        return [
            jvm.org.apache.hadoop.fs.Path(
                f"{self.path(table)}/{bucket_col}={int(b)}"
            )
            for b in buckets
        ]


def with_bucket(df: DataFrame, col: str = "conv_id", n_buckets: int = 32) -> DataFrame:
    """Stable bucket id for checkpointing/layout: xxhash64-based, NOT Spark's
    partition id (which changes with parallelism — resume must not)."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")
    )
