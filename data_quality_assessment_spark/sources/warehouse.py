"""Iceberg-shaped warehouse interface with a parquet-directory fallback.

The north rule targets Iceberg tables with hidden partitioning; no
Iceberg runtime jar ships in this sandbox (verified — SURVEY.md §7.8),
so call sites program against this seam and tests run on plain parquet.
``overwrite_partitions`` uses Spark's dynamic partition-overwrite, which
is the same idempotent replace-by-partition semantics Iceberg's
``overwritePartitions()`` gives — the property the resumable pipeline
needs (re-running a partition replaces it, never duplicates it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


class Warehouse:
    """A directory of named tables; swap for an Iceberg catalog in prod."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def append(self, df: DataFrame, table: str) -> None:
        df.write.mode("append").parquet(self.path(table))

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_cols: list[str]
    ) -> None:
        """Replace only the partitions present in ``df`` (idempotent
        re-run of a work unit), like Iceberg overwritePartitions."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(self.path(table))
        )
