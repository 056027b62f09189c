"""Table catalog: Iceberg when available, partitioned parquet fallback.

The production design targets Iceberg (snapshot isolation, partition
overwrite for exact resume, hidden partitioning on url-hash buckets).
This container ships no Iceberg runtime jar, so the writer degrades to
dynamic-partition-overwrite parquet with the same call shape — the
semantics the lineage/resume layer relies on (idempotent per-bucket
overwrite) hold in both backends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001
        return False


def write_table(
    df: DataFrame,
    path_or_table: str,
    partition_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> str:
    """Write a table; returns the backend used ('iceberg' | 'parquet')."""
    spark = df.sparkSession
    if iceberg_available(spark) and not path_or_table.startswith("/"):
        (df.writeTo(path_or_table).using("iceberg")
           .partitionedBy(*[F.col(c) for c in partition_cols])
           .createOrReplace())
        return "iceberg"
    # dynamic overwrite scoped to THIS writer — a session-conf mutation
    # would silently change every later partitioned overwrite
    w = df.write.mode(mode).option("partitionOverwriteMode", "dynamic")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path_or_table)
    return "parquet"


def read_table(spark: SparkSession, path_or_table: str) -> DataFrame:
    if path_or_table.startswith("/"):
        return spark.read.parquet(path_or_table)
    return spark.read.table(path_or_table)
