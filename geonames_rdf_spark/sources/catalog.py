"""Table reader for stored corpora.

``jobs/run_kg.py --pages-table`` reads its input through ``read_table``:
an absolute path is a parquet directory, anything else a table name in
the session catalog.  Writers use Spark's own ``df.write`` directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, path_or_table: str) -> DataFrame:
    if path_or_table.startswith("/"):
        return spark.read.parquet(path_or_table)
    return spark.read.table(path_or_table)
