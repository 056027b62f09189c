"""SparkSession factory tuned for this engine.

Local mode here, but every setting is chosen to also be correct on a large
cluster: AQE for runtime re-planning (skew joins, partition coalescing),
UTC session timezone (oracle/DuckDB parity), Arrow for the vectorized UDF
stages, and shuffle partitions sized to cores rather than the 200 default.
Two parallelism floors keep small data on every core: ``ensure_parallel``
on the scan side (an input with fewer splits than cores, such as one
parquet file) and, on the shuffle side, ``ENGINE_CONF``'s 1-byte
``coalescePartitions.minPartitionSize``, under which AQE coalesces a
small shuffle down to ``defaultParallelism`` partitions, not to one or
two.
Cores, driver heap and the local scratch dir default to what the host
offers; ``SPARK_GRAFT_CPUS``, ``SPARK_DRIVER_MEM`` and ``SPARK_LOCAL_DIRS``
override them.  ``ENGINE_CONF`` holds the engine settings that
``get_spark`` and the ``jobs/`` session builders share; master, cores,
heap, shuffle partitions and the local/UI/bind settings are
``get_spark``'s alone (a ``spark-submit`` job takes them from its
launcher).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

# Engine confs every session of this package is built with.
ENGINE_CONF = {
    # AQE: runtime re-planning (skew joins, partition coalescing)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Shuffle-side parallelism floor.  AQE's coalescing target is
    # max(min(shuffle bytes / defaultParallelism, 64m advisory), this);
    # at the 1m default a shuffle under 1 MB per core collapses to one or
    # two tasks (the LSH band self-join, similarity and expansion joins
    # ran as 2 on 4 cores).  At 1b a small shuffle keeps one task per
    # core; one over 1 MB per core plans as before.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
    # gazetteer id-sets/dimensions are tens of MB — worth broadcasting
    # well past the 10m default (one copy per executor)
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    # Arrow for the pandas boundary (toPandas, createDataFrame, UDFs)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark's LRU cache of generated classes (default 100 entries).  The
    # repeated ops need up to ~150 classes (perfbench kg op 149, web op
    # 93, the sf0.001 test kg op 150); at 100 entries a repeated kg op
    # recompiles ~110 of them with Janino and JIT-compiles the new
    # bytecode again, 20-30% of the op's CPU time (DESIGN.md, "Generated
    # code and the JIT").  1000 holds them with ~6x headroom.  A static
    # conf: read once per JVM, so it takes effect only in a session built
    # with it; a session a caller hands in keeps its own value.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def cpus() -> int:
    """Local-mode cores: ``$SPARK_GRAFT_CPUS``, else the CPUs this process
    may run on (its affinity mask, not the machine's core count)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API (macOS)
        return os.cpu_count() or 1


def driver_memory() -> str:
    """Driver heap: ``$SPARK_DRIVER_MEM``, else about half of the memory
    this process can get — MemAvailable, or the cgroup limit when that is
    lower.  The JVM reserves its whole heap up front, so a fixed large
    default aborts (or is OOM-killed) on a small host."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    avail = []
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail.append(int(line.split()[1]) * 1024)
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            avail.append(int(raw))
    if not avail:
        return "4g"
    return f"{max(1024, min(avail) // 2 // 2**20)}m"


def get_spark(
    app_name: str = "geonames_rdf_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    n = cpus()
    master = master or f"local[{n}]"
    if shuffle_partitions is None:
        shuffle_partitions = n

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory())
        # disk-backed shuffle/spill dir: a tmpfs one would spend the same
        # RAM the heap and the Python workers need
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIRS",
                               os.path.join(tempfile.gettempdir(),
                                            "spark-local")))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config(map=ENGINE_CONF)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, data, schema) -> DataFrame:
    """A relation built from driver-side rows, held in the JVM as Arrow data.

    ``data`` is a sequence of row tuples or a pandas DataFrame; ``schema``
    a ``StructType`` or DDL string, whose types and nullability the
    result keeps.  The rows become one pyarrow Table, handed to Spark
    whole.  Spark plans it as a ``LocalTableScan`` while its Arrow size is
    under ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by
    default) and as ``Scan ExistingRDD arrow``, an RDD of Arrow batches
    kept in the JVM, above it; no job that reads either starts Python
    workers.  ``createDataFrame(<rows>)`` would instead plan
    ``Scan ExistingRDD`` over a pickled Python RDD, and the pandas route
    silently falls back to that when Arrow conversion fails.  The
    Arrow-table route has no fallback: a row or frame whose fields differ
    from the schema's, a value that does not convert to its column's
    type, or a null in a NOT NULL column raises here.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(data, pd.DataFrame):
        if list(data.columns) != schema.names:
            raise ValueError(f"local_frame: columns {list(data.columns)}"
                             f" differ from the schema's {schema.names}")
        table = pa.Table.from_pandas(data, schema=arrow_schema,
                                     preserve_index=False)
    else:
        columns = (list(zip(*data, strict=True)) if len(data)
                   else [()] * len(arrow_schema))
        if len(columns) != len(arrow_schema):
            raise ValueError(f"local_frame: rows have {len(columns)} fields,"
                             f" the schema has {len(arrow_schema)}")
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema)
    for f, col in zip(schema.fields, table.columns):
        # pyarrow does not enforce a field's non-null flag; Spark trusts it
        if not f.nullable and col.null_count:
            raise ValueError(f"local_frame: column {f.name!r} is declared"
                             f" NOT NULL but holds {col.null_count} null(s)")
    return spark.createDataFrame(table, schema=schema)


def ensure_parallel(df: DataFrame) -> DataFrame:
    """Parallelism floor: repartition ``df`` to the session's default
    parallelism when it has fewer partitions.

    A dimension-small input (one parquet file == one split, and one row
    group cannot be subdivided by maxPartitionBytes) would otherwise run
    the whole downstream narrow chain — CASE derivations, broadcast joins,
    melts, ``mapInPandas`` hashing — as ONE task.  Scale-adaptive no-op:
    an input already at >= default parallelism (the at-scale case) passes
    through untouched, so no exchange is added where the scan already
    parallelizes."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def codegen_counters(spark: SparkSession) -> dict:
    """Cumulative compile work in the driver JVM: ``janino_compilations``
    (generated classes compiled by Janino, from ``CodegenMetrics``) and
    ``jit_ms`` (HotSpot JIT time, from the ``CompilationMXBean``).  In
    local mode the tasks run in that JVM too, so this covers all of it;
    take the difference of two calls around a region."""
    jvm = spark.sparkContext._jvm
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    mx = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return {
        "janino_compilations": int(codegen.METRIC_COMPILATION_TIME().getCount()),
        "jit_ms": int(mx.getTotalCompilationTime()),
    }
