"""SparkSession factory tuned for this engine.

Local mode here, but every setting is chosen to also be correct on a large
cluster: AQE for runtime re-planning (skew joins, partition coalescing),
UTC session timezone (oracle/DuckDB parity), Arrow for the vectorized UDF
stages, and shuffle partitions sized to cores rather than the 200 default.
Cores, driver heap and the local scratch dir default to what the host
offers; ``SPARK_GRAFT_CPUS``, ``SPARK_DRIVER_MEM`` and ``SPARK_LOCAL_DIRS``
override them.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


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
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # gazetteer id-sets/dimensions are tens of MB — worth broadcasting
        # well past the 10m default (one copy per executor)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
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
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


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
