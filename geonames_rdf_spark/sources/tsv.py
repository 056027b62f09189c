"""TSV ingestion with externally-declared schemas (SURVEY.md §2.A3-A4).

The reference ships headerless GeoNames dumps and prepends fixed header
rows from config files (download.sh:117-125,188-196); SPARQL-Anything then
treats '' as NULL (places.rq:49).  Spark equivalent: explicit StructType
per source — never inferSchema — with ``nullValue=''`` and tab delimiter.
Chunking (CHUNK_SIZE=1M rows, download.sh:12) maps to Spark file-split
partitioning (`spark.sql.files.maxPartitionBytes`) — built in, nothing to
implement.

Container formats: Spark reads gzip/bzip2/zstd TSV natively (codec by
extension).  The reference's raw inputs are ZIP archives
(download.sh:62-83), which Spark's text/csv readers do NOT read;
``read_tsv_zip`` closes the gap with a ``binaryFile`` scan + stdlib
``zipfile`` extraction inside ``mapInPandas``, then a JVM-side
``from_csv`` parse so the schema/NULL semantics are IDENTICAL to
``read_tsv`` (golden-tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# config/headers-gn.csv:1 — the 19 dump columns + derived adm1/adm2/bestName
FEATURES_SCHEMA = T.StructType([
    T.StructField("geonameid", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("asciiname", T.StringType()),
    T.StructField("alternatenames", T.StringType()),
    T.StructField("latitude", T.DoubleType()),
    T.StructField("longitude", T.DoubleType()),
    T.StructField("feature_class", T.StringType()),
    T.StructField("feature_code", T.StringType()),
    T.StructField("country_code", T.StringType()),
    T.StructField("cc2", T.StringType()),
    T.StructField("admin1_code", T.StringType()),
    T.StructField("admin2_code", T.StringType()),
    T.StructField("admin3_code", T.StringType()),
    T.StructField("admin4_code", T.StringType()),
    T.StructField("population", T.LongType()),
    T.StructField("elevation", T.IntegerType()),
    T.StructField("dem", T.IntegerType()),
    T.StructField("timezone", T.StringType()),
    T.StructField("modification_date", T.DateType()),
    T.StructField("adm1", T.StringType()),
    T.StructField("adm2", T.StringType()),
    T.StructField("bestName", T.StringType()),
])

# config/headers-alternateNamesV2.csv:1 (rows padded to 10 fields,
# download.sh:110-111 — a fixed schema makes the padding implicit)
ALT_NAMES_SCHEMA = T.StructType([
    T.StructField("alternateNameId", T.LongType()),
    T.StructField("geonameid", T.LongType()),
    T.StructField("isolanguage", T.StringType()),
    T.StructField("alternateName", T.StringType()),
    T.StructField("isPreferredName", T.StringType()),
    T.StructField("isShortName", T.StringType()),
    T.StructField("isColloquial", T.StringType()),
    T.StructField("isHistoric", T.StringType()),
    T.StructField("valid_from", T.StringType()),
    T.StructField("valid_to", T.StringType()),
])

# config/headers-hierarchy.csv:1
HIERARCHY_SCHEMA = T.StructType([
    T.StructField("parentId", T.LongType()),
    T.StructField("childId", T.LongType()),
    T.StructField("type", T.StringType()),
])


def read_tsv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Reference-faithful TSV scan: tab-delimited, '' == NULL, explicit
    schema, no header row.  Handles .gz/.bz2 transparently (A2)."""
    return spark.read.csv(
        path, sep="\t", schema=schema, header=False,
        nullValue="", emptyValue="", mode="PERMISSIVE",
    )


def read_tsv_zip(spark: SparkSession, path: str, schema: T.StructType,
                 header: bool = False,
                 member_suffix: str | None = None) -> DataFrame:
    """TSV scan over ZIP archives (A2 — the reference's dump container,
    download.sh:62-83): ``binaryFile`` source -> stdlib ``zipfile`` member
    extraction in an Arrow batch -> ``from_csv`` with the SAME options as
    ``read_tsv`` (tab sep, ''==NULL, PERMISSIVE), so parsing/casting run
    JVM-side and semantics match the plain reader byte for byte.

    ``member_suffix`` filters archive members (e.g. ``'.txt'`` skips the
    readme the GeoNames dumps bundle); ``header`` drops the first line of
    EACH member.  Members are UTF-8.

    Scale shape: zip's central directory makes the format non-splittable,
    so one archive == one task — parallelism comes from the archive COUNT
    (the reference downloads one zip per country, which fans out fine).
    A single multi-GB monolith zip should be unzipped to a splittable
    codec at ingest instead; ``binaryFile`` hard-caps members at the 2 GB
    array limit, failing loudly rather than truncating.
    """
    import io
    import re
    import zipfile

    import pandas as pd

    bins = spark.read.format("binaryFile").load(path).select("content")

    # Split EXACTLY like the JVM text/CSV line reader: \r\n, \r, or \n
    # only.  str.splitlines() would also split on \x0b \x0c \x1c-\x1e
    # \x85 \u2028 \u2029 — characters Spark treats as field DATA — and
    # silently produce different rows than read_tsv on the plain file.
    _line_re = re.compile("\r\n|\r|\n")

    def _jvm_splitlines(text: str) -> list[str]:
        lines = _line_re.split(text)
        if lines and lines[-1] == "":  # trailing terminator, not a row
            lines.pop()
        return lines

    def unzip(batches):
        for pdf in batches:
            for content in pdf["content"]:
                with zipfile.ZipFile(io.BytesIO(bytes(content))) as zf:
                    for m in zf.namelist():
                        if m.endswith("/"):
                            continue  # directory entry
                        if member_suffix and not m.endswith(member_suffix):
                            continue
                        lines = _jvm_splitlines(zf.read(m).decode("utf-8"))
                        if header:
                            lines = lines[1:]
                        yield pd.DataFrame({"line": lines})

    lines = bins.mapInPandas(unzip, schema="line string")
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                    for f in schema.fields)
    return lines.select(
        F.from_csv(
            F.col("line"), ddl,
            {"sep": "\t", "nullValue": "", "emptyValue": "",
             "mode": "PERMISSIVE"},
        ).alias("r")
    ).select("r.*")


def write_tsv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").csv(
        path, sep="\t", header=False, nullValue="", emptyValue=""
    )
