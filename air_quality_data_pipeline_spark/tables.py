"""Fixture-table loaders.

All engine queries read the driver's parquet fixtures (TESTDATA.md) through
this module so schema quirks are handled in exactly one place:

- ``events.parquet`` has shipped with two encodings of its ``ts`` column
  across fixture vintages: parquet TIMESTAMP(NANOS) (which Spark's vectorized
  reader rejects outright, so we read it as a raw nanosecond ``long`` via
  ``spark.sql.legacy.parquet.nanosAsLong`` and rebuild a ``TIMESTAMP_NTZ`` by
  adding microseconds to the epoch — an arithmetic construction with no
  session-timezone dependence), and plain ``timestamp[us]`` (which Spark reads
  natively; we only normalise to ``TIMESTAMP_NTZ``). The loader branches on
  the dtype it actually observes, so either vintage produces the same
  canonical ``TIMESTAMP_NTZ`` column and both engines (Spark, DuckDB) agree
  to the microsecond.
- every table is read with an explicit schema from ``raw_schema``, so
  opening a table runs no Spark job. ``raw_schema`` infers each file's
  parquet schema once and caches it under ``(path, length, modification
  time)`` from Hadoop ``FileSystem.getFileStatus`` (one code path for local
  paths and object stores), plus the current values of ``_SCHEMA_CONFS``.
  A rewritten file has a new length or mtime, so it gets a new key and is
  inferred again. The confs are in the key because they change how parquet
  types map to Spark types (e.g. ``nanosAsLong`` turns TIMESTAMP(NANOS) into
  ``long``): with them, a cached entry equals what a fresh inference would
  return, across sessions in one process.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# timezone-independent ns→TIMESTAMP_NTZ conversion (truncating to µs, which is
# exactly what DuckDB's parquet reader does with TIMESTAMP(NANOS)).
_NS_TO_TS_NTZ = "timestampadd(MICROSECOND, {col} div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"

# Confs that change the Spark schema parquet inference returns for a file.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMAS: dict[tuple, T.StructType] = {}


def raw_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The inferred parquet schema of one fixture file, cached per file
    version and schema-conversion conf (see the module docstring)."""
    path = spark._jvm.org.apache.hadoop.fs.Path(f"{sf_dir}/{name}.parquet")
    status = path.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(path)
    key = (
        status.getPath().toString(),
        status.getLen(),
        status.getModificationTime(),
        tuple(spark.conf.get(k) for k in _SCHEMA_CONFS),
    )
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    return _SCHEMAS[key]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame with canonical column types."""
    if name == "events":
        # nanosAsLong is inert on timestamp[us] files, so it is safe to keep
        # enabled for old-vintage TIMESTAMP(NANOS) fixtures.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = raw_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    if name != "events":
        return df
    if isinstance(schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.expr(_NS_TO_TS_NTZ.format(col="ts")))
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Load several fixture tables at once."""
    return tuple(table(spark, sf_dir, n) for n in names)


def rebalance_for_map(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin repartition to all cores before CPU-heavy per-row map work.

    A small or poorly-split input (the fixtures are one parquet file per
    table; documents.parquet is well under one split) scans as 1-2
    partitions, so md5-hashing / shingling every token would run on 1-2
    cores while the rest idle — measured 3-4× of llm_minhash_dedup's wall
    time. Re-exchanging the raw text is orders of magnitude cheaper than
    the per-token compute, on a cluster as much as on local[32] (there the
    culprit is a few huge gzip files instead of one tiny one). Semantically
    a no-op: callers' downstream operators are set-based.
    """
    return df.repartition(spark.sparkContext.defaultParallelism)
