"""ORC columnar source/sink.

Second columnar format next to parquet (warehouses migrating from
Hive/Presto estates carry ORC lakes). Spark's native vectorized ORC
reader gives the same scan-side machinery as parquet — predicate
pushdown into stripe/row-group indexes, column pruning, splittable
stripes — so a 100 TB ORC lake scans with identical parallelism. The
engine treats it as a first-class interchange path: land data in ORC
for Hive-lineage consumers, read ORC lakes without conversion.

Scale posture:

- ALWAYS pass an explicit schema when reading production paths: ORC
  footers carry types, but a schema pin turns drifted files into hard
  errors at analysis time instead of silent type widening downstream
  (same stance as the JSONL source).
- zlib is the ORC-ecosystem default codec (hive-compatible); snappy
  decodes faster. Both are stripe-splittable — codec choice never
  affects parallelism, unlike whole-file gzip on text formats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_orc(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """Read an ORC file/directory. ``schema`` None → footer types
    (interactive convenience); pass a DDL string or StructType to pin."""
    reader = spark.read
    if schema is not None:
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Write ORC (overwrite, zlib: the hive default)."""
    df.write.mode("overwrite").option("compression", "zlib").orc(path)
