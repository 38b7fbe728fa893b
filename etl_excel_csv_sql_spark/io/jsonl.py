"""JSONL (newline-delimited JSON) source/sink.

The lingua franca of training-data interchange (web-crawl dumps, HF
datasets, annotation exports) — the engine reads it as a first-class
source next to Excel/CSV/JDBC. Scale posture:

- one JSON document per line → UNCOMPRESSED files are SPLITTABLE: a
  100 TB dump fans out across executors with no driver involvement.
  Of Hadoop's codecs only bzip2 is splittable — gzip AND zstd are not
  (one file = one task); for compressed dumps prefer many medium files
  sized near the target split.
- ALWAYS pass an explicit schema in production: schema inference is a
  full extra pass over the data (samplingRatio trades coverage for
  cost) and silently widens types on dirty rows.
- ``mode="PERMISSIVE"`` + ``columnNameOfCorruptRecord`` quarantines
  malformed lines into a column instead of failing the job — the same
  poison-row stance as the CSV/JDBC quarantine_split path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Column that captures unparseable lines under PERMISSIVE mode.
CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    capture_corrupt: bool = False,
) -> DataFrame:
    """Read newline-delimited JSON. ``schema`` None → inference (test
    convenience only; see module docstring). ``capture_corrupt=True``
    appends ``_corrupt_record`` holding the raw text of bad lines."""
    reader = spark.read
    if schema is not None:
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        if capture_corrupt:
            from pyspark.sql.types import StringType, StructField

            schema = StructType(
                [*schema.fields, StructField(CORRUPT_COL, StringType())]
            )
        reader = reader.schema(schema)
    if capture_corrupt:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", CORRUPT_COL
        )
    df = reader.json(path)
    if capture_corrupt and CORRUPT_COL not in df.columns:
        # under schema INFERENCE Spark adds the corrupt column only if
        # malformed lines were actually met — a clean file then broke
        # the documented contract and downstream
        # filter(_corrupt_record.isNull()) quarantine selects (r10
        # review); a null literal keeps the shape stable either way
        from pyspark.sql import functions as F

        df = df.withColumn(CORRUPT_COL, F.lit(None).cast("string"))
    return df


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write newline-delimited JSON (one object per row, UTF-8,
    uncompressed)."""
    df.write.mode("overwrite").json(path)
