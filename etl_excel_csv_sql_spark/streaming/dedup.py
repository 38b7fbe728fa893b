"""Streaming deduplication — exactly-once-per-key semantics over a stream.

Two engine-native levels (state is managed, checkpointed, and recovered by
Structured Streaming — no custom state store code):

- dedupe_stream_forever: ``dropDuplicates(keys)`` — state grows with
  distinct keys; correct for bounded key domains (e.g. status codes), a
  memory leak for unbounded ones.
- dedupe_stream_within_watermark: ``dropDuplicatesWithinWatermark`` —
  the 100 TB path for unbounded keys (event ids, document fingerprints):
  a duplicate arriving within the watermark delay of the first sighting
  is dropped, and state for keys older than the watermark is evicted.
  This is the streaming twin of the batch exact-dedup
  (operators.dedup.exact_dedup_fingerprint): pair it with the same
  md5(normalize_text(...)) fingerprint column to dedupe a document
  stream by content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_excel_csv_sql_spark.functions.text import normalize_text


def dedupe_stream_forever(stream: DataFrame, keys: list[str]) -> DataFrame:
    return stream.dropDuplicates(keys)


def dedupe_stream_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Drop rows whose ``keys`` were already seen within ``delay`` of event
    time; state self-evicts past the watermark (bounded memory on an
    unbounded stream)."""
    from etl_excel_csv_sql_spark.streaming.windows import with_watermark

    return with_watermark(stream, ts_col, delay).dropDuplicatesWithinWatermark(keys)


def dedupe_document_stream(stream: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Content-dedup a document stream: fingerprint with the SAME
    normalization as the batch exact dedup, then keep the first sighting
    of each fingerprint within the watermark window."""
    with_fp = stream.withColumn(
        "fingerprint", F.md5(normalize_text("text"))
    )
    return dedupe_stream_within_watermark(
        with_fp, ["fingerprint"], "ts", delay
    )
