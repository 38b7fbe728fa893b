"""Streaming file-source lifecycle — the built-in twin of the reference's
folder queue + watermark (T1/T2, SURVEY §2.8).

- consume-once pickup: ``readStream`` file sources track processed files
  in the checkpoint (exactly the reference's "pick up <name>.csv if
  present" without races).
- archive-on-success: ``cleanSource=archive`` moves consumed files to
  ``sourceArchiveDir`` — the reference's Processed/ move
  (CSVtoSQLimport.ps1:257-264) with engine-managed commit ordering.
- watermark commit ordering: the checkpoint commits AFTER each batch's
  sink write succeeds — the reference's update-state-only-on-success
  invariant (ExcelToCSVexport.ps1:222-225) without hand-rolled tick files.

The drop folder is read in the one CSV dialect ``io.csv_io`` decides
(RFC 4180: a header line, ``""`` inside a quoted cell), so a file the
batch writer produced streams back cell for cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from etl_excel_csv_sql_spark.io.csv_io import _RFC4180


def stream_csv_drop_folder(
    spark: SparkSession,
    drop_dir: str,
    schema: StructType,
    archive_dir: str | None = None,
) -> DataFrame:
    """Streaming read of a CSV drop folder. With ``archive_dir`` set,
    consumed files move there after their batch commits (T2's
    archive-on-success)."""
    reader = spark.readStream.format("csv").schema(schema).options(**_RFC4180)
    if archive_dir is not None:
        reader = (
            reader.option("cleanSource", "archive")
            .option("sourceArchiveDir", archive_dir)
        )
    return reader.load(drop_dir)


def write_stream_parquet(
    df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Checkpointed parquet sink (append). It processes the current
    backlog then stops (``availableNow``) — the scheduled-batch deployment
    mode matching the reference's cron cadence with exactly-once file
    tracking."""
    return (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def run_available_now_to_memory(
    df: DataFrame, query_name: str, checkpoint_dir: str, output_mode: str = "append"
) -> None:
    """Drain the current backlog into an in-memory table ``query_name``
    (tests/diagnostics; memory sink is not a production target)."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
