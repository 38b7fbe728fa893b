"""Streaming event-time windows — twins of operators.events.

Each function applies the SAME column expressions as its batch twin (it
calls the batch operator on the streaming frame), adding only
``withWatermark`` for late-data bounds. That is the point of the
DataFrame-first design: one logical plan serves batch and streaming; state
cleanup, incremental output and recovery come from the engine.

At scale: the shuffle keys (window × groups, or user_id) and the map-side
partial aggregation are identical to batch; watermark delay bounds state
size — (windows retained) × |groups| rows per state store, independent of
stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_excel_csv_sql_spark.operators.events import (
    session_window_agg,
    tumbling_window_agg,
)


def ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Cast ``ts_col`` to TIMESTAMP if it is TIMESTAMP_NTZ.

    ``withWatermark`` rejects TIMESTAMP_NTZ event time
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and parquet written without
    isAdjustedToUTC — e.g. by DuckDB or pandas — infers as NTZ under
    Spark 4. The cast interprets the naive value in the session timezone
    (pinned UTC in session.py), so wall-clock digits are unchanged and
    downstream window/date_format output is byte-identical; it is a no-op
    for already-tz-aware columns."""
    # resolve case-insensitively, matching Spark's default column
    # resolution — df.schema[...] alone is case-SENSITIVE and raised
    # KeyError for 'ts' vs 'TS' before the watermark was ever applied
    # (r10 review)
    matches = [
        f for f in df.schema.fields if f.name.lower() == ts_col.lower()
    ]
    field = matches[0] if matches else df.schema[ts_col]
    if isinstance(field.dataType, T.TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """NTZ-safe ``withWatermark`` — every watermark in this package goes
    through here so file-source timestamp flavor never breaks a stream."""
    return ensure_event_time(df, ts_col).withWatermark(ts_col, delay)


def stream_tumbling_agg(
    events: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling windows over a streaming frame; windows finalize (append
    mode) once the watermark passes their end."""
    return tumbling_window_agg(with_watermark(events, ts_col, watermark), ts_col, width)


def stream_session_agg(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessions via the native F.session_window — the streaming
    twin of operators.events.sessionize (which uses lag+running-sum, a
    shape streaming can't express; session_window is the engine-native
    equivalent with managed state)."""
    return session_window_agg(
        with_watermark(events, ts_col, watermark), ts_col, user_col, gap
    )
