"""Stream-stream joins with watermark-bounded state.

The fourth Structured Streaming pillar in this engine (after windowed
aggregation, exactly-once dedup, and custom state): joining two live
streams. Spark buffers both sides in state; the watermark plus the
event-time range condition bound how long a row can wait for a match, so
state size is (rows per watermark horizon) rather than (stream length).

Inner joins emit a pair as soon as both rows have arrived — no
finalization wait — so over a BOUNDED replay the complete output equals
the batch join exactly. That is what gives the streaming path a full
value oracle (the batch twin's SQL) rather than a rows-only check.

At 100 TB: both sides shuffle on the join key (user), state is
partitioned the same way, and the range condition must be tight enough
that per-key buffered state stays small; without an event-time bound
Spark would buffer both streams forever (it refuses the plan in append
mode unless the condition + watermarks imply eviction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    interval: str = "10 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Join two streams on ``key_col`` where the right event lands in
    ``(left.ts, left.ts + interval]`` — the follows-within pattern (view
    that follows a click, fill that follows an order).

    Both sides carry a watermark; together with the range condition this
    lets Spark evict buffered rows once no future match is possible
    (state ≈ one watermark horizon per side per key, independent of
    stream length).

    ``how="left_outer"`` additionally emits (left, null) for rows that
    never match — but only once the global watermark (the MIN across both
    sides' ``max event time − delay``, millisecond-truncated) passes
    strictly beyond ``left.ts + interval``; rows at exactly the boundary
    stay buffered (calibrated empirically on this engine and mirrored by
    the registered oracle).
    """
    from etl_excel_csv_sql_spark.streaming.windows import with_watermark

    lhs = with_watermark(left, ts_col, watermark).alias("l")
    rhs = with_watermark(right, ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{ts_col}") > F.col(f"l.{ts_col}"))
        & (
            F.col(f"r.{ts_col}")
            <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {interval}")
        )
    )
    return lhs.join(rhs, cond, how)


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
) -> DataFrame:
    """Stream-static dimension enrichment: join each micro-batch against
    a batch dimension table — the lookup/enrichment side of streaming
    ETL (no state store involved; only stream-stream joins need state).

    The dim side is explicitly broadcast: per micro-batch Spark re-plans
    the join, so a broadcast dim means NO shuffle of the stream at all —
    the enrichment is map-side on whatever partitioning the source gives.
    The static side is re-read per micro-batch by the engine (file-backed
    dims pick up slowly-changing updates between batches; this is the
    documented Spark semantics, not a cache).

    For dims beyond broadcast size, drop the hint and pre-bucket both
    sides on the key (io/warehouse.py) so the per-batch join is still
    shuffle-free on the stream side.
    """
    from pyspark.sql import functions as F

    return stream.join(
        F.broadcast(dim), stream[stream_key] == dim[dim_key], "inner"
    )
