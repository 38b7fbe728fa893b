"""Multi-dimensional data layout: Z-order (Morton) clustering for scan
pruning.

At 100 TB the fastest scan is the one that never happens: parquet
row-group/file min-max statistics prune reads, but only if the data
layout makes per-file ranges narrow on the FILTERED column. Sorting by
one column gives perfect pruning on it and none on any other;
interleaving the bits of two bucketized dimensions (the Z-order curve —
Morton 1966, the same layout Delta/Iceberg OPTIMIZE ZORDER uses) gives
good pruning on BOTH: each file covers a small square of the 2-D key
space instead of a thin full-width stripe.

Everything is exact integer arithmetic on deterministic buckets, so the
z-value is engine-portable (the oracle recomputes it bit-identically):

- bucketize: (x - lo) / (hi - lo) scaled to 2^bits buckets, lo/hi
  computed IN-PLAN (single-row min/max aggregate, broadcast — no driver
  action). Equal-width buckets; for heavily skewed dims substitute a
  rank-based bucketizer upstream.
- interleave: the standard shift-or-mask bit spread (5 ops per dim,
  whole-stage-codegen'd JVM integer ops — no UDF).

``write_zordered`` materializes the layout: repartitionByRange on the
z-value (one range shuffle — contiguous z-blocks per output file) + an
in-partition sort, so every file's min-max on BOTH source dims is tight.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# spread a 16-bit int so its bits occupy even positions of a 32-bit int
_SPREAD_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread_bits(x: Column) -> Column:
    for shift, mask in _SPREAD_MASKS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def spread_bits_sql(expr: str) -> str:
    """The identical spread as engine-neutral SQL text (for oracles)."""
    out = expr
    for shift, mask in _SPREAD_MASKS:
        out = f"(({out}) | (({out}) << {shift})) & {mask}"
    return out


def minmax_bucket(col: Column, lo: Column, hi: Column, bits: int = 16) -> Column:
    """Equal-width bucket of ``col`` into [0, 2^bits) given in-plan lo/hi.
    Degenerate ranges (lo == hi) map everything to bucket 0, and so do
    NULL values (greatest() skips nulls) — a deliberate convention:
    layout keys must be total, so nulls cluster at the curve origin
    (document/partition nulls out upstream when 'IS NULL' pruning
    matters). ``bits`` caps at 16 — the 32-bit spread masks silently
    DESTROY bucket bits above 16, colliding distinct buckets."""
    if not 1 <= bits <= 16:
        raise ValueError(
            f"bits must be in [1, 16] (the 32-bit spread masks drop "
            f"higher bucket bits), got {bits}"
        )
    n = 1 << bits
    raw = F.floor(
        (col.cast("double") - lo.cast("double"))
        / (hi.cast("double") - lo.cast("double"))
        * F.lit(float(n))
    ).cast("bigint")
    return F.when(hi == lo, F.lit(0)).otherwise(
        F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1))
    )


def zorder_value(bucket_a: Column, bucket_b: Column) -> Column:
    """Morton-interleave two 16-bit buckets into one 32-bit z-value
    (bucket_a on even bit positions, bucket_b on odd)."""
    return _spread_bits(bucket_a).bitwiseOR(
        F.shiftleft(_spread_bits(bucket_b), 1)
    )


def with_zorder(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Attach the z-value of (col_a, col_b) with in-plan min/max
    bucketization — one tiny aggregate + a narrow map, no driver action.

    The spread runs as STAGED projections (one per mask step, buckets
    materialized first): each step references its input twice, so a
    single composed Column would duplicate the whole upstream expression
    per reference — 2^4 copies of the bucket arithmetic per dimension in
    the plan tree (CollapseProject only keeps stages apart when the
    duplicated expression is non-cheap AND already staged; compose-in-
    Python never stages). Identical semantics, linear plan size."""
    bounds = F.broadcast(
        df.agg(
            F.min(col_a).alias("__lo_a"),
            F.max(col_a).alias("__hi_a"),
            F.min(col_b).alias("__lo_b"),
            F.max(col_b).alias("__hi_b"),
        )
    )
    orig = df.columns
    cur = df.crossJoin(bounds).select(
        *orig,
        minmax_bucket(
            F.col(col_a), F.col("__lo_a"), F.col("__hi_a"), 16
        ).alias("__za"),
        minmax_bucket(
            F.col(col_b), F.col("__lo_b"), F.col("__hi_b"), 16
        ).alias("__zb"),
    )
    for shift, mask in _SPREAD_MASKS:
        def step(c: str) -> Column:
            x = F.col(c)
            return (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(
                F.lit(mask)
            ).alias(c)

        cur = cur.select(*orig, step("__za"), step("__zb"))
    return cur.select(
        *orig,
        F.col("__za")
        .bitwiseOR(F.shiftleft(F.col("__zb"), 1))
        .alias("zvalue"),
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int,
) -> None:
    """Write parquet clustered along the z-curve: range-partition on the
    z-value (each output file owns a contiguous z-interval ≈ a small
    rectangle of the 2-D space) and sort within partitions so row-group
    stats are tight too. Filters on EITHER dimension then prune most
    files at scan time."""
    zdf = with_zorder(df, col_a, col_b)
    (
        zdf.repartitionByRange(num_files, F.col("zvalue"))
        .sortWithinPartitions("zvalue")
        .drop("zvalue")
        .write.mode("overwrite")
        .parquet(path)
    )


def hilbert_index(x: Column, y: Column, bits: int = 8) -> Column:
    """Hilbert-curve distance of an integer 2-D point (xy2d, the
    standard bit-level rotation fold) — the locality-preserving
    alternative to :func:`zorder_value`: consecutive Hilbert cells are
    always spatially ADJACENT (Morton order jumps at quadrant
    boundaries), so range scans touch fewer files for the same file
    count; Delta's OPTIMIZE added exactly this as LIQUID clustering's
    curve.

    Implemented as a pure Catalyst higher-order fold: the (d, x, y)
    state folds over the ``bits`` levels (an F.aggregate over a literal
    level array — all JVM integer ops inside codegen, no UDF), one
    rotate/flip per level per the classic xy2d recurrence. Inputs must
    already be bucketed to [0, 2^bits) (pair with
    :func:`minmax_bucket`). The DuckDB oracle runs the identical fold
    through list_reduce, so the curve is value-checkable end to end.
    """
    levels = F.array(
        *[F.lit(1 << k).cast("long") for k in range(bits - 1, -1, -1)]
    )
    init = F.struct(
        F.lit(0).cast("long").alias("d"),
        x.cast("long").alias("x"),
        y.cast("long").alias("y"),
    )

    def step(acc: Column, s: Column) -> Column:
        ax, ay = acc.getField("x"), acc.getField("y")
        rx = F.when(ax.bitwiseAND(s) > 0, F.lit(3).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        ry = F.when(ay.bitwiseAND(s) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        d = acc.getField("d") + s * s * rx.bitwiseXOR(ry)
        swap_needed = ay.bitwiseAND(s) == 0
        flip = ax.bitwiseAND(s) > 0
        nx = F.when(
            swap_needed, F.when(flip, s - 1 - ay).otherwise(ay)
        ).otherwise(ax)
        ny = F.when(
            swap_needed, F.when(flip, s - 1 - ax).otherwise(ax)
        ).otherwise(ay)
        return F.struct(
            d.alias("d"),
            nx.cast("long").alias("x"),
            ny.cast("long").alias("y"),
        )

    return F.aggregate(levels, init, step).getField("d")


def with_hilbert(df: DataFrame, col_a: str, col_b: str, bits: int = 8) -> DataFrame:
    """Attach the Hilbert clustering key over two numeric columns:
    equal-width ``bits``-bit buckets from in-plan min/max bounds (same
    bucketing as :func:`with_zorder`), then the xy2d fold. Use with
    repartitionByRange + sortWithinPartitions for the layout write,
    exactly like ``write_zordered``."""
    bounds = df.agg(
        F.min(F.col(col_a).cast("double")).alias("__lo_a"),
        F.max(F.col(col_a).cast("double")).alias("__hi_a"),
        F.min(F.col(col_b).cast("double")).alias("__lo_b"),
        F.max(F.col(col_b).cast("double")).alias("__hi_b"),
    )
    ba = minmax_bucket(
        F.col(col_a).cast("double"),
        F.col("__lo_a"),
        F.col("__hi_a"),
        bits=bits,
    )
    bb = minmax_bucket(
        F.col(col_b).cast("double"),
        F.col("__lo_b"),
        F.col("__hi_b"),
        bits=bits,
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("hvalue", hilbert_index(ba, bb, bits=bits))
        .drop("__lo_a", "__hi_a", "__lo_b", "__hi_b")
    )
