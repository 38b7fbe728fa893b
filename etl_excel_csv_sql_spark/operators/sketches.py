"""Mergeable approximate sketches: the sublinear-state path for
distinct-count and quantile rollups.

At 100 TB an exact COUNT(DISTINCT user) per dimension cell shuffles every
distinct value; the scalable pattern is a MERGEABLE sketch per cell —
build once map-side, persist as bytes, union sketches instead of
re-scanning raw data for any coarser rollup (day → month, source →
corpus). Spark ships Apache DataSketches HLL natively
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate`` —
SPARK-16452 lineage), so the whole path stays JVM-side with no UDF.

``distinct_count_calibration`` pairs the sketch estimate with the exact
count so the error is MEASURED, not assumed (the report is the test
harness; a production rollup keeps only the sketch column). Exactness of
the exact side is itself one distinct-aggregate pass — run it at
calibration scale, not corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_sketches(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group HLL sketch (binary, mergeable) + its estimate. The
    sketch column is the artifact to persist: any union of groups can be
    estimated later WITHOUT the raw data (hll_union_agg)."""
    # estimate as a post-projection over the ONE aggregated sketch —
    # nesting a second hll_sketch_agg inside the estimate relied on
    # Catalyst deduplicating semantically-equal aggregates and would
    # silently build the sketch twice if the two calls ever drifted
    return df.groupBy(group_col).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(12)).alias("sketch")
    ).withColumn("approx_distinct", F.hll_sketch_estimate("sketch"))


def merge_sketches(sketches: DataFrame) -> DataFrame:
    """Roll sketches up to one global estimate — bytes in, no re-scan."""
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias(
            "approx_distinct"
        )
    )


def distinct_count_calibration(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group AND global (sketch-estimate vs exact) distinct counts
    with relative error — one row per group plus a 'total' row whose
    approx side comes from UNIONING the per-group sketches (proving
    mergeability), not from re-aggregating the raw column.

    Output: (scope, approx_distinct, exact_distinct, rel_error).
    """
    per_group = df.groupBy(group_col).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(12)).alias("sketch"),
        F.count_distinct(F.col(value_col)).alias("exact_distinct"),
    )
    group_rows = per_group.select(
        F.col(group_col).cast("string").alias("scope"),
        F.hll_sketch_estimate("sketch").cast("long").alias("approx_distinct"),
        "exact_distinct",
    )
    total_exact = df.agg(
        F.count_distinct(F.col(value_col)).alias("exact_distinct")
    )
    total_row = (
        per_group.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch"))
            .cast("long")
            .alias("approx_distinct")
        )
        .crossJoin(total_exact)  # 1x1
        .select(F.lit("total").alias("scope"), "approx_distinct", "exact_distinct")
    )
    return group_rows.unionByName(total_row).select(
        "scope",
        "approx_distinct",
        "exact_distinct",
        F.round(
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct").cast("double"),
            6,
        ).alias("rel_error"),
    )


def quantile_calibration(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group approx_percentile vs exact INTERPOLATED percentiles
    (percentile_cont semantics — F.percentile linearly interpolates
    between data values, so abs_error includes the interpolation gap on
    sparse value ranges, not just sketch error; calibration scale only).
    Output long-form: (scope, quantile, approx_value, exact_value,
    abs_error)."""
    qs = [0.5, 0.9, 0.99]
    agg = df.groupBy(group_col).agg(
        F.percentile_approx(
            F.col(value_col), F.lit(qs), F.lit(10000)
        ).alias("approx"),
        F.percentile(F.col(value_col), F.lit(qs)).alias("exact"),
    )
    pairs = F.arrays_zip(
        F.array(*[F.lit(q) for q in qs]).alias("q"),
        F.col("approx").alias("a"),
        F.col("exact").alias("e"),
    )
    return agg.select(
        F.col(group_col).cast("string").alias("scope"), F.explode(pairs).alias("p")
    ).select(
        "scope",
        F.col("p.q").alias("quantile"),
        F.col("p.a").cast("double").alias("approx_value"),
        F.round(F.col("p.e").cast("double"), 6).alias("exact_value"),
        F.round(F.abs(F.col("p.a") - F.col("p.e")).cast("double"), 6).alias(
            "abs_error"
        ),
    )


def set_overlap_estimate(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Pairwise set-overlap estimates between groups' value sets from
    sketch ALGEBRA alone: |A∩B| ≈ |A| + |B| − |A∪B| with the union
    estimated by merging the two groups' HLL sketches (hll_union is a
    pure bytes operation — no raw data touched after the one sketch-
    building pass). The audience-overlap / cross-contamination question
    answered at 100 TB without a single join of raw values.

    Returns (group_a, group_b, approx_a, approx_b, approx_union,
    approx_intersection, jaccard) for a < b. The per-group frame is
    group-cardinality, so the pair join is trivially small; estimates
    inherit HLL error (~1.6% at lg_k=12) and intersection error grows
    when the overlap is much smaller than either set (inclusion-
    exclusion subtracts two near-equal numbers) — the calibration test
    pins both behaviors.
    """
    per_group = (
        df.groupBy(F.col(group_col).alias("g"))
        .agg(F.hll_sketch_agg(F.col(value_col), F.lit(12)).alias("sk"))
        .localCheckpoint(eager=True)  # both sides of the pair join
    )
    a = per_group.select(
        F.col("g").alias("group_a"), F.col("sk").alias("sk_a")
    )
    b = per_group.select(
        F.col("g").alias("group_b"), F.col("sk").alias("sk_b")
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b"))
    est_a = F.hll_sketch_estimate("sk_a")
    est_b = F.hll_sketch_estimate("sk_b")
    est_u = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    inter = F.greatest(est_a + est_b - est_u, F.lit(0))
    return pairs.select(
        "group_a",
        "group_b",
        est_a.cast("long").alias("approx_a"),
        est_b.cast("long").alias("approx_b"),
        est_u.cast("long").alias("approx_union"),
        inter.cast("long").alias("approx_intersection"),
        F.round(inter / est_u, 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Frequency: Misra-Gries heavy hitters (mergeable, Agarwal et al. PODS'12)
# ---------------------------------------------------------------------------

def misra_gries_partials(
    df: DataFrame, key_col: str, width: int
) -> DataFrame:
    """Per-partition Misra-Gries summaries: ≤ ``width`` (key, est) rows
    per partition, one Arrow-batched pass, NO shuffle of raw keys.

    Batch processing uses the summary-merge form of MG (sum counters,
    subtract the (width+1)-th largest, keep positives) which preserves
    the estimate bound est ≥ count − n_p/(width+1) (Agarwal et al.,
    "Mergeable Summaries", PODS'12 — merging does not grow error beyond
    the concatenated-stream bound). Python touches only per-batch
    value_counts() results (vocabulary-sized), never row-at-a-time.
    """

    keyed = df.select(F.col(key_col).cast("string").alias("key"))

    def summarize(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            vc = pdf["key"].dropna().value_counts()
            for k, c in vc.items():
                counters[k] = counters.get(k, 0) + int(c)
            if len(counters) > width:
                # subtract the (width+1)-th largest from everything
                cut = sorted(counters.values(), reverse=True)[width]
                counters = {
                    k: c - cut for k, c in counters.items() if c - cut > 0
                }
        yield pd.DataFrame(
            {"key": list(counters), "est": list(counters.values())}
        )

    return keyed.mapInPandas(summarize, "key string, est long")


def phi_heavy_hitters(
    df: DataFrame,
    key_col: str,
    phi: float,
) -> DataFrame:
    """EXACT phi-heavy hitters (keys with frequency ≥ phi·n) at
    sketch cost: (key, cnt, freq), counts exact.

    Two passes over the data, NEITHER shuffling raw keys:

    1. Misra-Gries partials per partition (width = ceil(2/phi))
       merged by key — any key with count > n/(width+1) ≤ phi·n/2
       survives with positive estimate, so the merged summary is a
       guaranteed SUPERSET of the phi-heavy set.
    2. Exact verify: count only the candidate keys (broadcast semi-join
       prunes at the scan), filter to ≥ phi·n with n as an in-plan
       broadcast scalar.

    The result is therefore exact and oracle-checkable with plain
    GROUP BY/HAVING — while the shuffle carries at most
    width·partitions summary rows plus candidate counts, never the
    key column of the full table.

    NULL keys are excluded on both passes (dropped from the summaries,
    absent from candidates) and from the frequency denominator — the
    SQL ``WHERE key IS NOT NULL`` semantics.
    """
    import math

    width = int(math.ceil(2.0 / phi))
    keyed = df.select(F.col(key_col).cast("string").alias("key"))
    candidates = (
        misra_gries_partials(df, key_col, width)
        .groupBy("key")
        .agg(F.sum("est").alias("est"))
        .select("key")
    )
    total = keyed.agg(F.count("key").alias("n"))  # 1 row → broadcast
    exact = (
        keyed.join(F.broadcast(candidates), "key", "left_semi")
        .groupBy("key")
        .agg(F.count("*").alias("cnt"))
    )
    # DECIMAL threshold: double(phi)*n rounds above the integer for
    # many decimal phis (0.1*30 = 3.0000000000000004 excludes a key at
    # frequency EXACTLY phi — phi-heavy by definition, and the DuckDB
    # oracle's decimal HAVING includes it). 10dp covers any sane phi.
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(
            F.col("cnt") >= F.lit(phi).cast("decimal(12,10)") * F.col("n")
        )
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("freq"),
        )
    )


def count_min_estimates(
    df: DataFrame,
    key_col: str,
    bucket_hex: int = 3,
    depth: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan, J.Alg 2005) built
    IN-PLAN, with a self-auditing estimate-vs-exact report for the
    heaviest keys.

    The sketch is depth x 16^bucket_hex counters; lane j's bucket for a
    key is the first ``bucket_hex`` hex chars of md5('cms{j}|' || key)
    — the engine-portable hashing convention every sampler in this repo
    uses, which is what makes a full value oracle possible (the sketch
    is a deterministic function of the data, so DuckDB can rebuild the
    identical table). estimate(key) = min over lanes of its counter —
    always >= the true count, and <= true + eps*N with prob 1-delta
    (eps = e/width, delta = e^-depth).

    Plan: ONE explode of depth (lane, bucket) pairs per row -> ONE
    shuffle on (lane, bucket) bounded by depth*width groups — that
    aggregate IS the sketch, a ~12k-row frame at the defaults,
    mergeable across any partitioning (counter addition commutes).
    Estimates then join the distinct-key frame's lane buckets to the
    broadcast sketch and take the per-key min. The exact counts carried
    alongside are the AUDIT columns (they cost a key-cardinality
    aggregate here at test scale; the production value of the sketch is
    exactly that you can drop them — bounded memory, single pass,
    streaming-mergeable — while the oracle still pins the estimates).

    Output: the ``top_k`` heaviest keys (by exact count, key tiebreak)
    with (key, exact_count, est_count, overestimate).
    """
    key = F.col(key_col).cast("string").alias("k")
    keyed = df.where(F.col(key_col).isNotNull()).select(key)
    lanes = F.array(
        *[
            F.struct(
                F.lit(j).alias("lane"),
                F.substring(
                    F.md5(F.concat(F.lit(f"cms{j}|"), F.col("k"))),
                    1,
                    bucket_hex,
                ).alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    sketch = (
        keyed.select(F.explode(lanes).alias("lb"))
        .groupBy(F.col("lb.lane").alias("lane"), F.col("lb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("counter"))
    )
    exact = keyed.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    probes = exact.select("k", "exact_count", F.explode(lanes).alias("lb"))
    est = (
        probes.join(
            F.broadcast(sketch),
            (F.col("lb.lane") == F.col("lane"))
            & (F.col("lb.bucket") == F.col("bucket")),
        )
        .groupBy("k", "exact_count")
        .agg(F.min("counter").alias("est_count"))
    )
    return (
        est.select(
            F.col("k").alias("key"),
            "exact_count",
            "est_count",
            (F.col("est_count") - F.col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.col("exact_count").desc(), "key")
        .limit(top_k)
    )
