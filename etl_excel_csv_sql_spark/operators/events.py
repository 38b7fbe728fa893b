"""Event-time operators over the events stream table.

The reference has no event-time semantics (its incremental behavior is
file-mtime-based, SURVEY §2.8); these are the north-star extensions. The
window aggregations have Structured Streaming twins in
streaming/windows.py that reuse these exact functions (plus a watermark);
the lag-based sessionize() is batch-only by shape — its streaming twin is
session_window_agg(), which streaming/windows.py wraps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
) -> DataFrame:
    """Fixed (tumbling) window aggregation via F.window — the same
    expression works under readStream with a watermark. One shuffle on
    (window, event_type); partials are map-side."""
    return (
        df.groupBy(F.window(F.col(ts_col), width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_agg(df: DataFrame) -> DataFrame:
    """Sliding 30-minute windows every 10 minutes: each event lands in 3
    windows (explode is handled by F.window itself)."""
    return (
        df.groupBy(F.window(F.col("ts"), "30 minutes", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sessionize(df: DataFrame) -> DataFrame:
    """Gap-based sessionization via lag + running sum (the batch equivalent
    of F.session_window): a new session starts when the gap to the previous
    event of the same user exceeds 30 minutes.

    One shuffle on user_id (both window specs share it — Spark reuses the
    exchange). Skewed power-users are bounded by per-user event counts, not
    corpus size. Output: one row per session with bounds and counts.
    """
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    gap_s = 30 * 60
    # unix_micros rejects TIMESTAMP_NTZ (what Spark 4 infers from parquet
    # written without isAdjustedToUTC); cast to TIMESTAMP first — a no-op
    # for tz-aware inputs, and deterministic (UTC session tz) for NTZ.
    ts_micros = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_ts = F.lag(F.col("ts")).over(w)
    prev_micros = F.unix_micros(prev_ts.cast("timestamp"))
    is_new = F.when(
        prev_ts.isNull() | ((ts_micros - prev_micros) > gap_s * 1_000_000),
        1,
    ).otherwise(0)
    with_sess = df.withColumn("session_seq", F.sum(is_new).over(w))
    return (
        with_sess.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        )
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
) -> DataFrame:
    """Native F.session_window variant — identical semantics to
    sessionize() for batch, and directly usable under readStream with
    withWatermark for streaming late-data handling."""
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(user_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            user_col,
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def funnel(df: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered funnel analysis: per user, the earliest time each step was
    reached GIVEN the previous step had already been reached earlier
    (strictly increasing timestamps step to step).

    One conditional-min aggregation per step over a single shuffle on the
    user key: step k's time is min(ts of step-k events after t_{k-1}),
    computed by re-aggregating the same grouped frame — Spark reuses the
    exchange across the chained aggs. Output: one row per funnel stage
    with the users-reaching count and conversion from the previous stage
    (the shape of every product-analytics funnel report).
    """
    per_user = df.select(
        F.col("user_id").alias("u"), F.col("event_type").alias("t"),
        F.col("ts"),
    )
    # earliest time of step 0 per user, then iterate: each later step's
    # conditional min depends on the accumulated frame, expressed as a
    # sequence of joins on the user key (each reuses the same hash key)
    reached = per_user.filter(F.col("t") == steps[0]).groupBy("u").agg(
        F.min("ts").alias("t0")
    )
    for i, step in enumerate(steps[1:], start=1):
        nxt = (
            per_user.filter(F.col("t") == step)
            .join(reached.select("u", F.col(f"t{i-1}")), "u")
            .filter(F.col("ts") > F.col(f"t{i-1}"))
            .groupBy("u")
            .agg(F.min("ts").alias(f"t{i}"))
        )
        reached = reached.join(nxt, "u", "left")
    counts = reached.agg(
        *[
            F.count(F.col(f"t{i}")).alias(f"n{i}")
            for i in range(len(steps))
        ]
    ).first()
    rows = []
    for i, step in enumerate(steps):
        n = counts[f"n{i}"]
        prev = counts[f"n{i-1}"] if i else n
        rows.append(
            (i + 1, step, n, round(n / prev, 6) if prev else 0.0)
        )
    return df.sparkSession.createDataFrame(
        rows, ["stage", "step", "users_reached", "conversion_from_prev"]
    )


def extract_props_key(df: DataFrame, key: str = "k") -> DataFrame:
    """JSON prop extraction (get_json_object — JVM-side JSON path)."""
    return df.withColumn(
        f"prop_{key}",
        F.get_json_object(F.col("props"), f"$.{key}").cast("int"),
    )


def multi_resolution_rollup(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Hypertable-style continuous aggregate: an hourly rollup from raw
    events, and a daily rollup derived FROM THE HOURLY PARTIALS (sum of
    sums, sum of counts) — never re-reading raw.

    That re-aggregation property is the 100 TB pattern: the daily pass
    touches 24 rows per (day, group) instead of the raw corpus, and the
    same partials chain upward (day → month → year) at ~1/24th the input
    per level. Exact for decomposable aggregates (count/sum/min/max; use
    sketches for distinct counts). Returns (hourly, daily).
    """
    val = F.col("value").cast("decimal(18,4)")
    hourly = (
        df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
        )
        .agg(F.count("*").alias("n_events"), F.sum(val).alias("sum_value"))
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour_start")).alias("day_start"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
    )
    return hourly, daily


def resample_ffill(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Hourly resampling with gap filling and forward fill — the
    regularization step before feeding event metrics to downstream
    models: every (key, hour) bucket in each key's observed span exists
    in the output (n_events = 0 where nothing happened), and the hourly
    metric carries the last observed value forward across gaps.

    Plan: one groupBy (key, hour) over the events (map-side partials;
    the only pass over the big table), then a per-key min/max + an
    exploded hour spine — spine cardinality is keys × span-hours,
    independent of event count — left-joined back and forward-filled
    with last(ignorenulls) over a per-key window. The Window partitions
    by key over spine rows (bounded), never over raw events. Hourly
    means are decimal-exact (sum before divide) so results are
    partition-order independent.
    """
    hour = F.date_trunc("hour", F.col(ts_col))
    hourly = df.groupBy(
        F.col(key_col).alias("key"), hour.alias("h")
    ).agg(
        F.count("*").alias("n_events"),
        (
            F.sum(F.col(value_col).cast("decimal(18,4)")).cast("double")
            / F.count("*")
        ).alias("hour_avg"),
    )
    spine = (
        hourly.groupBy("key")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "key",
            F.explode(
                F.sequence(
                    F.col("h0"), F.col("h1"), F.expr("interval 1 hour")
                )
            ).alias("h"),
        )
    )
    joined = spine.join(hourly, ["key", "h"], "left")
    w = (
        Window.partitionBy("key")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col("key").alias(key_col),
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.round(
            F.last("hour_avg", ignorenulls=True).over(w), 6
        ).alias("value_ffill"),
    )


def mad_anomalies(
    df: DataFrame,
    key_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    threshold: float = 3.5,
) -> DataFrame:
    """Robust per-key anomaly detection via the modified z-score
    (Iglewicz–Hoaglin): 0.6745·|x − median| / MAD > threshold. Median
    and MAD resist the contamination that wrecks mean/stddev gating —
    the standard data-quality screen on metric streams before training
    aggregation.

    Plan: two grouped exact-percentile passes (median of values, then
    median of absolute deviations) — each one shuffle on the key with
    map-side partials — and the tiny per-key stats broadcast back for
    the final map-side flag filter; the events table itself shuffles
    zero times (scored via broadcast joins). At extreme scale swap the
    exact percentile for approx_percentile and the plan shape is
    unchanged (documented, not defaulted: exactness keeps the oracle).
    """
    med = df.groupBy(F.col(key_col).alias("key")).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    dev = df.join(
        F.broadcast(med), df[key_col] == F.col("key")
    ).select(
        df[id_col].alias("id"),
        df[key_col].alias("k"),
        df[value_col].alias("v"),
        F.abs(df[value_col] - F.col("med")).alias("dev"),
        F.col("med"),
    )
    mad = dev.groupBy(F.col("k").alias("key")).agg(
        F.expr("percentile(dev, 0.5)").alias("mad"),
        F.avg("dev").alias("meanad"),
    )
    # Iglewicz–Hoaglin degenerate-distribution fallback: MAD = 0
    # whenever >= half the group's values are identical, which used to
    # suppress EVERY anomaly for that key — exactly the corruption shape
    # ([5,5,5,5,1e6]) the screen exists to catch. Their recommended
    # substitute is the mean absolute deviation about the median:
    # Mi = |x − med| / (1.253314·meanAD). Both zero → no spread at all,
    # nothing flags (z stays null and drops at the filter).
    z = F.when(
        F.col("mad") > 0, F.lit(0.6745) * F.col("dev") / F.col("mad")
    ).otherwise(
        F.when(
            F.col("meanad") > 0,
            F.col("dev") / (F.lit(1.253314) * F.col("meanad")),
        )
    )
    return (
        dev.join(F.broadcast(mad), dev["k"] == mad["key"])
        .filter(z > threshold)
        .select(
            F.col("id").alias(id_col),
            F.col("k").alias(key_col),
            F.col("v").alias(value_col),
            F.round(F.col("med"), 6).alias("median"),
            F.round(F.col("mad"), 6).alias("mad"),
            # RAW double, no pre-rounding (r14, found by the sf0.1 full
            # gate): rounding to 4 decimals baked a representation tie
            # into the output — 0.6745*dev/mad landed EXACTLY on a
            # .xxxx5 boundary and Spark/DuckDB resolved it 1 ulp apart
            # (3.8522 vs 3.8523). The comparison layer canonicalizes
            # floats at 9 decimals, which absorbs ulp noise; baking a
            # coarser round into the engine output just manufactures
            # tie-points.
            z.alias("mod_zscore"),
        )
    )


def cohort_retention(df: DataFrame) -> DataFrame:
    """Weekly cohort-retention matrix in long form: users are cohorted by
    the ISO week of their FIRST event; each later active week counts them
    once at its week offset. The product-analytics staple
    (cohort_week, week_offset, active_users, cohort_size,
    retention_rate).

    Plan: first-seen is one min-aggregate on user (shuffle 1); activity
    weeks dedup to (user, week) pairs (shuffle 2, collapses event volume
    to at most users x weeks); the cohort join is ON USER between two
    user-keyed frames (co-partitioned by AQE); the final matrix aggregate
    is over (cohort_week, offset) — tiny. Event rows are never joined
    pairwise; everything after shuffle 2 is user-cardinality, not
    event-cardinality. Offsets are whole weeks from the cohort week's
    Monday (date_trunc 'week'), capped at 12.
    """
    # ONE event scan: the deduped (user, week) frame is checkpointed and
    # feeds BOTH the cohort derivation and the activity join (without it
    # Catalyst recomputes the distinct from the raw events for each
    # consumer — a second full scan). first_seen derives from it because
    # date_trunc is monotone: min(trunc(ts)) == trunc(min(ts)).
    active = (
        df.select(
            F.col("user_id").alias("u"),
            F.date_trunc("week", F.col("ts")).cast("date").alias("active_week"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    first_seen = active.groupBy("u").agg(
        F.min("active_week").alias("cohort_week")
    )
    joined = active.join(first_seen, "u").select(
        "u",
        "cohort_week",
        (F.datediff("active_week", "cohort_week") / 7).cast("int").alias(
            "week_offset"
        ),
    )
    cohort_sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    matrix = (
        joined.where(F.col("week_offset") <= 12)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )
    return matrix.join(cohort_sizes, "cohort_week").select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "active_users",
        "cohort_size",
        F.round(
            F.col("active_users") / F.col("cohort_size").cast("double"), 6
        ).alias("retention_rate"),
    )


def transition_matrix(df: DataFrame) -> DataFrame:
    """First-order Markov transition frequencies between consecutive
    event types within each user's timeline: (from_type, to_type, n,
    probability). The behavioral-model fit step (next-action prediction,
    anomalous-sequence detection).

    Plan: ONE window shuffle partitioned by user (bounded partitions —
    a user's history, never the global stream) computing lag; then a tiny
    (from, to) aggregate. probability normalizes per from-type via a
    second small aggregate joined back — all on type-cardinality frames.
    Ties in ts order break on the event id to keep the sequence total.
    """
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    # checkpoint the tiny (|types|² rows) pair counts: totals and the
    # normalization join both consume them, and without it the lag window
    # over the FULL event stream runs twice
    pairs = (
        df.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return pairs.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("row_total").cast("double"), 6).alias(
            "probability"
        ),
    )


def attribute_last_touch(df: DataFrame) -> DataFrame:
    """Last-touch attribution: for every conversion event, the most
    recent preceding touch event by the same user, attributed when it
    falls within the lookback window — the marketing-analytics join that
    normally gets written as an O(n²) self-join; here it is ONE
    user-partitioned window pass.

    Plan: a single window shuffle on user (bounded partitions — one
    user's timeline); ``last(touch_ts) IGNORE NULLS`` over rows up to the
    previous event carries the latest touch forward, so no self-join, no
    re-scan, event-cardinality output filtered to conversions map-side
    after the window. (ts, id) tiebreak keeps the sequence total.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    with_touch = df.withColumn(
        "last_touch_ts", F.last(touch_ts, ignorenulls=True).over(w)
    )
    conv = with_touch.where(F.col("event_type") == "purchase")
    # exact integer micros, then one division — engine-portable (a
    # double-cast timestamp difference would hinge on each engine's
    # ns-truncation flavor). cast("timestamp") first: unix_micros
    # rejects TIMESTAMP_NTZ (the same guard sessionize/attribute_
    # time_decay/kaplan_meier apply — this was the one call site
    # missing it, code-review r9 catch).
    gap = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("last_touch_ts").cast("timestamp"))
    ) / F.lit(1_000_000.0)
    return conv.select(
        F.col("event_id").alias("conversion_id"),
        F.col("user_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("conversion_ts"),
        F.date_format("last_touch_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "last_touch_ts"
        ),
        F.round(gap, 6).alias("seconds_since_touch"),
        (
            F.col("last_touch_ts").isNotNull()
            & (gap <= F.lit(7 * 24 * 3600.0))
        ).alias("attributed"),
    )


def seasonal_anomalies(df: DataFrame) -> DataFrame:
    """Seasonal-baseline anomaly screen: each event's value is judged
    against the mean/stddev of ITS OWN (event_type, hour-of-day) cell —
    the diurnal-pattern complement of the global/grouped MAD screen
    (mad_anomalies): a value normal at peak hour can be anomalous at 4am.

    Plan: one tiny (type, hour) aggregate (|types| x 24 rows) with
    DECIMAL moment sums (mean and population stddev derive from exact
    Sx/Sxx, so the baselines are partitioning-invariant and engine-
    identical); the baseline broadcasts back onto the events via a
    map-side join — the event stream itself never shuffles. Returns
    flagged rows with their z-score.
    """
    dec = "decimal(19,4)"
    x = F.col("value").cast(dec)
    hour = F.hour("ts")
    base = (
        df.where(F.col("value").isNotNull())
        .groupBy(F.col("event_type").alias("t"), hour.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(x * x).alias("sxx"),
        )
        .select(
            "t",
            "h",
            "n",
            (F.col("sx").cast("double") / F.col("n").cast("double")).alias(
                "mu"
            ),
            (
                F.sqrt(
                    F.col("n").cast("double") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
                / F.col("n").cast("double")
            ).alias("sigma"),
        )
    )
    joined = df.join(
        F.broadcast(base),
        (F.col("event_type") == F.col("t")) & (F.hour("ts") == F.col("h")),
    )
    zscore = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        joined.where(
            (F.col("sigma") > 0) & (F.abs(zscore) > F.lit(3.0))
        )
        .select(
            F.col("event_id"),
            F.col("event_type"),
            F.col("h").alias("hour_of_day"),
            F.col("value"),
            F.round("mu", 6).alias("seasonal_mean"),
            F.round("sigma", 6).alias("seasonal_std"),
            F.round(zscore, 6).alias("zscore"),
        )
    )


def ewma_by_group(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Exponentially-weighted moving average per series — the classic
    smoothing/monitoring signal, computed as an ORDER-SENSITIVE fold:
    s_0 = x_0, s_t = alpha*x_t + (1-alpha)*s_{t-1} (pandas
    ewm(adjust=False) semantics).

    Spark has no ordered-aggregate fold, so the series is bucketed
    (group, time-bucket) -> exact decimal mean, gathered with
    sort_array(collect_list(struct(bucket, mean))) and folded by the JVM
    higher-order ``aggregate`` — one shuffle on (group, bucket), one on
    group; the collected list is series-length (buckets), not raw-event,
    sized, so state is bounded by the time range, never the event count.
    The fold is deterministic: list order is total (bucket asc) and the
    arithmetic is sequential IEEE — which is what lets DuckDB's
    ``list_reduce`` reproduce it bit-for-bit as an oracle.

    Output: (group_key, n_points, ewma) with ewma rounded to 6dp.
    """
    b = (
        df.groupBy(
            F.col(group_col).alias("group_key"),
            F.date_trunc("hour", F.col(ts_col)).alias("h"),
        )
        .agg(
            (
                F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
    )
    series = b.groupBy("group_key").agg(
        F.sort_array(F.collect_list(F.struct("h", "m"))).alias("pts")
    )
    ms = F.transform(F.col("pts"), lambda p: p["m"])
    folded = F.aggregate(
        F.slice(ms, 2, F.greatest(F.size(ms) - 1, F.lit(0))),
        F.element_at(ms, 1),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    return series.select(
        "group_key",
        F.size("pts").alias("n_points"),
        F.round(folded, 6).alias("ewma"),
    )


def sessionize_bucketed(df: DataFrame) -> DataFrame:
    """Whale-proof sessionization: IDENTICAL semantics to
    :func:`sessionize` (same gap rule, same (ts, event_id) tie order,
    same session_seq numbering — the driver value-checks both against
    the same oracle) but no task ever sorts one user's full history.

    The plain lag+cumsum window partitions by user, so one whale user
    (the skew probe's 90%-hot case) serializes into a single task's
    sort. This variant is the standard two-level scan (the same shape
    pack_documents uses for single-shard corpora):

    1. sessionize WITHIN (user, time-bucket) — partitions are bounded
       by per-bucket activity, not per-user history;
    2. stitch at bucket boundaries on the per-(user, bucket) SUMMARY
       frame (one row per active bucket — bounded by the time range /
       bucket width, independent of event count): bucket k merges into
       the previous ACTIVE bucket when the boundary gap <= gap, and the
       global session number is
       sum(sessions before k) - sum(links through k) + local_seq —
       exact, no approximation.

    The only remaining per-user state is the summary window (#active
    buckets rows). The 6-hour bucket is >> the 30-minute gap; correctness
    does not depend on it (oracle-proven), only the skew bound does.
    """
    gap_us = 30 * 60 * 1_000_000
    ts = F.col("ts").cast("timestamp")
    tsu = F.unix_micros(ts)
    base = df.select(
        F.col("user_id").alias("u"),
        F.col("ts"),
        "event_id",
        tsu.alias("__tsu"),
        F.floor(tsu / F.lit(6 * 3600 * 1_000_000)).alias("__b"),
    )
    w_in = Window.partitionBy("u", "__b").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    prev = F.lag("__tsu").over(w_in)
    is_new = F.when(
        prev.isNull() | ((F.col("__tsu") - prev) > gap_us), 1
    ).otherwise(0)
    ev = base.withColumn("__local", F.sum(is_new).over(w_in))
    summ = ev.groupBy("u", "__b").agg(
        F.min("__tsu").alias("__first"),
        F.max("__tsu").alias("__last"),
        F.max("__local").alias("__n"),
    )
    w_b = Window.partitionBy("u").orderBy("__b")
    prev_last = F.lag("__last").over(w_b)
    link = F.when(
        prev_last.isNotNull() & ((F.col("__first") - prev_last) <= gap_us), 1
    ).otherwise(0)
    base_expr = (
        F.coalesce(
            F.sum("__n").over(w_b.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        - F.sum(link).over(w_b.rowsBetween(Window.unboundedPreceding, 0))
    )
    offsets = summ.select("u", "__b", base_expr.alias("__base"))
    sessioned = ev.join(offsets, ["u", "__b"]).select(
        F.col("u").alias("user_id"),
        "ts",
        (F.col("__base") + F.col("__local")).alias("session_seq"),
    )
    return sessioned.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )


def acf_daily(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation function of the daily metric total at lags
    1..max_lag — the seasonality detector behind every forecasting /
    anomaly pipeline (a strong lag-7 spike = weekly cycle; use it to
    pick the seasonal period instead of guessing).

    The series densifies to a gap-free day spine first (missing days
    are a true total of 0): lead(c, l) over the observed-days frame
    silently turns day-lags into ROW-lags on any calendar gap — a
    weekday-only series would report its weekly spike at lag 5 instead
    of 7 (code-review r9 catch; same spine as seasonal_decompose_daily,
    including its corrupt-timestamp span guard).

    acf(l) = Σ_t (y_t − ȳ)(y_{t+l} − ȳ) / Σ_t (y_t − ȳ)²  over the
    day-indexed series, the standard biased estimator (denominator =
    full-series sum of squares, so acf(0) = 1 and |acf| <= 1).

    Scale shape: ONE shuffle aggregates events to the per-day summary
    frame with a decimal-exact total (identical across engines and
    partitionings); everything after — the lead windows, the global
    sums — runs on that calendar-bounded frame (rows = #days, whatever
    the event count). Output: (lag, n_pairs, acf).
    """
    day = F.to_date(F.col(ts_col)).alias("d")
    daily = df.groupBy(day).agg(
        F.sum(F.col(value_col).cast("decimal(18,4)"))
        .cast("double")
        .alias("y")
    )
    cal = _day_spine(daily, 36_600, "acf_daily").select(
        "d", F.coalesce("y", F.lit(0.0)).alias("y")
    )
    mean = cal.agg(F.avg("y").alias("m"))
    centered = cal.crossJoin(F.broadcast(mean)).select(
        "d", (F.col("y") - F.col("m")).alias("c")
    )
    # calendar-bounded summary frame: the global-order window is over
    # #days rows, never event rows
    w = Window.orderBy("d")
    leads = centered.select(
        "c",
        *[
            F.lead("c", lag).over(w).alias(f"c{lag}")
            for lag in range(1, max_lag + 1)
        ],
    )
    denom = F.sum(F.col("c") * F.col("c"))
    aggs = leads.agg(
        denom.alias("ss"),
        *[
            F.sum(F.col("c") * F.col(f"c{lag}")).alias(f"num{lag}")
            for lag in range(1, max_lag + 1)
        ],
        *[
            F.count(F.col(f"c{lag}")).alias(f"n{lag}")
            for lag in range(1, max_lag + 1)
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(lag).alias("lag"),
                F.col(f"n{lag}").cast("bigint").alias("n_pairs"),
                F.round(
                    F.try_divide(F.col(f"num{lag}"), F.col("ss")), 6
                ).alias("acf"),
            )
            for lag in range(1, max_lag + 1)
        ]
    )
    return aggs.select(F.inline(pairs))


def _day_spine(
    daily: DataFrame, max_spine_days: int, op_name: str
) -> DataFrame:
    """Densify a (d date, ...) daily frame to a gap-free calendar from
    min(d) to max(d) — days absent from the input carry null metric
    columns (callers coalesce if a missing day means 0). Shared by every
    day-indexed operator whose lags/windows must be CALENDAR offsets
    (seasonal_decompose_daily, acf_daily): row-offset windows over a
    gappy frame silently turn day-lags into row-lags.

    Spine-span guard: one corrupt far-future/past timestamp (e.g. year
    9999) would make the sequence exceed Spark's max array length and
    kill the whole job with an opaque error. Fail loudly instead, with
    the actual span in the message; the check rides INSIDE the `hi`
    expression the sequence consumes, so column pruning can't drop it.
    """
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    span = F.datediff("hi", "lo")
    hi_checked = F.when(
        span > max_spine_days,
        F.raise_error(
            F.concat(
                F.lit(f"{op_name}: day spine spans "),
                span.cast("string"),
                F.lit(
                    f" days (> max_spine_days={max_spine_days}) — "
                    "likely corrupt timestamps; filter the input"
                ),
            )
        ).cast("date"),
    ).otherwise(F.col("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", hi_checked)).alias("d")
    )
    return spine.join(daily, "d", "left")


def seasonal_decompose_daily(
    df: DataFrame,
    period: int = 7,
    max_spine_days: int = 36_600,
) -> DataFrame:
    """Classical additive seasonal decomposition of the daily metric
    total (the moving-average method behind STL's initial pass):
    y = trend + seasonal + residual, with

    - trend: centered ``period``-day moving average over a DENSIFIED
      calendar (a day spine from min to max date, so ROWS offsets are
      true day offsets and calendar gaps can't silently widen the
      window); null at the edges / around missing days where the
      window is incomplete — no fabricated trend. Even ``period`` uses
      the classical 2×period centered MA (half-weight endpoints over
      period+1 days), the standard way to keep the average centered;
    - seasonal: the per-phase mean of the detrended series (phase =
      epoch-day mod period, engine-portable — weekday when period=7),
      re-centered to sum to zero across phases so trend keeps the
      level;
    - residual: what's left — the input for anomaly screens after the
      cycle is explained (mad/seasonal_anomalies judge raw values;
      this explains the weekly cycle first).

    Scale shape: one decimal-exact shuffle to the per-day frame;
    the moving-average window, the period-phase aggregate (``period``
    rows) and the final join all run on calendar-bounded frames.
    """
    day = F.to_date(F.col("ts")).alias("d")
    daily = df.groupBy(day).agg(
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("y")
    )
    # Densify to a gap-free day spine so the ROWS window spans exactly
    # `period` CALENDAR days (a ROWS window over a gappy daily frame
    # silently widens the moving average across missing days). Spine
    # days with no data carry null y: they never fabricate trend (the
    # presence count below excludes them) and are dropped at the end.
    cal = _day_spine(daily, max_spine_days, "seasonal_decompose_daily")
    half = period // 2
    w = Window.orderBy("d").rowsBetween(-half, half)
    if period % 2 == 0:
        # classical 2x(period) centered MA: the (period+1)-row window
        # with half-weight endpoints — count==period is never true in
        # the interior of an even-period window (it holds period+1
        # rows), which is exactly the bug this branch replaces.
        wrow = Window.orderBy("d")
        ylo = F.lag("y", half).over(wrow)
        yhi = F.lead("y", half).over(wrow)
        trend = F.when(
            F.count("y").over(w) == period + 1,
            (F.sum("y").over(w) - (ylo + yhi) / 2) / period,
        )
    else:
        trend = F.when(
            F.count("y").over(w) == period, F.avg("y").over(w)
        )
    phase = (
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) % period
    ).alias("phase")
    based = cal.select(
        "d", "y", phase, trend.alias("trend")
    ).withColumn("det", F.col("y") - F.col("trend"))
    by_phase = based.groupBy("phase").agg(
        F.avg("det").alias("s_raw")
    )
    centering = by_phase.agg(F.avg("s_raw").alias("s_mean"))
    seasonal = by_phase.crossJoin(F.broadcast(centering)).select(
        "phase", (F.col("s_raw") - F.col("s_mean")).alias("seasonal")
    )
    return (
        based.filter(F.col("y").isNotNull())
        .join(F.broadcast(seasonal), "phase")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("phase").cast("int").alias("phase"),
            F.round("y", 4).alias("y"),
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(
                F.col("y") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
    )


def attribute_time_decay(
    df: DataFrame,
    window_seconds: int = 24 * 3600,
    half_life_seconds: int = 6 * 3600,
) -> DataFrame:
    """Time-decay MULTI-touch attribution: every touch in the lookback
    window shares a conversion's value, weighted exp(−Δt·ln2/half_life)
    and normalized per conversion — the standard refinement of
    last-touch (which hands 100% to the final click; see
    :func:`attribute_last_touch`) when several channels assist.

    The touch-to-conversion pairing is a (user, time-range) join. A
    bare inequality join degenerates to a nested-loop product, and even
    a user-equi join serializes a whale user's touches×conversions; so
    the range is BUCKETIZED like relational.bucketed_range_join, with
    the user IN the join key: each conversion's window covers at most 2
    buckets of width = window_seconds, each touch lands in exactly 1,
    and the join is a hash join on (user, bucket) + the exact range
    predicate. Per-conversion weight totals come from one
    conversion-keyed aggregate joined back (bounded groups).

    Output per channel (touch event_type): n_touches, attributed
    conversions reached, credited value (4dp).
    """
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    w_us = window_seconds * 1_000_000
    touches = df.where(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("channel"),
        tsu.alias("t_us"),
        F.floor(tsu / w_us).alias("bkt"),
    )
    convs = df.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("conv_id"),
        tsu.alias("c_us"),
        F.col("value").cast("double").alias("val"),
    )
    conv_b = convs.withColumn(
        "bkt",
        F.explode(
            F.sequence(
                F.floor((F.col("c_us") - w_us) / w_us),
                F.floor(F.col("c_us") / w_us),
            )
        ),
    )
    pairs = touches.join(conv_b, ["u", "bkt"]).where(
        (F.col("t_us") < F.col("c_us"))
        & (F.col("t_us") >= F.col("c_us") - w_us)
    )
    dt_sec = (F.col("c_us") - F.col("t_us")) / 1_000_000.0
    weighted = pairs.select(
        "channel",
        "conv_id",
        "val",
        F.exp(-dt_sec * F.log(F.lit(2.0)) / half_life_seconds).alias("w"),
    ).localCheckpoint(eager=True)  # totals + credit both consume it
    totals = weighted.groupBy("conv_id").agg(F.sum("w").alias("w_sum"))
    credited = weighted.join(totals, "conv_id").select(
        "channel",
        "conv_id",
        (F.col("val") * F.col("w") / F.col("w_sum")).alias("credit"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.countDistinct("conv_id").cast("bigint").alias("n_conversions"),
        F.round(F.sum("credit"), 4).alias("credited_value"),
    )


def daily_user_accounting(df: DataFrame) -> DataFrame:
    """Daily new / returning / cumulative-distinct user accounting —
    the growth dashboard's backbone. The naive formulation (COUNT
    DISTINCT over an ever-growing window) needs running set state; the
    scale-correct identity used here: cumulative distinct users at day
    d == users whose FIRST event day <= d. So:

    - one (user) shuffle for first_day per user;
    - one (day, user) -> day two-level aggregate for daily actives
      (distinct within day only — bounded state);
    - new(d) = count of first_day == d, cum(d) = prefix sum of new over
      the calendar-bounded daily frame, returning = active − new.

    Exact (no sketch), every window on the #days summary frame.
    """
    day = F.to_date(F.col("ts"))
    first_day = (
        df.groupBy(F.col("user_id").alias("u"))
        .agg(F.min(day).alias("d0"))
        .groupBy("d0")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    active = (
        df.select(day.alias("d"), F.col("user_id").alias("u"))
        .distinct()
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    out = (
        active.join(
            first_day.withColumnRenamed("d0", "d"), "d", "left"
        )
        .withColumn("n_new", F.coalesce("n_new", F.lit(0)))
        # calendar-bounded summary frame: #days rows
        .withColumn("cum_users", F.sum("n_new").over(w))
    )
    return out.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("n_new").cast("bigint").alias("n_new"),
        (F.col("n_active") - F.col("n_new")).cast("bigint").alias(
            "n_returning"
        ),
        F.col("cum_users").cast("bigint").alias("cum_users"),
    )
