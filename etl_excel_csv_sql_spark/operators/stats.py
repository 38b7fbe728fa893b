"""Distributed statistics: contingency/independence and closed-form
regression — the profiling layer above relational.profile_table.

Everything is aggregate-only (one or two shuffles on low-cardinality
keys, map-side partials), so the plans scale with group counts, not row
counts. Engine parity discipline: all large sums run in DECIMAL (exact,
associative — independent of partitioning and addition order); doubles
appear only in the final few-term arithmetic, where both engines execute
the identical IEEE expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns: observed counts vs expected = row_total * col_total / N.

    Returns one row: (chi2, dof, n, n_cells). Plan: ONE (a, b) count
    aggregate (the contingency table, |A|x|B| rows); marginals derive
    from it (tiny re-aggregations); the statistic is a sum over cells.
    Zero-count cells contribute 0 observed but their expected mass is
    implicit in the marginal products — handled by summing over the
    OBSERVED cells plus correcting with N - sum(expected over observed):
    chi2 = sum_obs (O-E)^2/E + (N - sum_obs E), since every unobserved
    cell contributes exactly E ((0-E)^2/E = E).
    """
    # Listwise-drop null categories FIRST: groupBy keeps a null group
    # (it would count into N and the marginals) but the null-rejecting
    # equi-joins below drop those cells from the observed sum, so their
    # mass would re-enter as spurious "unobserved expected" correction —
    # a strongly-significant chi2 on independent data with nulls
    # (code-review r9 catch). dof's count_distinct ignores nulls, which
    # now matches.
    clean = df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
    # checkpoint the |A|x|B|-row contingency table: marginals, totals and
    # the cell join all consume it — without this the raw-table count
    # aggregate runs four times
    obs = (
        clean.groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=True)
    )
    row_m = obs.groupBy("a").agg(F.sum("o").alias("ra"))
    col_m = obs.groupBy("b").agg(F.sum("o").alias("cb"))
    tot = obs.agg(
        F.sum("o").alias("n"),
        F.count_distinct("a").alias("ka"),
        F.count_distinct("b").alias("kb"),
    )
    cells = (
        obs.join(row_m, "a")
        .join(col_m, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "o",
            "n",
            "ka",
            "kb",
            (
                F.col("ra").cast("double")
                * F.col("cb").cast("double")
                / F.col("n").cast("double")
            ).alias("e"),
        )
    )
    diff = F.col("o").cast("double") - F.col("e")
    return cells.groupBy("n", "ka", "kb").agg(
        F.round(
            F.sum(diff * diff / F.col("e"))
            + (
                F.first("n").cast("double") - F.sum("e")
            ),  # unobserved cells: each contributes exactly its expected mass
            6,
        ).alias("chi2"),
        F.count(F.lit(1)).alias("n_observed_cells"),
    ).select(
        "chi2",
        ((F.col("ka") - 1) * (F.col("kb") - 1)).cast("long").alias("dof"),
        F.col("n").cast("long").alias("n"),
        (F.col("ka") * F.col("kb")).cast("long").alias("n_cells"),
        "n_observed_cells",
    )


def linear_fit(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Simple OLS y = a + b*x in closed form from one aggregation pass.

    The moment sums (Sx, Sy, Sxx, Sxy, Syy) run in DECIMAL — exact and
    associative, so the result is independent of partitioning AND the
    slope's catastrophic cancellation (n*Sxy - Sx*Sy over near-equal
    magnitudes) happens on exact values, not on noise-carrying double
    sums. Only the final 5-term formula is double arithmetic, identical
    in any engine. Returns (n, slope, intercept, r2).
    """
    dec = "decimal(18,4)"
    x = F.col(x_col).cast(dec)
    y = F.col(y_col).cast(dec)
    m = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x_n = n * sxx - sx * sx
    var_y_n = n * syy - sy * sy
    slope = cov_n / var_x_n
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round((cov_n * cov_n) / (var_x_n * var_y_n), 6).alias("r2"),
    )


def correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations in long form (col_a, col_b, corr),
    upper triangle only — ONE aggregation pass computes every moment
    (k + k(k+1)/2 sums, all DECIMAL-exact and partitioning-invariant),
    then the tiny single-row frame explodes into pairs map-side. The
    feature-redundancy screen before model training; contrast with k²/2
    separate corr() jobs.

    Rows with a null in ANY requested column drop first (listwise
    deletion, the same contract linear_fit applies): n counted all rows
    while the moment sums skipped nulls, silently mixing row sets —
    corr(x, x) could exceed 1 or flip sign (code-review r9 catch)."""
    for c in cols:
        df = df.where(F.col(c).isNotNull())
    dec = "decimal(19,4)"
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast(dec)).alias(f"s_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(
                F.sum(F.col(a).cast(dec) * F.col(b).cast(dec)).alias(
                    f"p_{a}_{b}"
                )
            )
    m = df.agg(*aggs)

    n = F.col("n").cast("double")

    def cross(a: str, b: str):
        key = f"p_{a}_{b}" if f"p_{a}_{b}" in [
            f"p_{x}_{y}" for i, x in enumerate(cols) for y in cols[i:]
        ] else f"p_{b}_{a}"
        return n * F.col(key).cast("double") - F.col(f"s_{a}").cast(
            "double"
        ) * F.col(f"s_{b}").cast("double")

    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            corr = cross(a, b) / F.sqrt(cross(a, a) * cross(b, b))
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.round(corr, 6).alias("corr"),
                )
            )
    return m.select(F.inline(F.array(*pairs)))


def join_cardinality_estimate(
    left: DataFrame, right: DataFrame, left_key: str, right_key: str
) -> DataFrame:
    """Pre-flight join sizing WITHOUT materializing the join:
    |A JOIN B on k| = Σ_k cnt_A(k)·cnt_B(k), computed by joining the two
    GROUPED (key → count) frames — cost O(distinct keys), not O(join
    output). The guard a pipeline runs before an unfamiliar join that
    might explode (many-to-many key overlap); pairs with skew_report,
    which localizes WHICH keys are hot.

    Returns one row: (join_rows, matched_keys, max_key_contribution,
    left_rows, right_rows, expansion_factor = join_rows/left_rows).
    """
    la = left.groupBy(F.col(left_key).alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    rb = right.groupBy(F.col(right_key).alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    lt = F.broadcast(left.agg(F.count(F.lit(1)).alias("left_rows")))
    rt = F.broadcast(right.agg(F.count(F.lit(1)).alias("right_rows")))
    return (
        la.join(rb, "k")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).cast("long").alias("join_rows"),
            F.count(F.lit(1)).alias("matched_keys"),
            F.max(F.col("ca") * F.col("cb")).cast("long").alias(
                "max_key_contribution"
            ),
        )
        .crossJoin(lt)
        .crossJoin(rt)
        .select(
            "join_rows",
            "matched_keys",
            "max_key_contribution",
            "left_rows",
            "right_rows",
            F.round(
                F.col("join_rows") / F.col("left_rows").cast("double"), 6
            ).alias("expansion_factor"),
        )
    )


def ab_test_report(events: DataFrame) -> DataFrame:
    """Hash-randomized A/B experiment readout with a two-proportion
    z-test: users assign deterministically to control/treatment by the
    md5 bucket trick (same draw the split/sampling operators pin — the
    assignment is reproducible, engine-portable, and stable as new
    events arrive), conversion = any purchase event.

    Output (one row per variant + a 'lift' row): variant, n_users,
    n_converted, rate, and on the lift row the absolute lift and the
    z statistic  z = (p_t - p_c) / sqrt(p(1-p)(1/n_c + 1/n_t))  under
    the pooled null. Closed-form from 4 counts — one user-level
    aggregate then a 1-row combine; nothing about significance testing
    needs more than one pass at any scale.
    """
    from etl_excel_csv_sql_spark.operators.sampling import (
        _hash_bucket,
        split_threshold,
    )

    thr = split_threshold(0.5)
    per_user = (
        events.select(
            F.col("user_id").alias("u"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("c"),
        )
        .groupBy("u")
        .agg(F.max("c").alias("converted"))
        .select(
            F.when(
                _hash_bucket(F.col("u"), "ab-v1") < F.lit(thr), F.lit("treatment")
            )
            .otherwise(F.lit("control"))
            .alias("variant"),
            "converted",
        )
    )
    counts = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    variants = counts.select(
        "variant",
        "n_users",
        F.col("n_converted").cast("long").alias("n_converted"),
        F.round(
            F.col("n_converted") / F.col("n_users").cast("double"), 6
        ).alias("rate"),
        F.lit(None).cast("double").alias("lift"),
        F.lit(None).cast("double").alias("z_score"),
    )
    wide = (
        counts.groupBy()
        .pivot("variant", ["control", "treatment"])
        .agg(
            F.first("n_users").alias("n"),
            F.first("n_converted").alias("k"),
        )
    )
    nc = F.col("control_n").cast("double")
    nt = F.col("treatment_n").cast("double")
    kc = F.col("control_k").cast("double")
    kt = F.col("treatment_k").cast("double")
    pc = kc / nc
    pt = kt / nt
    pooled = (kc + kt) / (nc + nt)
    # degenerate experiments (everyone or no one converts -> pooled
    # variance 0) have no defined z: emit NULL, not a crash/Inf
    z = F.try_divide(
        pt - pc, F.sqrt(pooled * (1 - pooled) * (1 / nc + 1 / nt))
    )
    lift_row = wide.select(
        F.lit("lift").alias("variant"),
        (F.col("control_n") + F.col("treatment_n")).alias("n_users"),
        (F.col("control_k") + F.col("treatment_k"))
        .cast("long")
        .alias("n_converted"),
        F.round(pooled, 6).alias("rate"),
        F.round(pt - pc, 6).alias("lift"),
        F.round(z, 6).alias("z_score"),
    )
    return variants.unionByName(lift_row)


def benford_report(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic fraud/synthetic-data audit. Digit extraction is pure math
    (floor(v / 10^floor(log10 v))), not string formatting, so both
    engines agree bit-for-bit; expected shares are log10(1 + 1/d).

    One aggregate pass; the total enters as a broadcast scalar.
    Output: (digit, cnt, pct, benford_pct, abs_dev), 6dp.
    """
    v = F.col(value_col).cast("double")
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("int")
    d = df.filter(v > 0).select(digit.alias("digit"))
    tot = d.agg(F.count("*").alias("n"))
    pct = F.col("cnt") / F.col("n").cast("double")
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        d.groupBy("digit")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "cnt",
            F.round(pct, 6).alias("pct"),
            F.round(benford, 6).alias("benford_pct"),
            F.round(F.abs(pct - benford), 6).alias("abs_dev"),
        )
    )


def cuped_ab_report(events: DataFrame, split_ts: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    Walker, WSDM'13): the post-period metric Y is adjusted by the
    pre-period covariate X of the SAME user —
    ``Y' = Y − θ·(X − mean(X))`` with ``θ = cov(X, Y)/var(X)`` — which
    removes the between-user variance X predicts and shrinks the
    experiment's error bars at zero cost in bias (X predates assignment,
    so E[X|variant] is equal across arms).

    Everything is three bounded passes, no window, no per-user state:

    1. per-user aggregate — X = Σvalue before ``split_ts``, Y = Σvalue
       after, decimal-exact per the money convention; variant by the
       md5-bucket assignment (identical to :func:`ab_test_report`);
    2. one 1-row global aggregate → (θ, mean X) broadcast back;
    3. per-variant aggregate of Y and Y' → means and population
       variances, plus a 'delta' row with the raw and CUPED treatment
       effects and the pooled variance-reduction ratio.

    Output: (variant, n_users, mean_y, mean_y_cuped, var_y, var_y_cuped,
    var_reduction) for 'control'/'treatment'/'delta' (6dp; on the delta
    row the means carry the effect sizes and n_users the total).
    """
    from etl_excel_csv_sql_spark.operators.sampling import (
        _hash_bucket,
        split_threshold,
    )

    thr = split_threshold(0.5)
    pre = F.when(
        F.col("ts") < F.lit(split_ts).cast("timestamp"),
        F.col("value").cast("decimal(18,4)"),
    ).otherwise(F.lit(0).cast("decimal(18,4)"))
    post = F.when(
        F.col("ts") >= F.lit(split_ts).cast("timestamp"),
        F.col("value").cast("decimal(18,4)"),
    ).otherwise(F.lit(0).cast("decimal(18,4)"))
    per_user = (
        events.select(F.col("user_id").alias("u"), pre.alias("pre"), post.alias("post"))
        .groupBy("u")
        .agg(
            F.sum("pre").cast("double").alias("x"),
            F.sum("post").cast("double").alias("y"),
        )
        .select(
            F.when(
                _hash_bucket(F.col("u"), "ab-v1") < F.lit(thr), F.lit("treatment")
            )
            .otherwise(F.lit("control"))
            .alias("variant"),
            "x",
            "y",
        )
    )
    glob = per_user.agg(
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
    ).select(
        "mx",
        F.try_divide(
            F.col("mxy") - F.col("mx") * F.col("my"),
            F.col("mxx") - F.col("mx") * F.col("mx"),
        ).alias("theta"),
    )
    adj = per_user.crossJoin(F.broadcast(glob)).select(
        "variant",
        "y",
        (
            F.col("y")
            - F.coalesce(F.col("theta"), F.lit(0.0))
            * (F.col("x") - F.col("mx"))
        ).alias("y_adj"),
    )
    # variance radicands clamp at 0 (the ADVICE r6 FP-cancellation
    # guard winsorized_summary applies): near-constant y with a large
    # mean can cancel to a tiny NEGATIVE E[y²]−E[y]² in doubles, which
    # would flip var_reduction's sign / NaN a downstream sqrt
    per_variant = adj.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.avg("y").alias("my"),
        F.avg("y_adj").alias("mya"),
        F.greatest(
            F.avg(F.col("y") * F.col("y")) - F.avg("y") * F.avg("y"),
            F.lit(0.0),
        ).alias("vy"),
        F.greatest(
            F.avg(F.col("y_adj") * F.col("y_adj"))
            - F.avg("y_adj") * F.avg("y_adj"),
            F.lit(0.0),
        ).alias("vya"),
    )
    variants = per_variant.select(
        "variant",
        "n_users",
        F.round("my", 6).alias("mean_y"),
        F.round("mya", 6).alias("mean_y_cuped"),
        F.round("vy", 6).alias("var_y"),
        F.round("vya", 6).alias("var_y_cuped"),
        F.round(F.try_divide(F.lit(1.0) * F.col("vya"), F.col("vy")), 6).alias(
            "var_ratio"
        ),
    ).withColumn(
        "var_reduction", F.round(1.0 - F.col("var_ratio"), 6)
    ).drop("var_ratio")
    wide = per_variant.groupBy().pivot(
        "variant", ["control", "treatment"]
    ).agg(
        F.first("n_users").alias("n"),
        F.first("my").alias("my"),
        F.first("mya").alias("mya"),
        F.first("vy").alias("vy"),
        F.first("vya").alias("vya"),
    )
    pooled_vy = (
        F.col("control_vy") * F.col("control_n")
        + F.col("treatment_vy") * F.col("treatment_n")
    ) / (F.col("control_n") + F.col("treatment_n"))
    pooled_vya = (
        F.col("control_vya") * F.col("control_n")
        + F.col("treatment_vya") * F.col("treatment_n")
    ) / (F.col("control_n") + F.col("treatment_n"))
    delta = wide.select(
        F.lit("delta").alias("variant"),
        (F.col("control_n") + F.col("treatment_n")).alias("n_users"),
        F.round(F.col("treatment_my") - F.col("control_my"), 6).alias("mean_y"),
        F.round(F.col("treatment_mya") - F.col("control_mya"), 6).alias(
            "mean_y_cuped"
        ),
        F.round(pooled_vy, 6).alias("var_y"),
        F.round(pooled_vya, 6).alias("var_y_cuped"),
        F.round(1.0 - F.try_divide(pooled_vya, pooled_vy), 6).alias(
            "var_reduction"
        ),
    )
    return variants.unionByName(delta)


def kaplan_meier(events: DataFrame, horizon_hours: int = 24) -> DataFrame:
    """Kaplan–Meier survival curve over per-user activity lifetimes
    (Kaplan & Meier, JASA 1958) with right-censoring.

    A user's lifetime is the span between their first and last event,
    in whole hours. A user is an observed "death" (churn) only when
    their last event predates the corpus's global max timestamp by more
    than ``horizon_hours`` — otherwise they may still be active and the
    lifetime is right-censored at its current length. The estimator is
    the standard product-limit: S(t) = Π_{t_i <= t} (1 − d_i / n_i)
    with d_i churns at lifetime t_i and n_i users still at risk
    (lifetime >= t_i); censored users leave the risk set without
    contributing a factor.

    Scale shape: one shuffle on the user key (per-user min/max), then
    everything happens on the BY-DISTINCT-LIFETIME summary frame —
    bounded by the corpus time range in hours, independent of user and
    event counts — so the ordered cumulative windows below never see
    data-sized partitions. The global max timestamp and the user total
    ride as broadcast 1-row scalars. The survival product is computed
    as exp(Σ ln(factor)) (associativity-safe to FP noise ≪ the 6dp
    rounding); a zero factor (everyone remaining churns at t) is
    clamped to 1e-300 so both engines return a clean 0.0.
    """
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    per_user = events.groupBy(F.col("user_id").alias("u")).agg(
        F.min(tsu).alias("first_us"), F.max(tsu).alias("last_us")
    )
    gmax = per_user.agg(
        F.max("last_us").alias("gmax_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    horizon_us = horizon_hours * 3600 * 1_000_000
    enriched = per_user.crossJoin(F.broadcast(gmax)).select(
        F.floor((F.col("last_us") - F.col("first_us")) / (3600 * 1_000_000))
        .cast("bigint")
        .alias("dur_hours"),
        F.when(
            F.col("last_us") < F.col("gmax_us") - F.lit(horizon_us), 1
        )
        .otherwise(0)
        .alias("churned"),
        "n_users",
    )
    by_dur = enriched.groupBy("dur_hours", "n_users").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("churned").cast("bigint").alias("n_churned"),
    )
    # summary-frame windows: rows = distinct lifetimes (time-range bound)
    w_prev = Window.orderBy("dur_hours").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("dur_hours").rowsBetween(
        Window.unboundedPreceding, 0
    )
    at_risk = F.col("n_users") - F.coalesce(
        F.sum("n_total").over(w_prev), F.lit(0)
    )
    curve = by_dur.withColumn("n_at_risk", at_risk.cast("bigint"))
    factor = 1.0 - F.col("n_churned") / F.col("n_at_risk")
    surv = F.exp(
        F.sum(F.log(F.greatest(factor, F.lit(1e-300)))).over(w_cum)
    )
    return curve.select(
        "dur_hours",
        "n_at_risk",
        "n_churned",
        (F.col("n_total") - F.col("n_churned")).cast("bigint").alias(
            "n_censored"
        ),
        F.round(surv, 6).alias("survival"),
    )


def rfm_segmentation(orders: DataFrame, k: int = 4) -> DataFrame:
    """RFM customer segmentation (Hughes, "Strategic Database
    Marketing") — recency / frequency / monetary quartile scores and a
    segment label, built scale-safe.

    Per-customer metrics are one shuffle on the customer key: recency =
    days between the customer's last order and the corpus max order
    date (broadcast 1-row scalar), frequency = order count, monetary =
    decimal-exact revenue. Each k-tile score is NTILE(k) under a total
    order (metric, custkey) — but computed via
    :func:`relational.global_row_number` +
    :func:`relational.ntile_from_rank` (range-partitioned two-level
    rank) instead of the single-partition window native ntile plans, so
    the scoring step distributes at any customer count. Orderings put
    the BEST value last (most recent / most frequent / highest spend
    ⇒ score k). The driver's oracle runs native NTILE — proving the
    distributed rewrite bucket-for-bucket equal.
    """
    from etl_excel_csv_sql_spark.operators import relational

    odate = F.col("o_orderdate").cast("date")
    gmax = orders.agg(F.max(odate).alias("gmax_date"))
    per_cust = (
        orders.crossJoin(F.broadcast(gmax))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(F.first("gmax_date"), F.max(odate))
            .cast("bigint")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast(
                    "double"
                ),
                2,
            ).alias("monetary"),
        )
    )
    n = F.col("__n")
    totals = per_cust.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    scored = per_cust.crossJoin(F.broadcast(totals))
    specs = [
        ("r_score", [F.col("recency_days").desc(), F.col("c_custkey").asc()]),
        ("f_score", [F.col("frequency").asc(), F.col("c_custkey").asc()]),
        ("m_score", [F.col("monetary").asc(), F.col("c_custkey").asc()]),
    ]
    for out, order in specs:
        scored = relational.global_row_number(
            scored, order, out_col="__rank"
        ).withColumn(
            out, relational.ntile_from_rank(F.col("__rank"), n, k)
        ).drop("__rank")
    segment = (
        F.when(
            (F.col("r_score") >= 3)
            & (F.col("f_score") >= 3)
            & (F.col("m_score") >= 3),
            "champion",
        )
        .when(
            (F.col("r_score") >= 3) & (F.col("f_score") >= 2), "loyal"
        )
        .when(F.col("r_score") >= 3, "recent")
        .when(F.col("f_score") >= 3, "at_risk")
        .otherwise("hibernating")
    )
    return scored.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        segment.alias("segment"),
    )


def winsorized_summary(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
) -> DataFrame:
    """Per-group winsorized summary: clamp the value column to its
    group's exact [lower, upper] percentiles (linear interpolation —
    Spark ``percentile`` ≡ DuckDB ``quantile_cont``), then report the
    robust mean/stddev next to the clip diagnostics. Winsorization is
    the standard heavy-tail guard before z-scoring or model features —
    unlike trimming it keeps row counts stable.

    Two grouped aggregates on the same key (percentiles, then moments
    of the clamped value after a broadcast join of the per-group
    thresholds — group cardinality, not row cardinality) and zero
    windows. Engine-parity discipline: the clamped value and its square
    are cast to DECIMAL before SUM (exact, order-independent — the money
    convention), so the only residual cross-engine noise is a clip-
    boundary ulp on the interpolated threshold itself, ≪ the 6dp
    rounding; the population-variance radicand is clamped at 0 (the
    ADVICE r6 FP-cancellation guard).
    """
    v = F.col(value_col).cast("double")
    # Null values drop FIRST: percentiles skip nulls but count(lit(1))
    # counted them, deflating winsor_mean / corrupting winsor_std for
    # any group with nulls in value_col (code-review r9 catch).
    df = df.where(F.col(value_col).isNotNull())
    thresholds = df.groupBy(F.col(group_col).alias("g")).agg(
        F.percentile(v, F.lit(lower)).alias("p_lo"),
        F.percentile(v, F.lit(upper)).alias("p_hi"),
    )
    joined = df.select(F.col(group_col).alias("g"), v.alias("v")).join(
        F.broadcast(thresholds), "g"
    )
    clipped = F.least(F.greatest(F.col("v"), F.col("p_lo")), F.col("p_hi"))
    n = F.count(F.lit(1)).cast("bigint")
    sum_c = F.sum(clipped.cast("decimal(18,6)")).cast("double")
    sum_c2 = F.sum((clipped * clipped).cast("decimal(30,8)")).cast("double")
    mean = sum_c / n
    var_pop = F.greatest(sum_c2 / n - mean * mean, F.lit(0.0))
    return (
        joined.groupBy("g")
        .agg(
            n.alias("n"),
            F.round(F.first("p_lo"), 6).alias("clip_lo"),
            F.round(F.first("p_hi"), 6).alias("clip_hi"),
            F.sum((F.col("v") < F.col("p_lo")).cast("bigint")).alias(
                "n_clipped_low"
            ),
            F.sum((F.col("v") > F.col("p_hi")).cast("bigint")).alias(
                "n_clipped_high"
            ),
            F.round(mean, 6).alias("winsor_mean"),
            F.round(F.sqrt(var_pop), 6).alias("winsor_std"),
        )
        .withColumnRenamed("g", group_col)
    )


def pareto_abc(lineitem: DataFrame) -> DataFrame:
    """Pareto / ABC revenue classification of parts — the 80/20 working
    set every inventory and caching decision starts from: rank parts by
    revenue, take the running share of total, tag A (first 80% of
    revenue), B (to 95%), C (tail).

    Scale design: revenue per part is one decimal-exact shuffle; the
    running total uses :func:`relational.global_prefix_sum` (range
    partition + per-split running sum + broadcast offsets) — never a
    single-partition ORDER BY window — and because the prefix and the
    grand total are both EXACT decimals, the A/B boundary comparison is
    bit-identical in any engine and any partitioning (no FP boundary
    flips). The oracle runs the native windowed running sum.
    """
    from etl_excel_csv_sql_spark.operators import relational

    rev = lineitem.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("revenue")
    )
    order = [F.col("revenue").desc(), F.col("partkey").asc()]
    ranked = relational.global_row_number(rev, order, out_col="rank")
    with_prefix = relational.global_prefix_sum(
        ranked, order, "revenue", out_col="cum_revenue"
    )
    total = rev.agg(F.sum("revenue").alias("total"))
    # both operands are EXACT decimals small enough to be exact doubles
    # (< 2^53 quanta), so the double division — and therefore the A/B
    # class boundary comparison — is bit-identical across engines;
    # decimal/decimal division would instead round at an engine-chosen
    # result scale
    share = F.col("cum_revenue").cast("double") / F.col("total").cast(
        "double"
    )
    cls = (
        F.when(share <= 0.8, "A")
        .when(share <= 0.95, "B")
        .otherwise(F.lit("C"))
    )
    return (
        with_prefix.crossJoin(F.broadcast(total))
        .select(
            "partkey",
            "rank",
            F.col("revenue").cast("double").alias("revenue"),
            F.round(share, 6).alias("cum_share"),
            cls.alias("abc_class"),
        )
    )
