"""Sampling and dataset splitting for training-data pipelines.

- hash_split: deterministic, engine-portable train/test assignment from
  md5(salt || id) — reproducible across runs, clusters, and engines (the
  oracle recomputes the identical assignment), with no shuffle and no
  stored split table. Fixed-width lowercase hex compares lexicographically
  == numerically, so the threshold is a plain string compare inside
  codegen.
- group_safe_split: same, keyed on a GROUP column (e.g. a content
  fingerprint or domain) so correlated rows land in the same side — the
  leakage guard: near-duplicate documents must never straddle train/test.
- stratified_sample: per-stratum Bernoulli sampling (sampleBy) — keeps
  class balance when downsampling; seeded, map-side, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hash_bucket(key: Column, salt: str) -> Column:
    """First 4 hex chars of md5(salt || key): 65536 buckets, uniform,
    identical in any engine with md5."""
    return F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 4)


def split_threshold(fraction: float) -> str:
    """The 4-hex-digit cutoff selecting ~fraction of buckets.

    Clamped to 65535+1 encoded as "g000": format(65536, '04x') is the
    FIVE-char "10000", which breaks the fixed-width lexicographic
    contract ("ffff" > "10000", so fraction=1.0 selected only the ~6%
    of buckets starting with "0" — code-review r9 catch). "g000" sorts
    above every 4-hex-digit bucket, so fraction=1.0 marks everything.
    """
    n = max(0, min(65536, round(fraction * 65536)))
    if n == 65536:
        return "g000"  # > every hex bucket: the whole space selected
    return format(n, "04x")


def hash_split(
    df: DataFrame,
    id_col: str,
    test_fraction: float = 0.1,
    salt: str = "split-v1",
    split_col: str = "split",
) -> DataFrame:
    """Add ``split_col`` ∈ {'test','train'}: test iff the id's hash bucket
    falls under the fraction cutoff. Changing ``salt`` draws a fresh
    independent split; keeping it pins membership forever (new data joins
    the same assignment — the property a growing training corpus needs)."""
    bucket = _hash_bucket(F.col(id_col), salt)
    thr = split_threshold(test_fraction)
    return df.withColumn(
        split_col,
        F.when(bucket < F.lit(thr), F.lit("test")).otherwise(F.lit("train")),
    )


def group_safe_split(
    df: DataFrame,
    group_col: str,
    test_fraction: float = 0.1,
) -> DataFrame:
    """hash_split keyed on ``group_col``: every row of a group gets the
    same side. Pair with dedup fingerprints/components so near-duplicates
    cannot leak across the split."""
    return hash_split(df, group_col, test_fraction, "split-v1", "split")


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli downsampling (e.g. cap the dominant language
    while keeping rare ones whole). Map-side filter per row — no shuffle;
    expected (not exact) per-stratum counts, like all Bernoulli sampling."""
    return df.sampleBy(stratum_col, fractions, seed)


def source_capped_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    cap: int,
    salt: str = "cap-v1",
) -> DataFrame:
    """Deterministic per-source cap: keep at most ``cap`` rows per source,
    chosen by md5(salt || id) order — the domain-balancing step of a
    web-scale corpus (no single crawl domain may dominate), reproducible
    across runs and engines.

    Plan: one hash-partitioned sort per source partition feeding a
    streaming row_number — rank ≤ cap filters map-side after the window.
    The window key is the source (high cardinality in a real crawl:
    millions of domains), so partitions stay small and sort-spill is rare;
    this is NOT the unbounded one-partition Window anti-pattern. Exact
    per-source counts, unlike Bernoulli sampling.
    """
    from pyspark.sql import Window

    order = _hash_bucket16(F.col(id_col), salt)
    w = (
        Window.partitionBy(F.col(source_col))
        .orderBy(order, F.col(id_col))
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= cap)
    )


def _hash_bucket16(key: Column, salt: str) -> Column:
    """Full md5 hex of salt || key: a deterministic, engine-portable sort
    key (lexicographic hex order == numeric order)."""
    return F.md5(F.concat(F.lit(salt), key.cast("string")))


def corpus_mixture_weights(
    df: DataFrame,
    group_cols: list,
    weight_col: Column,
) -> DataFrame:
    """Per-group corpus mixture report: total weight (e.g. token count),
    actual share of corpus, and the uniform-target resampling weight
    (target_share / actual_share — >1 means upsample, <1 downsample).
    The input to temperature/mixture reweighting when composing a
    training mix across (lang, source) slices.

    Plan: one groupBy shuffle with map-side partials over tiny rows, then
    a broadcast of the single-row grand total. Group count is bounded by
    the slice cardinality, never the corpus.
    """
    per_group = df.groupBy(*group_cols).agg(
        F.sum(weight_col).alias("group_weight"),
        F.count("*").alias("n_rows"),
    )
    total = per_group.agg(
        F.sum("group_weight").alias("total_weight"),
        F.count("*").alias("n_groups"),
    )
    return (
        per_group.crossJoin(F.broadcast(total))
        .withColumn(
            "actual_share",
            F.round(F.col("group_weight") / F.col("total_weight"), 6),
        )
        .withColumn(
            "uniform_weight",
            F.round(
                (F.col("total_weight") / F.col("n_groups"))
                / F.col("group_weight"),
                6,
            ),
        )
        .select(
            *group_cols,
            "group_weight",
            "n_rows",
            "actual_share",
            "uniform_weight",
        )
    )


def stratified_exact(
    df: DataFrame,
    stratum_cols: list,
    id_col: str,
    fraction: float,
    salt: str = "strat-v1",
) -> DataFrame:
    """EXACT-fraction stratified sample: every stratum contributes
    ceil(fraction · n_stratum) rows, chosen by md5(salt || id) order —
    deterministic across runs, partitionings, and engines (the oracle
    recomputes the identical choice), unlike Bernoulli ``sampleBy``
    whose per-stratum counts only hold in expectation.

    Plan: ONE shuffle on the stratum key feeding a per-stratum sort for
    row_number + a per-stratum count — both window functions share the
    same partitioning, so Catalyst plans a single Window over one
    Exchange. Stratum cardinality is the skew bound: per-language or
    per-source strata at web scale are large but each stratum sorts
    only its own rows (distributed across tasks by key), and the hash
    sort key is incompressible so there is no hot prefix.
    """
    from pyspark.sql import Window

    order = _hash_bucket16(F.col(id_col), salt)
    by = [F.col(c) for c in stratum_cols]
    w = Window.partitionBy(*by).orderBy(order, F.col(id_col))
    wc = Window.partitionBy(*by)
    # DECIMAL ceil: double arithmetic rounds fraction*n just above an
    # integer for many decimal fractions (0.07*100 = 7.000...001 →
    # ceil 8, one extra row kept AND an oracle mismatch — DuckDB's
    # CEIL(0.07*n) is decimal-exact). 10dp covers any sane fraction.
    k_exact = F.ceil(
        F.lit(fraction).cast("decimal(12,10)") * F.col("__n")
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(wc))
        .filter(F.col("__rn") <= k_exact)
        .drop("__rn", "__n")
    )


def temperature_weights(
    df: DataFrame,
    stratum_cols: list,
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-based (alpha-smoothed) multinomial resampling weights
    per stratum: q_s = p_s^alpha / Σ p^alpha where p_s is the stratum's
    raw share of rows. The standard low-resource-upweighting scheme for
    multilingual corpus mixing (alpha≈0.3 in the mC4/XLM lineage):
    alpha=1 keeps the natural distribution, alpha=0 is uniform.

    Output per stratum: n_rows, prob_raw (p), prob_temp (q), and
    resample_weight (q/p — the per-document sampling multiplier to feed
    a weighted sampler or epoch repeat factor). Ratios round to 6
    decimals per the engine's cross-engine float convention.

    Plan: one groupBy shuffle over stratum-cardinality rows, then two
    broadcast single-row reductions (total, normalizer) — in-plan
    scalars, no driver action, no second pass over the corpus.
    """
    per = df.groupBy(*stratum_cols).agg(F.count("*").alias("n_rows"))
    total = per.agg(F.sum("n_rows").alias("__total"))
    with_p = per.crossJoin(F.broadcast(total)).withColumn(
        "__p", F.col("n_rows") / F.col("__total")
    )
    z = with_p.agg(F.sum(F.pow(F.col("__p"), F.lit(alpha))).alias("__z"))
    q = F.pow(F.col("__p"), F.lit(alpha)) / F.col("__z")
    return (
        with_p.crossJoin(F.broadcast(z))
        .select(
            *stratum_cols,
            "n_rows",
            F.round(F.col("__p"), 6).alias("prob_raw"),
            F.round(q, 6).alias("prob_temp"),
            F.round(q / F.col("__p"), 6).alias("resample_weight"),
        )
    )


def weighted_sample_without_replacement(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wswr-v1",
) -> DataFrame:
    """Exact-size weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis A-ES, Inf. Process. Lett. 97(5), 2006): each row draws a key
    ln(u)/w (u uniform, w its weight) and the global top-k keys ARE a
    weighted sample without replacement — the distributed one-pass
    formulation of importance-weighted corpus selection (sample documents
    proportional to a quality/length weight, each at most once).

    u is deterministic from md5(salt || id): 13 hex chars → a 52-bit
    integer (+0.5, so u ∈ (0,1) exclusive — ln(0) guarded by
    construction), over 2^52. Reproducible across runs, partitionings,
    and engines — the oracle recomputes the identical draw. Rows with
    weight <= 0 or NULL are excluded (they can never be sampled).

    Plan: the key is a narrow map; top-k plans as TakeOrderedAndProject
    (per-partition k-heap + k-row driver merge) — no global sort shuffle,
    scale-invariant. Changing ``salt`` redraws; keeping it pins the
    sample under re-runs (idempotent pipeline restarts).
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 13
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 52))
    key = F.log(u) / F.col(weight_col).cast("double")
    # NaN guard: Spark orders NaN ABOVE every number and NaN > 0 is
    # true, so a NaN weight would pass eligibility and its NaN key
    # would win the descending sort — the k "sampled" rows would be
    # exactly the garbage-weight rows (code-review r9 catch).
    wd = F.col(weight_col).cast("double")
    eligible = df.where(
        F.col(weight_col).isNotNull() & ~F.isnan(wd) & (wd > 0)
    )
    # maximize u^(1/w) == maximize ln(u)/w  (ln(u) < 0): key DESC; id
    # tiebreak makes the order total (keys are continuous — ties are
    # hash collisions only, but determinism must not depend on that)
    return (
        eligible.withColumn("__es_key", key)
        .orderBy(F.col("__es_key").desc(), F.col(id_col))
        .limit(k)
        .drop("__es_key")
    )


def kfold_assignment(
    df: DataFrame,
    id_col: str,
    k: int = 5,
    salt: str = "fold-v1",
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    hash-bucket(id) mod k — engine-portable (md5), partitioning- and
    growth-stable like :func:`hash_split` (a row keeps its fold forever;
    new rows join uniformly). Use ``group_safe_split``'s keying idea
    (pass a group id as ``id_col``) when folds must not straddle groups.
    """
    bucket = F.conv(_hash_bucket(F.col(id_col), salt), 16, 10).cast("long")
    return df.withColumn("fold", (bucket % k).cast("int"))
