"""Relational breadth operators (SURVEY.md §2.3-2.5, §2.7).

The reference implements only scattered filters/projections/counts; Spark
gives the rest natively. These wrappers exist to (a) name each capability
for the operator inventory, (b) pin scale-safe defaults (decimal-exact
money aggregation, deterministic top-k tie-breaks, broadcast hints for
dimension joins).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Exact money arithmetic: sum doubles via decimal(18,4) so results are
#: bit-identical regardless of partitioning / add order (a double sum is
#: order-dependent; a decimal sum is associative). Cast back to double at
#: the end for a stable output schema.
def money_sum(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,4)")).cast("double")


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the input is underpartitioned for CPU-heavy
    per-row work (e.g. one small parquet file → one task → a 32-core
    executor running single-threaded). At production scale inputs carry
    ≥ cores partitions and this is a no-op; the round-robin shuffle it
    adds in the small-input case costs far less than the serialization it
    removes. Expensive per-row operators (simhash, minhash, shingling)
    call this on their input.

    The underpartitioned probe is plan METADATA, not an RDD: converting
    via ``df.rdd.getNumPartitions()`` materializes Python-conversion
    lineage on every call (this sits on the input path of every expensive
    text operator). Instead compare the optimizer's size estimate against
    ``target × maxPartitionBytes`` — the same arithmetic FilePartition
    planning uses to size scan splits, so the decision matches the
    partition count Spark would actually produce for a file scan, at the
    cost of a catalog-stats lookup only.

    Two probe caveats handled explicitly (would otherwise re-create the
    exact regressions this function prevents):

    - Plans WITHOUT stats (RDD-backed, in-memory relations) report the
      ``spark.sql.defaultSizeInBytes`` sentinel (Long.MaxValue), which the
      size test reads as "huge" and skips the spread — leaving an
      expensive operator on 1-2 partitions. In that ambiguous case only,
      fall back to the real partition count (paying the RDD conversion
      once, off the hot parquet path).
    - A frame that is already the output of a prior ``spread_for_compute``
      (top logical node = round-robin Repartition ≥ target) is returned
      as-is instead of re-shuffling on every call.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if _repartition_count(df) >= target:
        return df
    conf = spark._jsparkSession.sessionState().conf()
    size_bytes = int(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    if size_bytes >= int(str(conf.defaultSizeInBytes())):
        # stats unknown → the size probe is meaningless; ask the RDD
        if df.rdd.getNumPartitions() >= target:
            return df
        return df.repartition(target)
    max_pb = int(conf.filesMaxPartitionBytes())
    if size_bytes < target * max_pb:
        return df.repartition(target)
    return df


def _repartition_count(df: DataFrame) -> int:
    """numPartitions when the frame's top logical node is an explicit
    repartition (the shape a prior spread_for_compute leaves), else 0.
    Pure plan metadata — no RDD conversion, no job."""
    try:
        node = df._jdf.queryExecution().logical()
        if node.getClass().getSimpleName() in (
            "Repartition",
            "RepartitionByExpression",
        ):
            return int(node.numPartitions())
    except Exception:
        pass
    return 0


def project(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Configured column subset (CSVtoSQLimport.ps1:232-237). Catalyst
    pushes this into the scan (ReadSchema pruning)."""
    return df.select(*columns)


def filter_not_null_key(df: DataFrame, key: str) -> DataFrame:
    """PK-present filter (CSVtoSQLimport.ps1:229): skip rows whose key is
    null or empty string. Pushed into the source scan by Catalyst."""
    c = F.col(key)
    return df.filter(c.isNotNull() & (c.cast("string") != ""))


def top_k(
    df: DataFrame, order: Sequence[Column], k: int, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """Deterministic global top-k. Spark plans orderBy+limit as
    TakeOrderedAndProject: per-partition heap of k rows, then a k-row merge
    on the driver — no global sort shuffle even at 100 TB."""
    full_order = list(order) + [F.col(c) for c in tiebreak]
    return df.orderBy(*full_order).limit(k)


def top_k_per_group(
    df: DataFrame,
    group: Sequence[str],
    order: Sequence[Column],
    k: int,
) -> DataFrame:
    """Top-k within each group via row_number window — one shuffle on the
    group keys; AQE handles group-count skew. ``order`` must be a total
    order (include a unique tiebreak column) for deterministic output."""
    w = Window.partitionBy(*group).orderBy(*order)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def grouped_bounded_topk(
    df: DataFrame, group: Sequence[str], key: Column, k: int
) -> DataFrame:
    """Top-k per group WITHOUT a per-group single-partition sort.

    ``key`` is a struct column whose ascending lexicographic order defines
    the ranking (rank 1 = smallest; negate doubles for descending). Two
    phases of bounded aggregation:

      1. groupBy(group, spark_partition_id): map-side partial collect →
         sort → slice k. Each partition contributes at most k items per
         group it contains, so the shuffle carries ≤ partitions × groups × k
         structs — never the scored rows themselves.
      2. groupBy(group): flatten the ≤ partitions×k candidates, sort, slice
         k, posexplode to (item, rank).

    Contrast with row_number-over-Window.partitionBy(group): that plan
    shuffles EVERY scored row and sorts each group's entire score list in
    one task — with few groups (e.g. 5 query vectors against a 100 TB
    corpus) that is a single-partition sort of the whole corpus. Here task
    memory is bounded by the input partition size in phase 1 and by
    partitions×k in phase 2.

    Output: group columns + ``item`` (the key struct) + ``rank`` (1-based).
    """
    phase1 = (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy(*group, "__pid")
        .agg(F.slice(F.array_sort(F.collect_list(key)), 1, k).alias("__heap"))
    )
    phase2 = phase1.groupBy(*group).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__heap"))), 1, k).alias("__top")
    )
    return phase2.select(
        *group, F.posexplode("__top").alias("__pos", "item")
    ).select(*group, "item", (F.col("__pos") + 1).alias("rank"))


def broadcast_dim_join(
    fact: DataFrame, dim: DataFrame, on: Column | Sequence[str]
) -> DataFrame:
    """Fact ⋈ dimension with an explicit broadcast hint: the dimension is
    shipped to every executor and the fact table never shuffles. This is
    the join shape for region/nation/supplier/part at any scale factor."""
    return fact.join(F.broadcast(dim), on=on, how="inner")


def table_fingerprint(df: DataFrame) -> DataFrame:
    """One-row order/partition-independent content checksum:
    (n_rows, fingerprint) where fingerprint = Σ xxhash64(row) in
    DECIMAL(38,0) (exact, commutative — any row order, partitioning, or
    engine-side shuffle produces the same value).

    The data-migration validation tool: run on both sides of a pipeline
    move and compare two scalars instead of 100 TB of rows. Map-side
    partial sums → the shuffle carries one partial per partition.

    Columns are null-normalized before hashing: xxhash64 SKIPS null
    inputs, so without normalization ('a', NULL) and (NULL, 'a') hash
    identically and NULL-position corruption is invisible (ADVICE r2).
    Each column becomes struct(isnull, value) so null-ness at each
    position feeds the hash explicitly."""
    row_hash = F.xxhash64(
        *[
            F.struct(F.isnull(c).alias("n"), F.col(c).alias("v"))
            for c in df.columns
        ]
    )
    return df.agg(
        F.count("*").alias("n_rows"),
        F.sum(row_hash.cast("decimal(38,0)")).alias("fingerprint"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resilient equi join when BOTH sides are too large to broadcast
    and a few keys dominate: the big side adds a random salt in [0, salt),
    the small side explodes into all ``salt`` replicas, and the join runs
    on (key, salt) — splitting each hot key's rows across ``salt`` reducers
    at the cost of replicating the small side ``salt``-fold.

    AQE's skew-join split (on by default in session.py) handles most skew
    automatically by splitting oversized partitions; reach for explicit
    salting when a SINGLE key exceeds what one task can hold even after
    AQE splits, or on engines/configs without AQE. Output columns =
    big's columns + small's non-key columns (shared non-key names will
    collide — rename before joining).

    ``how`` is restricted to inner/left: under salting the small side
    exists in ``salt`` replicas, so a right/full join would emit every
    unmatched replica (salt-fold duplicate null-extended rows) and
    semi/anti joins drop the columns the final select needs — all
    silently wrong rather than obviously broken, hence the explicit
    guard.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'/'left', got {how!r}: the "
            "salt-replicated small side corrupts outer/semi/anti joins"
        )
    salted_big = big.withColumn(
        "__salt", (F.rand(seed=42) * salt).cast("int")
    )
    salted_small = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = salted_big.join(
        salted_small,
        on=(salted_big[big_key] == salted_small[small_key])
        & (salted_big["__salt"] == salted_small["__salt"]),
        how=how,
    )
    keep = [salted_big[c] for c in big.columns] + [
        salted_small[c] for c in small.columns if c != small_key
    ]
    return joined.select(*keep)


def bucketed_range_join(
    points: DataFrame,
    intervals: DataFrame,
    val_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval range join (val ∈ [lo, hi)) as a bucketized
    equi-join — the operator Spark lacks natively (a bare inequality-only
    join degenerates to BroadcastNestedLoopJoin, O(|points|·|intervals|)).

    Each interval explodes into the ~(hi-lo)/bucket_width buckets it
    overlaps; each point maps to exactly ONE bucket (floor(val/w)). The
    join is then a plain hash equi-join on the bucket id plus the exact
    range filter — work is Σ per-bucket |points|×|intervals| instead of
    the full cross product, and the shuffle key is an 8-byte long.
    ``bucket_width`` is the knob: ≈ the median interval width is a good
    default (≤1 extra bucket per interval, bounded duplication).

    Exactly one bucket contains each (point, interval) match, so no
    dedup pass is needed. ``how='left'`` keeps unmatched points (one
    null-extended row each, via a bucket-key left join then a match
    flag).
    """
    w = float(bucket_width)
    assert w > 0, "bucket_width must be positive"
    if how not in ("inner", "left"):
        raise ValueError(f"unsupported how: {how!r}")
    pb = points.withColumn("__pb", F.floor(F.col(val_col) / w).cast("long"))
    if how == "left":
        # Surrogate row id for the unmatched anti join — matching on the
        # point columns would be null-unsafe and would collapse duplicate
        # point rows. Checkpoint lazily so both consumers read ONE id
        # assignment (monotonically_increasing_id is nondeterministic).
        pb = pb.withColumn(
            "__pid", F.monotonically_increasing_id()
        ).localCheckpoint(eager=False)
    iv = intervals.withColumn(
        "__ib",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w).cast("long"),
                F.floor(F.col(hi_col) / w).cast("long"),
            )
        ),
    )
    in_range = (F.col(val_col) >= F.col(lo_col)) & (F.col(val_col) < F.col(hi_col))
    matched = (
        pb.join(iv, pb["__pb"] == iv["__ib"], "inner")
        .filter(in_range)
        .drop("__pb", "__ib")
    )
    if how == "inner":
        return matched
    unmatched = pb.join(matched.select("__pid"), "__pid", "left_anti").drop("__pb")
    for c in intervals.columns:
        unmatched = unmatched.withColumn(c, F.lit(None).cast(dict(iv.dtypes)[c]))
    return matched.unionByName(unmatched).drop("__pid")


def scd2_apply(
    dim: DataFrame,
    snapshot: DataFrame,
    key_cols: Sequence[str],
    tracked_cols: Sequence[str],
    effective_ts: Column,
    close_missing: bool = False,
) -> DataFrame:
    """Apply a full snapshot to a type-2 slowly-changing dimension.

    ``dim`` holds (keys, tracked attrs, valid_from, valid_to) with NULL
    valid_to marking current rows. Per key:

    - attrs changed (null-safe compare) → the current row closes at
      ``effective_ts`` and a new open row is inserted;
    - new key → open row inserted;
    - unchanged → untouched;
    - key absent from the snapshot → closed iff ``close_missing``.

    Plan: history rows pass through untouched; one full-outer hash join of
    CURRENT rows vs the snapshot on the keys (both sides narrow: keys +
    tracked attrs), then unions of projections. At 100 TB the join
    shuffles only the current generation — history (the bulk of an SCD2
    table) is never joined, and with both sides bucketed by key the join
    is co-located. Deterministic output for a deterministic
    ``effective_ts``.
    """
    keys = list(key_cols)
    tracked = list(tracked_cols)
    cur = dim.filter(F.col("valid_to").isNull())
    hist = dim.filter(F.col("valid_to").isNotNull())

    snap = snapshot.select(
        *[F.col(k).alias(f"__sk_{k}") for k in keys],
        *[F.col(t).alias(f"__sv_{t}") for t in tracked],
        F.lit(True).alias("__in_snap"),
    )
    key_match = [F.col(k).eqNullSafe(F.col(f"__sk_{k}")) for k in keys]
    join_cond = key_match[0]
    for m in key_match[1:]:
        join_cond = join_cond & m
    joined = cur.withColumn("__in_dim", F.lit(True)).join(
        snap, on=join_cond, how="full_outer"
    )
    # lit(True) base: with tracked_cols=[] (a keys-only presence
    # dimension) the fold would leave None and `~same_attrs` raised
    # TypeError; matching keys then count as unchanged, which is the
    # only sensible zero-attribute semantics
    same_attrs = F.lit(True)
    for t in tracked:
        same_attrs = same_attrs & F.col(t).eqNullSafe(F.col(f"__sv_{t}"))
    in_dim = F.col("__in_dim").isNotNull()
    in_snap = F.col("__in_snap").isNotNull()

    dim_cols = [*keys, *tracked, "valid_from", "valid_to"]
    # current rows that survive unchanged
    kept = joined.filter(in_dim & in_snap & same_attrs).select(*dim_cols)
    # current rows closed: attrs changed, or key gone (when close_missing)
    close_cond = (in_dim & in_snap & ~same_attrs) | (
        (in_dim & ~in_snap) if close_missing else F.lit(False)
    )
    closed = joined.filter(close_cond).select(
        *keys, *tracked, F.col("valid_from"), effective_ts.alias("valid_to")
    )
    # new open rows: changed attrs (new version) or brand-new key
    opened = joined.filter(in_snap & (~in_dim | ~same_attrs)).select(
        *[F.col(f"__sk_{k}").alias(k) for k in keys],
        *[F.col(f"__sv_{t}").alias(t) for t in tracked],
        effective_ts.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    # keys absent from the snapshot, not closed → stay current
    missing_kept = (
        joined.filter(in_dim & ~in_snap).select(*dim_cols)
        if not close_missing
        else hist.limit(0).select(*dim_cols)
    )
    return (
        hist.select(*dim_cols)
        .unionByName(kept)
        .unionByName(closed)
        .unionByName(missing_kept)
        .unionByName(opened)
    )


def reconciliation_report(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Key-reconciliation report between two tables: one row per status in
    (both, left_only, right_only) with distinct-key counts — the
    validation step after any migration or sync (does every source key
    exist downstream, and what leaked in that shouldn't?).

    Plan: distinct keys on each side (map-side partial dedup), one hash
    full-outer join on the key, then a 3-group aggregate. Shuffles carry
    distinct keys only, never source rows.
    """
    lk = left.select(F.col(left_key).alias("k")).distinct().withColumn(
        "__l", F.lit(True)
    )
    rk = right.select(F.col(right_key).alias("k")).distinct().withColumn(
        "__r", F.lit(True)
    )
    joined = lk.join(rk, "k", "full_outer")
    status = (
        F.when(F.col("__l").isNotNull() & F.col("__r").isNotNull(), "both")
        .when(F.col("__l").isNotNull(), "left_only")
        .otherwise("right_only")
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n_keys"))
    )


def profile_table(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column data-quality profile: one row per column with row count,
    null count, distinct count, and min/max rendered as strings — the
    engine-side replacement for eyeballing a sample before a load.

    Plan: ONE aggregate pass over the table computing every column's
    stats together (count_distinct adds its expand internally), then a
    stack() unpivot of the single result row — the table is scanned once
    regardless of column count.
    """
    # Generated identifiers are backtick-quoted and the name literal is
    # escaped so a column named `weird col`, `it's`, or one containing
    # backticks can't break (or inject into) the stack() expression.
    def _ident(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    def _strlit(name: str) -> str:
        return "'" + name.replace("\\", "\\\\").replace("'", "\\'") + "'"

    aggs = []
    for c in cols:
        # every name reference goes through the quoted form — both F.col
        # and df[...] PARSE attribute names, so raw embedded backticks
        # (or dots) would be rejected or misread
        qc = F.col(_ident(c))
        aggs += [
            F.count(qc).alias(f"__nn_{c}"),
            F.countDistinct(qc).alias(f"__nd_{c}"),
            F.min(qc).cast("string").alias(f"__mn_{c}"),
            F.max(qc).cast("string").alias(f"__mx_{c}"),
        ]
    one = df.agg(F.count("*").alias("__n"), *aggs)
    stack_args = ", ".join(
        f"{_strlit(c)}, {_ident('__nn_' + c)}, {_ident('__nd_' + c)}, "
        f"{_ident('__mn_' + c)}, {_ident('__mx_' + c)}"
        for c in cols
    )
    return one.selectExpr(
        "__n AS n_rows",
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_non_null, n_distinct, min_value, max_value)",
    ).select(
        "column_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_non_null")).alias("n_null"),
        "n_distinct",
        "min_value",
        "max_value",
    )


def skew_report(df: DataFrame, key_col: str, k: int = 5) -> DataFrame:
    """Pre-join skew diagnostics for a candidate join/aggregation key:
    the top-``k`` hottest key values with their share of all rows, next
    to the global skew ratio (hottest count / mean count per key).

    This is the measurement half of the skew toolkit — a skew_ratio in
    the hundreds says the plain shuffle join will straggle on the hot
    keys and the salted join (``salted_join`` in this module) or AQE
    skew splitting should take over.

    Plan: ONE shuffle (groupBy on the key); the per-key counts reduce to
    a single-row total via a broadcast cross join (in-plan, no driver
    action), and the hot-key ranking runs through the bounded two-phase
    top-k over the already-aggregated counts — no Window, no global
    sort, no row of the base table leaves its partition un-aggregated.

    A null key is one groupBy group like any other, and its rank
    tiebreak is engine-consistent: the sort struct carries an explicit
    nulls-last flag ahead of the key, because Spark's struct comparison
    would otherwise rank a null key field SMALLEST among count ties
    while SQL engines' ORDER BY key ASC (DuckDB default) put NULLs last
    (ADVICE r5 #3).
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("cnt")
    )
    totals = F.broadcast(
        counts.agg(
            F.sum("cnt").alias("n_rows"), F.count("*").alias("n_keys")
        )
    )
    ranked = grouped_bounded_topk(
        counts.withColumn("__g", F.lit(0)),
        ["__g"],
        F.struct(
            (-F.col("cnt")).alias("neg_cnt"),
            # nulls-last among count ties: the flag resolves the compare
            # before the (possibly null) key field is consulted; groupBy
            # folds all nulls into one group, so two null-key structs can
            # never tie with each other
            F.col("key").isNull().cast("int").alias("key_nulls_last"),
            F.col("key").alias("key"),
            F.col("cnt").alias("cnt"),
        ),
        k,
    )
    avg_per_key = F.col("n_rows").cast("double") / F.col("n_keys")
    return ranked.crossJoin(totals).select(
        "rank",
        F.col("item.key").alias("key"),
        F.col("item.cnt").alias("cnt"),
        F.round(F.col("item.cnt") / F.col("n_rows").cast("double"), 6).alias(
            "share"
        ),
        "n_rows",
        "n_keys",
        F.round(avg_per_key, 6).alias("avg_per_key"),
        F.round(F.col("item.cnt") / avg_per_key, 6).alias("skew_ratio"),
    )


def _bloom_lane_hit(
    key: Column, bloom_words: Column, n_bits: int, lane: int
) -> Column:
    """One hash lane's membership test: position = xxhash64(key, lane)
    mod n_bits; true iff that bit is set in the word map. Pure JVM column
    expressions (codegen-friendly) — no UDF. shiftleft goes through
    call_function because the PySpark wrapper only takes a literal shift
    amount while the SQL function accepts a column."""
    pos = F.pmod(F.xxhash64(key, F.lit(lane)), F.lit(n_bits))
    word = F.coalesce(
        F.element_at(bloom_words, F.floor(pos / 64).cast("int")),
        F.lit(0).cast("long"),
    )
    mask = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
    )
    return word.bitwiseAND(mask) != 0


def build_bloom(
    keys: DataFrame,
    key_col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """Distributed Bloom filter build over a key column: a single-row
    frame with a ``bloom_words`` map<int,long> (64-bit word index → word)
    plus the filter geometry.

    This is the runtime-row-filter half of a large-to-large semi join.
    When the key side is too big to broadcast as an exact hash set, a
    Bloom filter of it is still tiny (n_bits/8 bytes regardless of key
    count — 128 KiB at the default 2^20 bits), so the probe side can be
    pre-filtered BEFORE its shuffle, which is where the win lives at
    100 TB: shuffle volume drops by (1 - selectivity) of the semi join,
    at the cost of a few scan-side hash expressions per row. Spark's own
    InjectRuntimeFilter does this for eligible shapes; this operator
    makes it explicit, composable, and available to DataFrame pipelines
    (the SQL functions bloom_filter_agg/might_contain are internal-only
    in PySpark 4.1 — UNRESOLVED_ROUTINE from user SQL).

    Build plan: n_hashes positions per distinct key via
    xxhash64(key, lane) mod n_bits → (word_idx, bit) pairs → ONE shuffle
    on word_idx (at most n_bits/64 groups) bit_or-folded into words →
    a single-row map. No driver-side collect: the map rides to the probe
    as a broadcast single-row frame. Keys hash through a string cast so
    int/bigint/string key columns build and probe consistently.

    Sizing: for m bits and n keys, fp_rate ≈ (1 - e^(-k·n/m))^k; the
    2^20 default holds ~10^5 keys at k=5 under 1% false positives. False
    positives only cost wasted shuffle rows — exactness comes from the
    downstream verify join (``bloom_prefilter_semi_join``).
    """
    k = (
        keys.select(F.col(key_col).cast("string").alias("k"))
        .where(F.col("k").isNotNull())
        .distinct()
    )
    lanes = F.array(
        *[
            F.pmod(F.xxhash64(F.col("k"), F.lit(i)), F.lit(n_bits))
            for i in range(n_hashes)
        ]
    )
    entries = (
        k.select(F.explode(lanes).alias("pos"))
        .select(
            F.floor(F.col("pos") / 64).cast("int").alias("word_idx"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.col("pos") % 64).cast("int"),
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )
    return entries.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word_idx", "word"))
        ).alias("bloom_words"),
        F.lit(n_bits).alias("n_bits"),
        F.lit(n_hashes).alias("n_hashes"),
    )


def bloom_prefilter_semi_join(
    big: DataFrame,
    keys: DataFrame,
    big_key: str,
    keys_key: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    exact_verify: bool = True,
) -> DataFrame:
    """Semi join of ``big`` against ``keys`` with a Bloom-filter
    pre-filter on the big side.

    Shape: build_bloom(keys) → broadcast the single-row filter onto
    ``big`` (BroadcastNestedLoopJoin of ONE row — the in-plan-scalar
    pattern) → drop non-candidate rows where they were scanned, before
    any shuffle of ``big`` → exact LEFT SEMI join (AQE picks broadcast
    vs shuffle by the true size of ``keys``) removes Bloom false
    positives, so the result is EXACTLY the plain semi join, row for
    row. With exact_verify=False you get the prefilter alone — a
    superset with no false negatives — for pipelines that tolerate
    approximate membership (e.g. candidate generation).

    Null big-side keys hash like any value but can never survive: the
    exact verify's equality predicate drops them (semi-join semantics);
    in prefilter-only mode they pass through as "candidate" only if the
    null-string hash happens to hit — callers doing approximate
    membership should pre-filter nulls per their own policy.
    """
    bloom = F.broadcast(build_bloom(keys, keys_key, n_bits, n_hashes))
    probe = F.col(big_key).cast("string")
    cond = F.lit(True)
    for i in range(n_hashes):
        cond = cond & _bloom_lane_hit(
            probe, F.col("bloom_words"), n_bits, i
        )
    out = (
        big.crossJoin(bloom)
        .filter(cond)
        .drop("bloom_words", "n_bits", "n_hashes")
    )
    if exact_verify:
        right = (
            keys.select(F.col(keys_key))
            .where(F.col(keys_key).isNotNull())
            .distinct()
        )
        out = out.join(right, out[big_key] == right[keys_key], "left_semi")
    return out


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare: Sequence[str],
) -> DataFrame:
    """Change-data-capture between two table snapshots: emits one row per
    changed key with op ∈ {'I','D','U'} (insert / delete / update) plus
    the old and new values of each compared column — the diff feed a
    downstream incremental consumer (or SCD2 writer, scd2_apply) ingests
    instead of re-reading the full snapshot.

    Plan: ONE full-outer shuffle join on the key columns (both snapshots
    hash-partition on the same key — with bucketed snapshot layout,
    io/warehouse.py, even that shuffle disappears); unchanged rows are
    dropped IN the join's output filter (null-safe <=> per compared
    column), so the result is change-cardinality, not table-cardinality.
    Update detection is null-safe: NULL -> value, value -> NULL, and
    value -> value all compare correctly.
    """
    keys = list(keys)  # accept any Sequence (a tuple broke the concat)
    # presence markers + null-safe key equality (the scd2_apply pattern):
    # key-column nullness as the presence probe misclassified NULL-key
    # rows — a row with a NULL key never equi-joins, so an UNCHANGED
    # null-key row emitted two spurious 'I' ops and broke the
    # apply_cdc(old, diff) == new invariant (code-review r9 catch)
    o = old.select(*keys, *compare).withColumn("__in_old", F.lit(True))
    n = new.select(*keys, *compare).withColumn("__in_new", F.lit(True))
    for c in keys + list(compare):
        o = o.withColumnRenamed(c, f"__o_{c}")
        n = n.withColumnRenamed(c, f"__n_{c}")
    cond = [o[f"__o_{k}"].eqNullSafe(n[f"__n_{k}"]) for k in keys]
    joined = o.join(n, cond, "full_outer")
    in_old = F.coalesce(F.col("__in_old"), F.lit(False))
    in_new = F.coalesce(F.col("__in_new"), F.lit(False))
    changed = None
    for c in compare:
        ne = ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        changed = ne if changed is None else (changed | ne)
    op = (
        F.when(~in_old, F.lit("I"))
        .when(~in_new, F.lit("D"))
        .when(changed, F.lit("U"))
    )
    out_cols = [
        F.coalesce(F.col(f"__o_{k}"), F.col(f"__n_{k}")).alias(k) for k in keys
    ]
    out_cols.append(op.alias("op"))
    for c in compare:
        out_cols.append(F.col(f"__o_{c}").alias(f"old_{c}"))
        out_cols.append(F.col(f"__n_{c}").alias(f"new_{c}"))
    return joined.select(*out_cols).where(F.col("op").isNotNull())


def incremental_agg_apply(
    base_agg: DataFrame,
    diff: DataFrame,
    group_col: str,
    value_col: str,
    sum_col: str = "total",
    cnt_col: str = "n_rows",
) -> DataFrame:
    """Incremental view maintenance for a grouped SUM/COUNT aggregate:
    apply a :func:`snapshot_diff` change feed to the materialized
    aggregate of the OLD snapshot and get the aggregate of the NEW one —
    without rescanning the table. At 100 TB the full recompute reads
    everything; this reads only the change feed plus the (group-
    cardinality) materialized state.

    Contribution algebra (handles group migration on update — an updated
    row may MOVE between groups, so updates contribute to both sides):

    - D/U rows subtract (old value, 1) from their OLD group
    - I/U rows add (new value, 1) to their NEW group

    Sums run in DECIMAL(18,4) so incremental result == full recompute
    EXACTLY (double addition is order-dependent; decimal is associative
    — the same invariant money_sum pins). ``base_agg`` must carry
    (group_col, sum_col, cnt_col) with sum_col decimal-exact semantics
    (build it with money_sum). Groups whose count reaches zero drop out,
    matching what a full recompute would produce.
    """
    dec = "decimal(18,4)"
    minus = diff.where(F.col("op").isin("D", "U")).select(
        F.col(f"old_{group_col}").alias("g"),
        (-F.col(f"old_{value_col}").cast(dec)).alias("dv"),
        F.lit(-1).cast("long").alias("dn"),
    )
    plus = diff.where(F.col("op").isin("I", "U")).select(
        F.col(f"new_{group_col}").alias("g"),
        F.col(f"new_{value_col}").cast(dec).alias("dv"),
        F.lit(1).cast("long").alias("dn"),
    )
    delta = (
        minus.unionByName(plus)
        .groupBy("g")
        .agg(F.sum("dv").alias("dv"), F.sum("dn").alias("dn"))
    )
    base = base_agg.select(
        F.col(group_col).alias("g"),
        F.col(sum_col).cast(dec).alias("bv"),
        F.col(cnt_col).cast("long").alias("bn"),
    )
    zero_v = F.lit(0).cast(dec)
    # eqNullSafe merge: a USING full-outer never matches NULL groups, so
    # a NULL group's base row and delta row would both survive unmerged
    # (two output rows instead of their sum — code-review r9 catch)
    db = delta.withColumnRenamed("g", "dg")
    merged = (
        base.join(db, F.col("g").eqNullSafe(F.col("dg")), "full_outer")
        .select(F.coalesce(F.col("g"), F.col("dg")).alias("g"), "bv", "bn", "dv", "dn")
        .select(
            F.col("g").alias(group_col),
            (
                F.coalesce(F.col("bv"), zero_v)
                + F.coalesce(F.col("dv"), zero_v)
            )
            .cast("double")
            .alias(sum_col),
            (
                F.coalesce(F.col("bn"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))
            ).alias(cnt_col),
        )
        .where(F.col(cnt_col) > 0)
    )
    return merged


def golden_records(
    df: DataFrame,
    match_key: Column,
    order_by: list[Column],
    payload: list[str],
) -> DataFrame:
    """Survivorship / golden-record selection (the MDM consolidation
    step after matching): group records by ``match_key`` and keep, per
    group, the single record that wins the ordered rule list
    ``order_by`` (ascending lexicographic — encode "prefer non-null"
    as a 0/1 flag, "prefer larger" as a negated value; make the last
    key unique so selection is total).

    Implemented as ``min(struct(rules..., payload...))`` — ONE
    aggregate pass with map-side partials, no window (a row_number
    window would sort every group; min-of-struct keeps a single
    running winner per group). Output: (match_key, n_records,
    <payload...>).
    """
    packed = F.struct(
        *[c.alias(f"_r{i}") for i, c in enumerate(order_by)],
        *[F.col(c).alias(c) for c in payload],
    )
    agg = df.groupBy(match_key.alias("match_key")).agg(
        F.count("*").alias("n_records"), F.min(packed).alias("w")
    )
    return agg.select(
        "match_key",
        "n_records",
        *[F.col(f"w.{c}").alias(c) for c in payload],
    )


def apply_cdc(
    base: DataFrame,
    diff: DataFrame,
    keys: Sequence[str],
    compare: Sequence[str],
) -> DataFrame:
    """Apply a :func:`snapshot_diff` change feed to the OLD snapshot and
    produce the NEW one — the consumer half of the CDC pair (the
    merge-with-deletes every incremental table maintenance needs;
    ParquetMergeSink.upsert handles I/U but cannot delete).

    One anti-join + one union, both change-cardinality on the small
    side: rows whose key appears in the feed AT ALL (U and D, and
    degenerately I) leave the base via LEFT ANTI — the feed's key set
    broadcasts when change-cardinality is small, so the base never
    shuffles — and the feed's I/U rows re-enter with their new values.

    Invariant (property-tested and oracle-proven):
    ``apply_cdc(old, snapshot_diff(old, new)) == new`` for any pair of
    snapshots.
    """
    feed_keys = diff.select(*keys).distinct()
    kept = base.join(F.broadcast(feed_keys), list(keys), "left_anti")
    incoming = diff.where(F.col("op").isin("I", "U")).select(
        *keys, *[F.col(f"new_{c}").alias(c) for c in compare]
    )
    return kept.select(*keys, *compare).unionByName(incoming)


def global_row_number(
    df: DataFrame,
    order: Sequence[Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based row number under a TOTAL order, without the
    single-partition window a plain ``row_number() OVER (ORDER BY ...)``
    plans (Spark warns WindowExec "No Partition Defined" and serializes
    the whole frame through one task — the classic 100 TB cliff for
    rank/ntile-style scoring).

    Standard two-level scan instead (the zipWithIndex shape, kept in
    DataFrame land): ``repartitionByRange`` on the order columns (range
    partitioner => every row in partition i sorts before every row in
    partition i+1), per-partition ``row_number`` keyed by
    ``spark_partition_id()`` (each window partition is ONE bounded range
    split, not the global frame), then per-partition counts — a
    #partitions-row frame — prefix-summed and broadcast back as offsets:
    ``rn = offset(pid) + local_rn``. Exact, deterministic given a total
    order (callers must include a unique tiebreak column).
    """
    n_parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    # r14 rewrite (found by the sf0.1 full-gate run): the old shape
    # windowed by spark_partition_id, which (a) added a hash exchange
    # on __pid that AQE could coalesce — collapsing the carefully
    # range-spread splits back into few tasks — and (b) re-evaluated
    # the range partitioning independently in the offsets branch and
    # the rows branch (range-boundary SAMPLING can differ when AQE
    # re-plans each branch's upstream stage), so offset(pid) + local_rn
    # stopped being a permutation: chained calls produced ranks > n and
    # duplicate ranks at sf0.1. New shape: sortWithinPartitions (no
    # second exchange) + monotonically_increasing_id, whose documented
    # layout is (partition id << 33) + in-partition record index —
    # local rank and partition id decode arithmetically — then ONE
    # eager localCheckpoint pins a single materialization for both the
    # offsets aggregation and the final join.
    _LOW33 = (1 << 33) - 1
    local = (
        df.repartitionByRange(int(n_parts), *order)
        .sortWithinPartitions(*order)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn(
            "__pid", F.shiftright(F.col("__mid"), 33).cast("int")
        )
        .withColumn(
            "__lrn", (F.col("__mid").bitwiseAND(F.lit(_LOW33)) + 1)
        )
        .drop("__mid")
    )
    # the pin's blocks live unreplicated on executors: an executor loss
    # after it fails the query instead of recomputing
    local = local.localCheckpoint(eager=True)
    w_pid = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        local.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
        # the offsets window runs over the #partitions-row summary frame
        # (bounded by spark.sql.shuffle.partitions), never over data rows
        .select(
            "__pid",
            F.coalesce(F.sum("__n").over(w_pid), F.lit(0)).alias("__off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__off") + F.col("__lrn")).cast("bigint"))
        .drop("__pid", "__lrn", "__off")
    )


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """SQL ``ntile(k)`` bucket from a precomputed global rank — the
    closed-form of the standard semantics (bucket sizes differ by at
    most one, larger buckets first): with q = n div k and r = n mod k,
    the first r buckets hold q+1 rows. Lets ntile ride
    :func:`global_row_number` instead of a single-partition window;
    oracle-parity with native NTILE is driver-proven (rfm_segmentation).
    """
    q = F.floor(n / k)
    r = n % k
    big_span = r * (q + 1)
    return (
        F.when(rank <= big_span, F.floor((rank - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rank - big_span - 1) / q) + 1)
        .cast("int")
    )


def global_prefix_sum(
    df: DataFrame,
    order: Sequence[Column],
    value_col: str,
    out_col: str = "prefix",
    num_partitions: int | None = None,
) -> DataFrame:
    """Running total of ``value_col`` under a TOTAL order, distributed
    the same way as :func:`global_row_number` (range partition →
    per-split running sum keyed by partition id → broadcast per-split
    totals prefix-summed on the #partitions-row frame). The
    sum-semantics sibling of the row-number rewrite: a plain
    ``sum() OVER (ORDER BY …)`` serializes the frame through one task.

    ``value_col`` should be decimal for exact, order-independent
    prefixes (the caller's choice — doubles work but inherit FP
    noise). Emits the input columns plus ``out_col`` (inclusive prefix).
    """
    n_parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    ranged = df.repartitionByRange(int(n_parts), *order).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # same two-consumer materialization pin as global_row_number (r14):
    # offsets and the final join must see ONE range partitioning
    local = ranged.withColumn(
        "__lps", F.sum(value_col).over(w_local)
    ).localCheckpoint(eager=True)
    w_pid = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        local.groupBy("__pid")
        .agg(F.sum(value_col).alias("__s"))
        .select(
            "__pid",
            F.coalesce(F.sum("__s").over(w_pid), F.lit(0)).alias("__off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.col("__off") + F.col("__lps"))
        .drop("__pid", "__lps", "__off")
    )
