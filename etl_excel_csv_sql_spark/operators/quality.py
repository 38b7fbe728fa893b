"""Declarative data-quality constraint suite (a deequ-lite).

Validates a table against a list of declared constraints and returns one
row per constraint with its violation count — the contract-enforcement
layer a production pipeline runs before publishing a table (the reference
validates only settings-file parameters, Settings.ps1; this generalizes
validation to the data itself).

Scale design:

- **All row-level checks on a table compile into ONE aggregation pass**:
  each check becomes a conditional-sum column in a single ``agg`` (plus
  ``count(*)`` for the denominator), so adding a tenth check costs zero
  extra scans. The per-check result rows are then exploded from the
  single aggregate row map-side (inline of a literal-built struct array)
  — no shuffle beyond the one partial/final aggregate.
- **Uniqueness rides the same pass** as
  ``count(*) - count(DISTINCT struct(cols))`` (exact, map-side partials
  via Spark's distinct-aggregate expand; at extreme cardinality swap in
  approx_count_distinct — not done here because the suite's contract is
  exact violation counts).
- **Referential-integrity checks are one LEFT ANTI join each** against
  the distinct key projection of the dimension; the dimension side is
  broadcast when small (Catalyst/AQE decides from stats — the projection
  is a single column, so even a 100M-row dim fits the default 10 MB
  threshold rarely; for big dims it degrades to a shuffle semi-join,
  which is the correct plan anyway). The fact table is scanned once per
  FK — unavoidable without multi-output plans.

Every check treats NULL explicitly: ``not_null`` counts nulls as
violations; the value checks (``in_range``/``in_set``/``matches``)
follow SQL three-valued logic and do NOT count NULLs as violations
(declare ``not_null`` separately — composable, matches deequ semantics).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    """A row-level constraint: ``violated`` is a boolean Column that is
    True exactly on violating rows."""

    name: str
    violated: Column


def not_null(col: str) -> Check:
    return Check(f"not_null({col})", F.col(col).isNull())


def in_range(col: str, lo: float, hi: float) -> Check:
    """Violated when the value falls outside [lo, hi]; NULL passes."""
    c = F.col(col)
    return Check(
        f"in_range({col},{lo},{hi})",
        c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi))),
    )


def in_set(col: str, values: list[str]) -> Check:
    """Violated when the value is not in ``values``; NULL passes."""
    c = F.col(col)
    return Check(f"in_set({col})", c.isNotNull() & ~c.isin(values))


def matches(col: str, pattern: str, name: str | None = None) -> Check:
    """Violated when the value does not match the (RE2-ish, engine-common)
    regex; NULL passes. Keep patterns to the syntax subset Java regex and
    the oracle engine share (anchors, classes, quantifiers). ``name``
    disambiguates two same-column pattern checks in one suite."""
    c = F.col(col)
    return Check(
        name or f"matches({col})", c.isNotNull() & ~c.rlike(pattern)
    )


@dataclass(frozen=True)
class Unique:
    """Exact uniqueness over a column tuple: violations = rows beyond the
    first of each duplicated tuple (count(*) - count(distinct tuple))."""

    cols: tuple[str, ...]

    @property
    def name(self) -> str:
        return f"unique({','.join(self.cols)})"


@dataclass(frozen=True)
class RefIntegrity:
    """Foreign key containment: every non-null ``fk_col`` value must exist
    in ``dim_col`` of the dimension table."""

    fk_col: str
    dim: DataFrame
    dim_col: str
    dim_name: str

    @property
    def name(self) -> str:
        return f"ref({self.fk_col}->{self.dim_name}.{self.dim_col})"


def run_checks(
    df: DataFrame,
    table_name: str,
    checks: list[Check] = (),
    uniques: list[Unique] = (),
    refs: list[RefIntegrity] = (),
) -> DataFrame:
    """Evaluate the suite; returns (table_name, constraint, violations,
    total, passed) with one row per constraint.

    One full-table aggregate covers all ``checks`` + ``uniques``; each
    ``refs`` entry adds one anti-join count. Results union row-wise.
    """
    all_names = (
        [ck.name for ck in checks]
        + [uq.name for uq in uniques]
        + [rf.name for rf in refs]
    )
    dupes = sorted({n for n in all_names if all_names.count(n) > 1})
    if dupes:
        # duplicate constraint names become duplicate agg aliases and
        # would surface as Spark's cryptic AMBIGUOUS_REFERENCE — fail
        # with the actual problem (pass name=... to disambiguate two
        # same-column matches()/in_set() checks)
        raise ValueError(f"duplicate constraint names in suite: {dupes}")
    aggs = [F.count(F.lit(1)).cast("long").alias("__total")]
    for ck in checks:
        aggs.append(
            F.sum(F.when(ck.violated, 1).otherwise(0)).cast("long").alias(ck.name)
        )
    for uq in uniques:
        aggs.append(
            (
                F.count(F.lit(1))
                - F.count_distinct(F.struct(*[F.col(c) for c in uq.cols]))
            )
            .cast("long")
            .alias(uq.name)
        )
    # Eagerly checkpoint the single aggregate row: every ref-integrity
    # branch re-attaches the total via a 1x1 cross join, and without the
    # checkpoint Catalyst column-prunes each branch into a DIFFERENT
    # narrow aggregate (no ReuseExchange) — one extra full table scan PER
    # ref constraint. Materializing the one-row result makes the row
    # checks exactly one pass and the refs one anti-join pass each.
    one = df.agg(*aggs).localCheckpoint(eager=True)

    # single aggregate row -> one row per constraint, map-side
    names = [ck.name for ck in checks] + [uq.name for uq in uniques]
    total_df = one.select(F.col("__total").alias("total"))
    if names:
        pairs = F.array(
            *[
                F.struct(
                    F.lit(n).alias("constraint"),
                    F.col(f"`{n}`").alias("violations"),
                )
                for n in names
            ]
        )
        out = one.select(
            F.lit(table_name).alias("table_name"),
            F.inline(pairs),
            F.col("__total").alias("total"),
        )
    else:
        # refs-only suite (a legal configuration): inline(array()) is
        # ARRAY<VOID> and crashes — start from an empty typed frame and
        # let the ref rows union in below
        out = one.sparkSession.createDataFrame(
            [],
            "table_name string, constraint string, "
            "violations long, total long",
        )
    for ref in refs:
        dim_keys = ref.dim.select(F.col(ref.dim_col).alias("__k")).distinct()
        orphans = (
            df.where(F.col(ref.fk_col).isNotNull())
            .join(dim_keys, F.col(ref.fk_col) == F.col("__k"), "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("violations"))
        )
        row = (
            orphans.crossJoin(total_df)  # 1x1: attach the in-plan total
            .select(
                F.lit(table_name).alias("table_name"),
                F.lit(ref.name).alias("constraint"),
                "violations",
                "total",
            )
        )
        out = out.unionByName(row)

    return out.select(
        "table_name",
        "constraint",
        "violations",
        "total",
        (F.col("violations") == 0).alias("passed"),
    )


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index drift report between two snapshots of
    a numeric column — the standard model-monitoring / data-contract
    drift metric: bucket the NEW distribution by the OLD snapshot's
    equi-depth quantile edges and score
    ``PSI = Σ (p_new − p_old) · ln(p_new / p_old)`` per bucket
    (ε-floored so empty buckets stay finite; PSI < 0.1 stable,
    0.1–0.25 moderate, > 0.25 drifted, per the credit-scoring folklore
    the metric comes from).

    Edges are the old snapshot's exact percentiles (i/n_buckets) — ONE
    aggregate row broadcast into both scans; bucket assignment is a
    narrow CASE over the edge array (left-closed, the outermost buckets
    unbounded, so every non-null value lands somewhere). Each side then
    contributes one count-by-bucket aggregate over n_buckets groups.
    Output: one row per bucket (bucket, lo, hi, frac_old, frac_new,
    contribution) — sum(contribution) IS the PSI, kept per-bucket so
    the report shows WHERE the mass moved.
    """
    eps = 1e-6
    v = F.col(value_col).cast("double")
    pcts = F.array(
        *[F.lit(i / n_buckets) for i in range(1, n_buckets)]
    )
    # checkpoint the 1-row edge aggregate: THREE consumers (both side
    # counts and the spine's edge attach) each re-ran the full old-
    # snapshot percentile scan — 7 leaf scans total in the executed
    # plan at 100 TB (same rationale as run_checks' one-row checkpoint)
    edges_df = old.agg(F.percentile(v, pcts).alias("edges")).localCheckpoint(
        eager=True
    )

    def bucket_of(col: Column) -> Column:
        # index of the first edge >= value, else the last bucket: a
        # narrow O(n_buckets) filter over the broadcast edge array
        return F.size(
            F.filter(F.col("edges"), lambda e: e < col)
        ).cast("int")

    def side_counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.where(v.isNotNull())
            .crossJoin(F.broadcast(edges_df))
            .groupBy(bucket_of(v).alias("bucket"))
            .agg(F.count(F.lit(1)).alias(f"n_{name}"))
        )

    # n_buckets-row frames; the full outer join covers buckets one side
    # never populates
    spine = (
        side_counts(old, "old")
        .join(side_counts(new, "new"), "bucket", "full_outer")
        .crossJoin(F.broadcast(edges_df))
    )
    # totals derive from the n_buckets-row spine for FREE (sum of the
    # per-bucket counts == count of non-null rows, since every non-null
    # value lands in exactly one bucket) — separate count aggregates
    # added one more full scan per side
    w_all = Window.partitionBy()
    spine = spine.withColumn(
        "t_old",
        F.sum(F.coalesce("n_old", F.lit(0))).over(w_all).cast("double"),
    ).withColumn(
        "t_new",
        F.sum(F.coalesce("n_new", F.lit(0))).over(w_all).cast("double"),
    )
    p_old = F.greatest(
        F.coalesce("n_old", F.lit(0)) / F.col("t_old"), F.lit(eps)
    )
    p_new = F.greatest(
        F.coalesce("n_new", F.lit(0)) / F.col("t_new"), F.lit(eps)
    )
    lo = F.when(
        F.col("bucket") == 0, F.lit(None).cast("double")
    ).otherwise(F.element_at("edges", F.col("bucket")))
    hi = F.when(
        F.col("bucket") == n_buckets - 1, F.lit(None).cast("double")
    ).otherwise(F.element_at("edges", F.col("bucket") + 1))
    return (
        spine
        .select(
            "bucket",
            F.round(lo, 6).alias("lo"),
            F.round(hi, 6).alias("hi"),
            F.round(p_old, 6).alias("frac_old"),
            F.round(p_new, 6).alias("frac_new"),
            F.round((p_new - p_old) * F.log(p_new / p_old), 6).alias(
                "contribution"
            ),
        )
    )
