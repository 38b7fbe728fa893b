"""The reference's invoice-search query pattern, Spark-first.

Reference trace (InvoiceFileSearchFromSQL.ps1):
- :50-52  read invoice CSV, keep rows where Found <> 'Yes' (case-insensitive
          PowerShell -ne), project InvoiceNumber
- :63,75  splice the numbers into a SQL IN-list → executed remotely
          (a hand-rolled broadcast semi-join pushdown)
- :81-123 per match: compose target filename, copy file, count
- :117    set Found='Yes' on matching CSV rows (correlated update-join)
- :136-140 report found vs expected counts

Spark mapping: the IN-list splice is exactly a broadcast **semi join** (the
invoice side is tiny, the DB side is big — Spark broadcasts the small side,
so the big side is filtered map-side with zero shuffle); the write-back is a
broadcast **left join + conditional overwrite**. At 100 TB the pod/orders
side streams through executors once; only the small invoice list moves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def unprocessed(
    invoices: DataFrame, found_col: str = "found", done_value: str = "yes"
) -> DataFrame:
    """Rows not yet processed: ``Found <> 'Yes'`` case-insensitively, null
    and empty treated as unprocessed (InvoiceFileSearchFromSQL.ps1:52)."""
    flag = F.lower(F.coalesce(F.col(found_col), F.lit("")))
    return invoices.filter(flag != done_value.lower())


def semi_join_matches(
    big: DataFrame, keys: DataFrame, big_key: str, small_key: str,
    broadcast: bool = True,
) -> DataFrame:
    """Big-side rows whose key appears in the key list — the reference's
    IN-list pushdown (InvoiceFileSearchFromSQL.ps1:63) as a LEFT SEMI join.

    ``broadcast=True`` (the invoice pattern: key side is a small list)
    broadcasts the distinct keys so the big side is filtered in place with
    zero shuffle. Pass ``broadcast=False`` when the key side is unbounded
    (e.g. a fact table) — AQE then picks shuffle-hash/sort-merge and can
    still downgrade to broadcast at runtime if the side turns out small."""
    # alias the key side (same trick as mark_found's __match_key): an
    # unqualified F.col(small_key) is AMBIGUOUS whenever the big side
    # also carries a column of that name — the most natural call shape
    # (same key name on both sides) raised AMBIGUOUS_REFERENCE (r10
    # review)
    key_side = keys.select(F.col(small_key).alias("__semi_key")).distinct()
    if broadcast:
        key_side = F.broadcast(key_side)
    return big.join(
        key_side,
        on=big[big_key] == F.col("__semi_key"),
        how="semi",
    )


def mark_found(
    invoices: DataFrame,
    matches: DataFrame,
    invoice_key: str,
    match_key: str,
    found_col: str = "found",
    done_value: str = "Yes",
) -> DataFrame:
    """Correlated update-join write-back (InvoiceFileSearchFromSQL.ps1:117):
    set ``found_col = done_value`` on invoice rows with ≥1 match, preserving
    the existing value otherwise. Broadcast left join — invoices stay
    partition-local at scale when the match key set is small; if both sides
    are huge, drop the broadcast hint and let AQE pick sort-merge."""
    match_keys = matches.select(F.col(match_key).alias("__match_key")).distinct()
    joined = invoices.join(
        F.broadcast(match_keys),
        on=invoices[invoice_key] == F.col("__match_key"),
        how="left",
    )
    updated: Column = F.when(
        F.col("__match_key").isNotNull(), F.lit(done_value)
    ).otherwise(F.col(found_col))
    return joined.withColumn(found_col, updated).drop("__match_key")


def found_report(
    expected: DataFrame, matches: DataFrame, expected_key: str, match_key: str
) -> DataFrame:
    """Found-vs-expected reconciliation (InvoiceFileSearchFromSQL.ps1:136-140):
    one row with expected_count, found_count (distinct keys matched),
    missing_count. Two scans + one semi join; aggregates are map-side
    partials so the shuffle carries one row per partition. The match side is
    an unbounded fact table here, so the semi join is NOT broadcast — AQE
    picks the strategy (and may still broadcast if it is small at runtime)."""
    exp = expected.select(F.countDistinct(expected_key).alias("expected_count"))
    fnd = semi_join_matches(
        expected, matches, expected_key, match_key, broadcast=False
    ).select(F.countDistinct(expected_key).alias("found_count"))
    return (
        exp.crossJoin(fnd)
        .withColumn("missing_count", F.col("expected_count") - F.col("found_count"))
    )


def compose_copy_plan(matches: DataFrame) -> DataFrame:
    """Build the per-row copy manifest the reference executes imperatively
    (InvoiceFileSearchFromSQL.ps1:88-110) from matches with columns
    ``invnum``, ``subfolder``, ``filename``, ``customer_ref``: scrub the
    customer ref, compose source path and target name. Returns columns
    (src_path, dst_name); execution happens in runner.execute_copy_plan
    via foreachPartition."""
    from etl_excel_csv_sql_spark.functions.scalars import (
        compose_filename,
        scrub_path_chars,
    )

    ref = scrub_path_chars(F.col("customer_ref"))
    return matches.select(
        F.concat_ws("/", F.col("subfolder"), F.col("filename")).alias("src_path"),
        compose_filename(F.col("invnum"), ref, F.col("filename")).alias("dst_name"),
    )
