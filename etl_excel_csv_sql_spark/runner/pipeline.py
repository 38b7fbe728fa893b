"""The reference's three entry points, wired end-to-end Spark-first
(SURVEY §3.1-3.3).

Each function is the declarative-plan twin of one PowerShell script: the
data plane is a single Spark job (scan → column exprs → sink) and the
control plane (watermarks, folder lifecycle, logging) lives in the runner
modules. The CSV import archives its batch through
``FolderQueue.drain``, the one archive-on-success step: this module moves
no file itself. The lifecycle tests in tests/test_pipeline_lifecycle.py
drive T1-T4 through these functions.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_excel_csv_sql_spark.functions.scalars import (
    EXCEL_SERIAL_RANGE,
    excel_serial_to_timestamp,
    sanitize_sql_string,
)
from etl_excel_csv_sql_spark.io import csv_io, excel as excel_io
from etl_excel_csv_sql_spark.io.jdbc import FullRefreshSink, quarantine_split
from etl_excel_csv_sql_spark.operators import invoice as invoice_ops
from etl_excel_csv_sql_spark.runner.copyplan import execute_copy_plan
from etl_excel_csv_sql_spark.runner.errorlog import ErrorLog
from etl_excel_csv_sql_spark.runner.folder_queue import FolderQueue, Outcome
from etl_excel_csv_sql_spark.runner.watermark import WatermarkStore


# ---------------------------------------------------------------------------
# Entry point A: Excel workbook → per-sheet CSVs (ExcelToCSVexport.ps1, §3.1)
# ---------------------------------------------------------------------------

@dataclass
class ExcelExportJob:
    source_name: str
    workbook_path: str
    sheets: list[str]
    header_row: int
    csv_out_dir: str
    error_dir: str
    watermarks: WatermarkStore
    errorlog: ErrorLog = field(init=False)

    def __post_init__(self) -> None:
        self.errorlog = ErrorLog(self.error_dir)


def export_excel_to_csv(spark: SparkSession, job: ExcelExportJob) -> dict:
    """T1 watermark gate → S1 sheet catalog → P5 match → S2 read with
    header offset → K2 stale-output divert → K1 CSV write → K7 commit
    (only when ≥1 sheet exported: ExcelToCSVexport.ps1:222-225).

    Returns {"skipped": bool, "exported": [sheet...], "diverted": [path...]}.
    """
    import os

    if not job.watermarks.should_process(job.source_name, job.workbook_path):
        return {"skipped": True, "exported": [], "diverted": []}

    available = excel_io.excel_sheet_names(job.workbook_path)
    matched = excel_io.match_sheets(available, job.sheets)
    exported, diverted = [], []
    for sheet in matched:
        df = excel_io.read_excel_sheet(
            spark, job.workbook_path, sheet, job.header_row
        )
        out_path = os.path.join(job.csv_out_dir, f"{sheet}.csv")
        os.makedirs(job.csv_out_dir, exist_ok=True)
        moved = csv_io.divert_stale_output(out_path, job.error_dir, job.errorlog)
        if moved:
            diverted.append(moved)
        csv_io.write_csv_single(df, out_path)
        exported.append(sheet)

    if exported:  # commit ordering: state moves only after success (T1)
        job.watermarks.commit(job.source_name, job.workbook_path)
    return {"skipped": False, "exported": exported, "diverted": diverted}


# ---------------------------------------------------------------------------
# Entry point B: drop-folder CSV → SQL table (CSVtoSQLimport.ps1, §3.2)
# ---------------------------------------------------------------------------

@dataclass
class CsvImportJob:
    pk: str
    fields: list[str] | None          # None == "All" (CSVtoSQLimport.ps1:232)
    datetime_fields: list[str]
    sink: FullRefreshSink
    queue: FolderQueue
    quarantine_sink: FullRefreshSink | None = None
    #: the reference imports exactly ``<source>.csv`` per table
    #: (CSVtoSQLimport.ps1:164-168); None drains every pending file as ONE
    #: unioned batch (the sink is a full refresh — per-file refreshes would
    #: let each file erase the previous one while all get archived).
    source_name: str | None = None


def import_csv_to_table(spark: SparkSession, job: CsvImportJob) -> dict[str, Outcome]:
    """One import cycle: the pending batch goes through :func:`_refresh`
    under ``job.queue.drain`` (K6 archive-on-success, all members or
    none). With ``source_name`` set, exactly ``<source_name>.csv`` is
    considered (reference semantics); otherwise every pending file is
    unioned into a single refresh batch. A failed batch is logged
    NotFatal and every file stays queued (T2/T3)."""
    import os

    # case-insensitive name match: FolderQueue.pending() matches the
    # suffix case-insensitively for exactly this reason — the reference
    # runs on NTFS where 'Orders.CSV' satisfies Test-Path 'orders.csv';
    # a case-sensitive basename compare left such a file pending
    # forever, never imported and never logged
    target = f"{job.source_name}.csv".lower() if job.source_name else None
    pending = [
        p
        for p in job.queue.pending()
        if target is None or os.path.basename(p).lower() == target
    ]
    if not pending:
        return {}
    return job.queue.drain(pending, lambda ps: _refresh(spark, job, ps))


def _refresh(spark: SparkSession, job: CsvImportJob, paths: list[str]) -> None:
    """The data plane of one batch: S3 all-string read → union → F1
    sanitize every cell → T3 row quarantine → F2 datetime convert → P4
    projection → K4 full refresh of the sink (and of the quarantine sink,
    or a logged count of quarantined rows). Raises on any failure."""
    frames = [csv_io.read_csv_all_string(spark, p) for p in paths]
    df = frames[0]
    for extra in frames[1:]:
        df = df.unionByName(extra)  # header drift across files → fail all
    cols = job.fields if job.fields is not None else df.columns
    out = df.select(*[sanitize_sql_string(F.col(c)).alias(c) for c in df.columns])
    # row-level quarantine BEFORE conversion: a non-null value that is
    # not a valid Excel serial in a configured datetime field is poison
    # (the reference logs-and-nulls per cell, CSVtoSQLimport.ps1:85-91).
    # The range check quarantines serials that CAST fine but exceed the
    # DateTime domain, which would otherwise land as silent NULLs
    dt_cols = [c for c in job.datetime_fields if c in df.columns]
    good, bad = quarantine_split(
        out,
        {c: "double" for c in dt_cols},
        pk=job.pk,
        range_checks={c: EXCEL_SERIAL_RANGE for c in dt_cols},
    )
    good = good.select(
        *[
            F.date_format(excel_serial_to_timestamp(F.col(c)), "yyyy-MM-dd HH:mm:ss")
            .alias(c) if c in dt_cols else F.col(c)
            for c in good.columns
        ]
    ).select(*cols)
    # pin the shared lineage across the two sink actions: without it the
    # quarantine count re-reads and re-sanitizes every pending CSV
    out = out.persist()
    try:
        job.sink.full_refresh(good)
        if job.quarantine_sink is not None:
            job.quarantine_sink.full_refresh(bad)
        else:
            n_bad = bad.count()
            if n_bad:
                job.queue.errorlog.log(
                    f"{n_bad} rows quarantined from batch {paths}", fatal=False
                )
    finally:
        out.unpersist()


# ---------------------------------------------------------------------------
# Entry point C: invoice search (InvoiceFileSearchFromSQL.ps1, §3.3)
# ---------------------------------------------------------------------------

@dataclass
class InvoiceSearchJob:
    invoice_csv: str                 # write-back target (K3 lock fallback)
    src_root: str = ""
    dst_root: str = ""


def invoice_search(
    spark: SparkSession, job: InvoiceSearchJob, database_rows: DataFrame
) -> dict:
    """P1 unprocessed filter → J1 semi join (the IN-list pushdown) → K8
    idempotent copies → J2 Found write-back (K3 lock fallback) → A1/A2
    found-vs-expected report. The invoice CSV is keyed by
    ``InvoiceNumber`` with a ``Found`` flag (InvoiceFileSearchFromSQL.ps1:
    50-52). ``database_rows`` stands in for the JDBC read
    (spark.read.jdbc in deployment); it must expose ``invnum``,
    ``SubFolder``, ``FileName``, ``CustomerRef``."""
    invoices = csv_io.read_csv_all_string(spark, job.invoice_csv)
    pending = invoice_ops.unprocessed(invoices, "Found", "yes")
    matches = invoice_ops.semi_join_matches(
        database_rows, pending, "invnum", "InvoiceNumber"
    )
    plan = invoice_ops.compose_copy_plan(
        matches.select(
            "invnum",
            F.col("SubFolder").alias("subfolder"),
            F.col("FileName").alias("filename"),
            F.col("CustomerRef").alias("customer_ref"),
        )
    )
    counts = execute_copy_plan(plan, job.src_root, job.dst_root)
    # report BEFORE the write-back: plans are lazy and re-read the invoice
    # CSV, which the write below replaces (the reference also reports first,
    # InvoiceFileSearchFromSQL.ps1:136-140 vs :143)
    report = invoice_ops.found_report(
        pending, matches, "InvoiceNumber", "invnum"
    ).first()
    updated = invoice_ops.mark_found(
        invoices, matches, "InvoiceNumber", "invnum", "Found", "Yes"
    )
    written_to = csv_io.write_csv_with_lock_fallback(updated, job.invoice_csv)
    return {
        "copies": counts,
        "written_to": written_to,
        "expected": report["expected_count"],
        "found": report["found_count"],
        "missing": report["missing_count"],
    }
