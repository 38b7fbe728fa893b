"""Lifecycle semantics T1-T4 (SURVEY §2.8) driven through runner.pipeline —
the ETL identity of the reference, end-to-end on tmp dirs."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from etl_excel_csv_sql_spark.io import csv_io, xlsx
from etl_excel_csv_sql_spark.io.jdbc import ParquetFullRefreshSink
from etl_excel_csv_sql_spark.runner.errorlog import ErrorLog, FatalPipelineError
from etl_excel_csv_sql_spark.runner.folder_queue import FolderQueue, Outcome
from etl_excel_csv_sql_spark.runner.pipeline import (
    CsvImportJob,
    ExcelExportJob,
    ExcelExportJob as _E,  # noqa: F401 (re-export guard)
    InvoiceSearchJob,
    export_excel_to_csv,
    import_csv_to_table,
    invoice_search,
)
from etl_excel_csv_sql_spark.runner.watermark import WatermarkStore


def _workbook(path: str) -> None:
    xlsx.write_workbook(
        path,
        {
            "Orders": [
                ["OrderId", "When", "Who"],
                ["O-1", 44000.5, "alice"],
                ["O-2", 44001.25, "bob"],
            ]
        },
    )


# ---------------------------------------------------------------------------
# T1: mtime watermark gate + commit-after-success ordering
# ---------------------------------------------------------------------------

def test_t1_watermark_gate_and_commit_ordering(spark, tmp_path):
    wb = str(tmp_path / "book.xlsx")
    _workbook(wb)
    job = ExcelExportJob(
        source_name="book",
        workbook_path=wb,
        sheets=["orders"],
        header_row=1,
        csv_out_dir=str(tmp_path / "out"),
        error_dir=str(tmp_path / "Error"),
        watermarks=WatermarkStore(str(tmp_path / "state")),
    )
    # first run exports and commits
    r1 = export_excel_to_csv(spark, job)
    assert r1 == {"skipped": False, "exported": ["Orders"], "diverted": []}
    assert os.path.isfile(tmp_path / "out" / "Orders.csv")

    # unconsumed output + unchanged workbook → skipped, nothing diverted
    r2 = export_excel_to_csv(spark, job)
    assert r2["skipped"] is True

    # touch the workbook → reprocess; stale CSV diverted to Error (K2/T5)
    os.utime(wb, (time.time() + 5, time.time() + 5))
    r3 = export_excel_to_csv(spark, job)
    assert r3["skipped"] is False and r3["exported"] == ["Orders"]
    assert len(r3["diverted"]) == 1
    assert os.path.basename(r3["diverted"][0]).startswith("Unprocessed Orders")

    # no matching sheets → watermark NOT committed (matchCounter==0,
    # ExcelToCSVexport.ps1:222-225): the next run must still see the file
    os.utime(wb, (time.time() + 10, time.time() + 10))
    job_nomatch = ExcelExportJob(
        source_name="book2",
        workbook_path=wb,
        sheets=["nonexistent"],
        header_row=1,
        csv_out_dir=str(tmp_path / "out"),
        error_dir=str(tmp_path / "Error"),
        watermarks=job.watermarks,
    )
    assert export_excel_to_csv(spark, job_nomatch)["exported"] == []
    assert job_nomatch.watermarks.should_process("book2", wb)  # still pending


# ---------------------------------------------------------------------------
# T2 + T3: drop-folder queue, archive-on-success, poison handling
# ---------------------------------------------------------------------------

def _queue(tmp_path) -> FolderQueue:
    q = FolderQueue(
        drop_dir=str(tmp_path / "drop"),
        processed_dir=str(tmp_path / "Processed"),
        error_dir=str(tmp_path / "Error"),
    )
    os.makedirs(q.drop_dir, exist_ok=True)
    return q


def test_t2_archive_on_success_t3_failure_stays(spark, tmp_path):
    q = _queue(tmp_path)
    (tmp_path / "drop" / "good.csv").write_text("pk,when\n1,44000.5\n")
    (tmp_path / "drop" / "boom.csv").write_text("pk,when\n1,44000.5\n")

    def handler(path: str) -> None:
        if "boom" in path:
            raise RuntimeError("simulated connection failure")

    results = q.process_all(handler)
    by_name = {os.path.basename(p): o for p, o in results.items()}
    assert by_name == {"good.csv": Outcome.PROCESSED, "boom.csv": Outcome.SKIPPED}
    # archived with the "yyyy.MM.dd HH.mm <name>" prefix (K6)
    archived = os.listdir(tmp_path / "Processed")
    assert len(archived) == 1 and archived[0].endswith(" good.csv")
    # failed file still queued for the next cycle (at-least-once)
    assert os.path.exists(tmp_path / "drop" / "boom.csv")
    # failure was logged to the per-day error file (K5)
    logs = os.listdir(tmp_path / "Error")
    assert any(f.endswith("FileImportError.txt") for f in logs)


def test_t3_row_quarantine_through_import(spark, tmp_path):
    q = _queue(tmp_path)
    (tmp_path / "drop" / "orders.csv").write_text(
        "pk,when,who\n"
        "1,44000.5,alice\n"
        "2,oops,bob\n"      # poison datetime cell → quarantined row
        ",44001,carol\n"    # empty pk → quarantined row
    )
    sink = ParquetFullRefreshSink(str(tmp_path / "table"))
    qsink = ParquetFullRefreshSink(str(tmp_path / "rejects"))
    job = CsvImportJob(
        pk="pk",
        fields=None,
        datetime_fields=["when"],
        sink=sink,
        queue=q,
        quarantine_sink=qsink,
    )
    results = import_csv_to_table(spark, job)
    assert list(results.values()) == [Outcome.PROCESSED]
    good = sink.read(spark).collect()
    assert [(r.pk, r.when) for r in good] == [("1", "2020-06-18 12:00:00")]
    rejects = {r._reject_reason for r in qsink.read(spark).collect()}
    assert rejects == {"cast(when as double)", "empty pk pk"}


def test_multi_file_drain_unions_into_one_refresh(spark, tmp_path):
    # Two pending files + a full-refresh sink: per-file refreshes would let
    # the second file erase the first while both get archived (ADVICE r2).
    # The batch must union them into ONE refresh.
    q = _queue(tmp_path)
    (tmp_path / "drop" / "a.csv").write_text("pk,who\n1,alice\n2,bob\n")
    (tmp_path / "drop" / "b.csv").write_text("pk,who\n3,carol\n")
    sink = ParquetFullRefreshSink(str(tmp_path / "table"))
    job = CsvImportJob(
        pk="pk", fields=None, datetime_fields=[], sink=sink, queue=q,
    )
    results = import_csv_to_table(spark, job)
    assert sorted(results.values()) == [Outcome.PROCESSED] * 2
    rows = sorted(r.pk for r in sink.read(spark).collect())
    assert rows == ["1", "2", "3"]          # both files survived the refresh
    assert len(os.listdir(tmp_path / "Processed")) == 2


def test_import_without_quarantine_sink_logs_rejected_rows(spark, tmp_path):
    # No reject table configured: the poison rows are counted into the
    # error log, only the good rows reach the sink, and the file is
    # archived like any processed batch.
    q = _queue(tmp_path)
    src = tmp_path / "drop" / "orders.csv"
    src.write_text("pk,when\n1,44000.5\n2,oops\n,44001\n")
    sink = ParquetFullRefreshSink(str(tmp_path / "table"))
    job = CsvImportJob(
        pk="pk", fields=None, datetime_fields=["when"], sink=sink, queue=q,
    )
    assert import_csv_to_table(spark, job) == {str(src): Outcome.PROCESSED}
    assert [(r.pk, r.when) for r in sink.read(spark).collect()] == [
        ("1", "2020-06-18 12:00:00")
    ]
    assert os.listdir(tmp_path / "drop") == []
    (archived,) = os.listdir(tmp_path / "Processed")
    assert archived.endswith(" orders.csv")
    (log,) = os.listdir(tmp_path / "Error")
    text = (tmp_path / "Error" / log).read_text()
    assert f"2 rows quarantined from batch [{str(src)!r}]" in text


def test_export_import_keeps_multiline_and_quoted_cells(spark, tmp_path):
    # RFC 4180 end to end: the export writes an Alt+Enter line break and
    # a doubled quote inside quoted cells, and the import must read each
    # back as ONE cell of ONE row (a line-by-line read split the row at
    # the break; a backslash-escape read split a doubled quote at the
    # next comma).
    wb = str(tmp_path / "book.xlsx")
    xlsx.write_workbook(
        wb,
        {
            "Notes": [
                ["pk", "note", "when"],
                ["1", "line one\nline two", 44000.5],
                ["2", 'say "hi", ok', 44001.25],
                ["3", 'a "b"\nc, d', 44002],
            ]
        },
    )
    export = ExcelExportJob(
        source_name="book",
        workbook_path=wb,
        sheets=["Notes"],
        header_row=1,
        csv_out_dir=str(tmp_path / "drop"),
        error_dir=str(tmp_path / "Error"),
        watermarks=WatermarkStore(str(tmp_path / "state")),
    )
    assert export_excel_to_csv(spark, export)["exported"] == ["Notes"]
    sink = ParquetFullRefreshSink(str(tmp_path / "table"))
    qsink = ParquetFullRefreshSink(str(tmp_path / "rejects"))
    job = CsvImportJob(
        pk="pk", fields=None, datetime_fields=["when"], sink=sink,
        queue=_queue(tmp_path), quarantine_sink=qsink, source_name="Notes",
    )
    assert list(import_csv_to_table(spark, job).values()) == [Outcome.PROCESSED]
    assert sorted(tuple(r) for r in sink.read(spark).collect()) == [
        ("1", "line one\nline two", "2020-06-18 12:00:00"),
        ("2", 'say "hi", ok', "2020-06-19 06:00:00"),
        ("3", 'a "b"\nc, d', "2020-06-20 00:00:00"),
    ]
    assert qsink.read(spark).count() == 0


def test_source_name_selects_exactly_one_file(spark, tmp_path):
    # Reference semantics: the import consumes exactly <source>.csv
    # (CSVtoSQLimport.ps1:164-168); unrelated files stay queued.
    q = _queue(tmp_path)
    (tmp_path / "drop" / "orders.csv").write_text("pk\n1\n")
    (tmp_path / "drop" / "other.csv").write_text("pk\n9\n")
    sink = ParquetFullRefreshSink(str(tmp_path / "table"))
    job = CsvImportJob(
        pk="pk", fields=None, datetime_fields=[], sink=sink, queue=q,
        source_name="orders",
    )
    results = import_csv_to_table(spark, job)
    assert [os.path.basename(p) for p in results] == ["orders.csv"]
    assert [r.pk for r in sink.read(spark).collect()] == ["1"]
    assert os.path.exists(tmp_path / "drop" / "other.csv")   # untouched
    # second cycle with nothing matching is a no-op
    assert import_csv_to_table(spark, job) == {}


def test_failed_batch_leaves_all_files_queued(spark, tmp_path):
    # Header drift across pending files fails the union → the WHOLE batch
    # is logged NotFatal and every file stays for the next cycle (T3).
    q = _queue(tmp_path)
    (tmp_path / "drop" / "a.csv").write_text("pk,who\n1,alice\n")
    (tmp_path / "drop" / "b.csv").write_text("pk,WRONG\n2,bob\n")
    sink = ParquetFullRefreshSink(str(tmp_path / "table"))
    job = CsvImportJob(
        pk="pk", fields=None, datetime_fields=[], sink=sink, queue=q,
    )
    results = import_csv_to_table(spark, job)
    assert sorted(results.values()) == [Outcome.SKIPPED] * 2
    assert sorted(os.listdir(tmp_path / "drop")) == ["a.csv", "b.csv"]
    assert any(
        f.endswith("FileImportError.txt")
        for f in os.listdir(tmp_path / "Error")
    )


def test_watermark_commits_preread_mtime_not_midrun_write(tmp_path):
    # A file modified WHILE the batch runs must stay pending: commit
    # persists the mtime captured by should_process, not a re-stat
    # (the reference snapshots LastWriteTime before processing,
    # ExcelToCSVexport.ps1:165,222 — ADVICE r2).
    store = WatermarkStore(str(tmp_path / "state"))
    src = tmp_path / "book.xlsx"
    src.write_text("v1")
    assert store.should_process("book", str(src))
    # mid-run modification lands before commit
    os.utime(src, (time.time() + 60, time.time() + 60))
    store.commit("book", str(src))
    assert store.should_process("book", str(src))   # v2 still pending
    store.commit("book", str(src))                  # now v2's mtime
    assert not store.should_process("book", str(src))


def test_errorlog_fatal_raises(tmp_path):
    log = ErrorLog(str(tmp_path / "Error"))
    import pytest

    with pytest.raises(FatalPipelineError):
        log.log("fatal condition", fatal=True)
    # line was written before raising (reference logs then exits)
    logged = os.listdir(tmp_path / "Error")
    assert len(logged) == 1


# ---------------------------------------------------------------------------
# T4: invoice search re-run idempotency + K8 copy side effects
# ---------------------------------------------------------------------------

def test_t4_invoice_search_idempotent_rerun(spark, tmp_path):
    # invoice CSV with one already-processed row (case-insensitive 'yes')
    inv = tmp_path / "invoices.csv"
    inv.write_text(
        "InvoiceNumber,Found\nINV-1,\nINV-2,yes\nINV-3,\nINV-4,\n"
    )
    # "database" rows: INV-1 twice (multiple PODs per invoice), INV-3 once
    db = spark.createDataFrame(
        [
            ("INV-1", "2024/03", "a.pdf", "acme/west"),
            ("INV-1", "2024/03", "b.pdf", "acme/west"),
            ("INV-3", "2024/04", "c.pdf", "zenith"),
        ],
        ["invnum", "SubFolder", "FileName", "CustomerRef"],
    )
    # source documents on disk (executor-visible shared fs)
    src_root = tmp_path / "docs"
    for sub, name in [("2024/03", "a.pdf"), ("2024/03", "b.pdf"), ("2024/04", "c.pdf")]:
        (src_root / sub).mkdir(parents=True, exist_ok=True)
        (src_root / sub / name).write_text("pdfbytes")
    dst_root = tmp_path / "found"

    job = InvoiceSearchJob(
        invoice_csv=str(inv), src_root=str(src_root), dst_root=str(dst_root)
    )
    r1 = invoice_search(spark, job, db)
    assert r1["copies"]["copied"] == 3 and r1["copies"]["missing"] == 0
    assert r1["expected"] == 3 and r1["found"] == 2 and r1["missing"] == 1
    # path-scrubbed composed names (F4/F5): 'acme/west' → 'acme west'
    assert sorted(os.listdir(dst_root)) == [
        "INV-1 - acme west - a.pdf",
        "INV-1 - acme west - b.pdf",
        "INV-3 - zenith - c.pdf",
    ]
    # write-back marked INV-1/INV-3 Found=Yes, preserved INV-2's 'yes'
    back = {
        r.InvoiceNumber: r.Found
        for r in csv_io.read_csv_all_string(spark, str(inv)).collect()
    }
    assert back == {"INV-1": "Yes", "INV-2": "yes", "INV-3": "Yes", "INV-4": None}

    # T4: re-run → only INV-4 pending, nothing new copied (skips existing)
    r2 = invoice_search(spark, job, db)
    assert r2["expected"] == 1 and r2["found"] == 0
    assert r2["copies"]["copied"] == 0 and r2["copies"]["skipped"] == 0


def test_watermark_observed_keyed_per_path(tmp_path):
    # One source checked against TWO paths in a cycle: each commit must
    # persist the mtime observed for ITS path, not whichever path was
    # stat'd last (ADVICE r3: _observed keyed by (source, path)).
    store = WatermarkStore(str(tmp_path / "state"))
    old = tmp_path / "old.xlsx"
    new = tmp_path / "new.xlsx"
    old.write_text("v1")
    new.write_text("v1")
    t_old, t_new = time.time() - 3600, time.time() + 3600
    os.utime(old, (t_old, t_old))
    os.utime(new, (t_new, t_new))
    store.should_process("book", str(old))
    store.should_process("book", str(new))  # stat'd last
    committed = store.commit("book", str(old))
    from etl_excel_csv_sql_spark.functions.scalars import ticks_to_unix_seconds

    assert abs(ticks_to_unix_seconds(committed) - t_old) < 1.0


def test_folder_queue_handler_quarantine_reports_quarantined(tmp_path):
    """A file the handler quarantined must report QUARANTINED — the
    drain used to try archiving the vanished path, catch the OSError,
    and misreport it SKIPPED/'left for next cycle' while it sat in
    Error/ (the enum member was unreachable)."""
    import os

    from etl_excel_csv_sql_spark.runner.folder_queue import (
        FolderQueue,
        Outcome,
    )

    drop = tmp_path / "drop"; drop.mkdir()
    (drop / "poison.csv").write_text("bad")
    (drop / "good.csv").write_text("ok")
    q = FolderQueue(
        str(drop), str(tmp_path / "done"), str(tmp_path / "err")
    )

    def handler(path):
        if "poison" in path:
            q.quarantine(path, "bad header")

    got = q.process_all(handler)
    assert got[str(drop / "poison.csv")] == Outcome.QUARANTINED
    assert got[str(drop / "good.csv")] == Outcome.PROCESSED
    assert any("poison" in f for f in os.listdir(tmp_path / "err"))


def test_folder_queue_stale_quarantine_entry_does_not_leak(tmp_path):
    """ADVICE r9 (medium): handler quarantines the file and THEN raises —
    the except branch marks SKIPPED but used to leave the _quarantined
    set entry behind; a later file dropped at the SAME path that
    processes fine was then misreported QUARANTINED, never archived, and
    its side effects re-ran every cycle."""
    import os

    from etl_excel_csv_sql_spark.runner.folder_queue import (
        FolderQueue,
        Outcome,
    )

    drop = tmp_path / "drop"; drop.mkdir()
    path = drop / "data.csv"
    path.write_text("bad")
    q = FolderQueue(str(drop), str(tmp_path / "done"), str(tmp_path / "err"))

    def bad_handler(p):
        q.quarantine(p, "bad header")
        raise RuntimeError("post-quarantine failure")

    got1 = q.process_all(bad_handler)
    assert got1[str(path)] == Outcome.SKIPPED  # exception wins the verdict

    # a fresh, healthy file dropped at the same path next cycle
    path.write_text("good")
    seen = []
    got2 = q.process_all(lambda p: seen.append(p))
    assert got2[str(path)] == Outcome.PROCESSED
    assert seen == [str(path)]
    # consumed once: archived out of drop, present in done/
    assert not path.exists()
    assert any("data.csv" in f for f in os.listdir(tmp_path / "done"))
    # third drain finds nothing — no re-processing loop
    assert q.process_all(lambda p: seen.append(p)) == {}
    assert len(seen) == 1


def test_folder_queue_same_minute_archive_no_overwrite(tmp_path):
    """Two same-named files archived within one minute must BOTH survive
    (shutil.move silently overwrote the first audit copy)."""
    import datetime
    import os

    from etl_excel_csv_sql_spark.runner.folder_queue import FolderQueue

    drop = tmp_path / "drop"; drop.mkdir()
    q = FolderQueue(str(drop), str(tmp_path / "done"), str(tmp_path / "err"))
    now = datetime.datetime(2024, 5, 1, 10, 5)
    (drop / "data.csv").write_text("first")
    q.archive(str(drop / "data.csv"), now)
    (drop / "data.csv").write_text("second")
    q.archive(str(drop / "data.csv"), now)
    names = set(os.listdir(tmp_path / "done"))
    assert names == {
        "2024.05.01 10.05 data.csv",
        "2024.05.01 10.05 data (1).csv",
    }


def test_folder_queue_pending_case_insensitive_suffix(tmp_path):
    from etl_excel_csv_sql_spark.runner.folder_queue import FolderQueue

    drop = tmp_path / "drop"; drop.mkdir()
    (drop / "UPPER.CSV").write_text("x")
    q = FolderQueue(str(drop), str(tmp_path / "d"), str(tmp_path / "e"))
    assert [p.endswith("UPPER.CSV") for p in q.pending()] == [True]


def test_import_case_insensitive_source_match(spark, tmp_path):
    """r10 review: FolderQueue matches *.CSV case-insensitively, but the
    per-source basename compare was case-sensitive — 'Orders.CSV'
    (normal on the reference's NTFS) sat pending forever."""
    from etl_excel_csv_sql_spark.io.jdbc import ParquetFullRefreshSink
    from etl_excel_csv_sql_spark.runner.folder_queue import (
        FolderQueue,
        Outcome,
    )
    from etl_excel_csv_sql_spark.runner.pipeline import (
        CsvImportJob,
        import_csv_to_table,
    )

    drop = tmp_path / "drop"; drop.mkdir()
    (drop / "Orders.CSV").write_text("id,who\n1,amy\n")
    q = FolderQueue(str(drop), str(tmp_path / "done"), str(tmp_path / "err"))
    sink = ParquetFullRefreshSink(str(tmp_path / "sink"))
    job = CsvImportJob(
        pk="id", fields=None, datetime_fields=[], sink=sink, queue=q,
        source_name="orders",
    )
    got = import_csv_to_table(spark, job)
    assert list(got.values()) == [Outcome.PROCESSED]


def test_import_quarantines_out_of_range_serial(spark, tmp_path):
    """r10 review: a serial like 200000000 CASTS to double fine but no
    DateTime can hold it — it used to sail into the sink as a silent
    NULL; it is poison and must be quarantined like a non-numeric."""
    from etl_excel_csv_sql_spark.io.jdbc import ParquetFullRefreshSink
    from etl_excel_csv_sql_spark.runner.folder_queue import FolderQueue
    from etl_excel_csv_sql_spark.runner.pipeline import (
        CsvImportJob,
        import_csv_to_table,
    )

    drop = tmp_path / "drop"; drop.mkdir()
    (drop / "f.csv").write_text(
        "id,when\n1,45123.5\n2,200000000\n3,oops\n"
    )
    q = FolderQueue(str(drop), str(tmp_path / "done"), str(tmp_path / "err"))
    sink = ParquetFullRefreshSink(str(tmp_path / "sink"))
    qsink = ParquetFullRefreshSink(str(tmp_path / "qsink"))
    job = CsvImportJob(
        pk="id", fields=None, datetime_fields=["when"], sink=sink, queue=q,
        quarantine_sink=qsink,
    )
    import_csv_to_table(spark, job)
    good_ids = {r.id for r in sink.read(spark).collect()}
    bad = {r.id: r._reject_reason for r in qsink.read(spark).collect()}
    assert good_ids == {"1"}
    assert set(bad) == {"2", "3"}
    assert "range" in bad["2"] and "cast" in bad["3"]


def test_import_archive_rollback_keeps_batch_together(spark, tmp_path):
    """r10 review: with a multi-file full-refresh batch, archiving A but
    failing on B meant the NEXT cycle refreshed with only B — silently
    erasing A's rows from the sink while A sat in Processed/. A failed
    archive now rolls the already-archived members back into the drop
    folder so the whole batch retries together."""
    from unittest import mock

    from etl_excel_csv_sql_spark.io.jdbc import ParquetFullRefreshSink
    from etl_excel_csv_sql_spark.runner.folder_queue import (
        FolderQueue,
        Outcome,
    )
    from etl_excel_csv_sql_spark.runner.pipeline import (
        CsvImportJob,
        import_csv_to_table,
    )

    drop = tmp_path / "drop"; drop.mkdir()
    (drop / "a.csv").write_text("id,v\n1,10\n")
    (drop / "b.csv").write_text("id,v\n2,20\n")
    q = FolderQueue(str(drop), str(tmp_path / "done"), str(tmp_path / "err"))
    sink = ParquetFullRefreshSink(str(tmp_path / "sink"))
    job = CsvImportJob(
        pk="id", fields=None, datetime_fields=[], sink=sink, queue=q,
    )

    real_archive = q.archive

    def failing_archive(path, now=None):
        if path.endswith("b.csv"):
            raise OSError("simulated lock")
        return real_archive(path, now)

    with mock.patch.object(q, "archive", side_effect=failing_archive):
        got = import_csv_to_table(spark, job)
    assert set(got.values()) == {Outcome.SKIPPED}
    # a.csv is back in the drop folder; nothing lingers in Processed/
    import os

    assert sorted(os.listdir(drop)) == ["a.csv", "b.csv"]
    # next cycle re-imports the FULL batch
    got2 = import_csv_to_table(spark, job)
    assert set(got2.values()) == {Outcome.PROCESSED}
    assert {r.id for r in sink.read(spark).collect()} == {"1", "2"}


def test_watermark_missing_file_returns_false(tmp_path):
    """r10 review: a settings-referenced workbook that has not been
    dropped yet is 'nothing to process', not an uncaught
    FileNotFoundError that kills the remaining sources' exports."""
    from etl_excel_csv_sql_spark.runner.watermark import WatermarkStore

    store = WatermarkStore(str(tmp_path / "wm"))
    assert store.should_process("book", str(tmp_path / "nope.xlsx")) is False


def test_retention_sweep_skips_locked_files(tmp_path):
    """r10 review: one undeletable file must not abort the sweep and
    discard the partial report — it is reported deleted=False."""
    import os
    import time
    from unittest import mock

    from etl_excel_csv_sql_spark.runner.retention import retention_sweep

    d = tmp_path / "logs"; d.mkdir()
    old = time.time() - 90 * 86400
    for name in ("a.log", "b.log", "c.log"):
        p = d / name
        p.write_text("x")
        os.utime(p, (old, old))

    real_remove = os.remove

    def failing_remove(path):
        if path.endswith("b.log"):
            raise PermissionError("locked")
        real_remove(path)

    with mock.patch(
        "etl_excel_csv_sql_spark.runner.retention.os.remove",
        side_effect=failing_remove,
    ):
        swept = retention_sweep([str(d)], max_age_days=30)
    by_name = {s.path.split("/")[-1]: s.deleted for s in swept}
    assert by_name == {"a.log": True, "b.log": False, "c.log": True}
    assert sorted(os.listdir(d)) == ["b.log"]


def test_copy_plan_rejects_root_escapes(spark, tmp_path):
    """r10 review: absolute or traversal components from DB rows must
    not escape src_root/dst_root (os.path.join discards the root on an
    absolute component)."""
    from etl_excel_csv_sql_spark.runner.copyplan import execute_copy_plan

    src_root = tmp_path / "src"; src_root.mkdir()
    dst_root = tmp_path / "dst"
    (src_root / "ok.pdf").write_text("data")
    plan = spark.createDataFrame(
        [
            ("ok.pdf", "out.pdf"),
            ("/etc/hostname", "stolen.pdf"),
            ("../../outside.pdf", "esc.pdf"),
        ],
        "src_path string, dst_name string",
    )
    counts = execute_copy_plan(plan, str(src_root), str(dst_root))
    assert counts["copied"] == 1
    assert counts["missing"] == 2
    import os

    assert sorted(os.listdir(dst_root)) == ["out.pdf"]


def test_copy_plan_relative_root_and_empty_components(spark, tmp_path, monkeypatch):
    """r10 ADVICE: a relative root of '.' broke containment (normpath
    drops the './' prefix from joined paths so every row read as an
    escape), and an empty/whitespace component resolved to the root
    directory itself — passing containment only for copyfile to die on
    a directory. abspath-anchoring + explicit empty rejection fix both."""
    from etl_excel_csv_sql_spark.runner.copyplan import execute_copy_plan

    (tmp_path / "srcrel").mkdir()
    (tmp_path / "srcrel" / "ok.pdf").write_text("data")
    monkeypatch.chdir(tmp_path)
    plan = spark.createDataFrame(
        [
            ("ok.pdf", "out.pdf"),
            ("", "from_empty.pdf"),   # empty src component → missing
            ("ok.pdf", "  "),          # whitespace dst component → missing
        ],
        "src_path string, dst_name string",
    )
    counts = execute_copy_plan(plan, "./srcrel", "./dstrel")
    assert counts["copied"] == 1
    assert counts["missing"] == 2
    assert sorted(os.listdir(tmp_path / "dstrel")) == ["out.pdf"]
