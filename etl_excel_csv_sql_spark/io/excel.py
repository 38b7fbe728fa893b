"""Excel source (SURVEY §2.1 S1/S2, §4.3).

Reference behaviors replicated:
- S1 sheet-catalog probe: ``Get-ExcelSheetInfo`` (ExcelToCSVexport.ps1:171)
  → :func:`excel_sheet_names`.
- S2 sheet scan with header offset: ``Import-Excel -WorksheetName $sheet
  -StartRow $headerRow`` (ExcelToCSVexport.ps1:192, headerRow from settings
  :112) → :func:`read_excel_sheet`: row ``header_row`` (1-based) is the
  header, data starts on the next row, columns are all-string (the
  reference's untyped model, SURVEY §1.2). The sheet is built column by
  column into one Arrow table, which Spark takes as a whole: no per-row
  conversion on the driver and no Python worker in the job that reads it.
- Sheet-name matching is case-insensitive and trimmed
  (:func:`match_sheets`), fixing the reference's malformed trim
  (ExcelToCSVexport.ps1:111, SURVEY §2.12#2) while preserving the
  case-insensitive ``-eq`` (P5).

Scale note: an .xlsx worksheet is a single compressed XML stream — it
cannot be split across executors. The scale path is
:func:`stage_workbook_to_parquet`: parse each configured sheet once in its
own worker process (streaming iterparse), write it as one parquet file with
pyarrow, and let every downstream read be a parallel columnar scan.
Workbooks are operationally small (human-authored); 100 TB arrives as many
workbooks, parallelized by the runner across files, not within one sheet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_excel_csv_sql_spark.io import xlsx


def excel_sheet_names(path: str) -> list[str]:
    """S1: worksheet names in workbook order."""
    return xlsx.sheet_names(path)


def match_sheets(available: list[str], configured: list[str]) -> list[str]:
    """P5/J3: which available sheets are configured for export —
    case-insensitive, trimmed equality, preserving workbook order
    (ExcelToCSVexport.ps1:175-183)."""
    wanted = {s.strip().lower() for s in configured}
    return [s for s in available if s.strip().lower() in wanted]


def _stringify(value) -> str | None:
    if value is None:
        return None
    if isinstance(value, bool):
        return "True" if value else "False"  # PowerShell-style booleans
    if isinstance(value, float):
        # Excel stores all numbers as doubles; render integers without ".0"
        # (what Import-Csv round-trips show for integer cells)
        return str(int(value)) if value.is_integer() else repr(value)
    return str(value)


def read_excel_sheet(
    spark: SparkSession,
    path: str,
    sheet: str,
    header_row: int = 1,
) -> DataFrame:
    """S2: one worksheet → all-string DataFrame.

    ``header_row`` is 1-based (the reference's ``StartRow``): rows above it
    are skipped, its cells become column names (empty/missing header cells
    get positional ``_cN`` names), and every later row is a data row padded
    or truncated to the header width.
    """
    return spark.createDataFrame(_sheet_table(path, sheet, header_row))


def _sheet_table(path: str, sheet: str, header_row: int):
    """One worksheet → a ``pa.Table`` of ``pa.string()`` columns, shared by
    :func:`read_excel_sheet` and the parquet staging worker: row
    ``header_row`` (1-based) names the columns (empty cells → ``_cN``),
    later rows pad/truncate to the header width, every cell stringifies
    PowerShell-style. A ``header_row`` that names no columns raises
    ``ValueError`` before any output is touched: neither the CSV nor the
    parquet writer can land a 0-column table."""
    import pyarrow as pa

    rows = xlsx.read_rows(path, sheet)
    raw_header = rows[header_row - 1] if 0 < header_row <= len(rows) else []
    if not raw_header:
        raise ValueError(
            f"sheet {sheet!r}: header_row {header_row} yields no columns"
        )
    header = [
        (str(h).strip() if h not in (None, "") else f"_c{i}")
        for i, h in enumerate(raw_header)
    ]
    data = rows[header_row:]
    arrays = [
        pa.array(
            [_stringify(r[i]) if i < len(r) else None for r in data],
            type=pa.string(),
        )
        for i in range(len(header))
    ]
    return pa.Table.from_arrays(arrays, names=header)


def _stage_sheet(args: tuple) -> tuple:
    """Process-pool worker: parse ONE sheet and write parquet via
    pyarrow — no Spark, no GIL sharing with sibling sheets. Module-level
    for picklability."""
    path, sheet, header_row, dest = args
    import pyarrow.parquet as pq

    table = _sheet_table(path, sheet, header_row)
    header = table.column_names
    if len(set(header)) != len(header):
        # a name-keyed dict would let the LAST duplicate silently
        # overwrite the first — data loss; Spark's reader would also
        # reject the file
        dupes = sorted({h for h in header if header.count(h) > 1})
        raise ValueError(f"sheet {sheet!r}: duplicate header names {dupes}")
    # written only AFTER the parse succeeds — a corrupt sheet or bad
    # header_row must not destroy the previous good staging output
    pq.write_table(table, dest)
    return sheet, dest


def stage_workbook_to_parquet(
    path: str,
    out_dir: str,
    sheets: list[str] | None = None,
    header_row: int = 1,
    max_workers: int = 8,
) -> dict[str, str]:
    """Parse each (configured or all) sheet once and land it as parquet —
    the scale path: every downstream query then gets a splittable columnar
    scan with pushdown instead of a driver-side XML parse. Returns
    {sheet: parquet_path} in workbook order.

    Sheets stage CONCURRENTLY: each sheet parses AND writes in its own
    PROCESS (pyarrow writer, one .parquet file per sheet, all-string
    columns), so there is no GIL sharing and staging scales with cores.
    Spark reads the result like any parquet file.
    Re-staging into the same ``out_dir`` overwrites each sheet's file.
    ``max_workers=1`` parses in the calling process, serially."""
    import os
    from concurrent.futures import ProcessPoolExecutor

    available = excel_sheet_names(path)
    targets = match_sheets(available, sheets) if sheets is not None else available
    if not targets:
        return {}
    os.makedirs(out_dir, exist_ok=True)
    jobs = [
        (path, sheet, header_row, f"{out_dir}/{sheet}.parquet")
        for sheet in targets
    ]
    workers = max(1, min(max_workers, len(targets)))
    if workers == 1:
        return dict(_stage_sheet(j) for j in jobs)
    with ProcessPoolExecutor(max_workers=workers) as pool:
        return dict(pool.map(_stage_sheet, jobs))
