"""Excel source: S1 sheet catalog, S2 header-offset scan, P5 matching.

Fixtures are written by the pure-stdlib xlsx writer and read back through
the full io.excel path (writer and reader share only the file format, so a
roundtrip exercises both)."""

from __future__ import annotations

import os

from etl_excel_csv_sql_spark.io import xlsx
from etl_excel_csv_sql_spark.io.excel import (
    excel_sheet_names,
    match_sheets,
    read_excel_sheet,
    stage_workbook_to_parquet,
)


def _workbook(tmp_path) -> str:
    path = os.path.join(tmp_path, "book.xlsx")
    xlsx.write_workbook(
        path,
        {
            "Invoices": [
                ["garbage banner row", None],          # row 1: pre-header junk
                ["InvoiceNumber", "Amount", "Note"],   # row 2: header
                ["INV-001", 12.5, "ok"],
                ["INV-002", 99, "has, comma"],
                ["INV-003", None, "Ünïcødé"],
            ],
            "Ignore Me": [["a"], ["1"]],
        },
    )
    return path


def test_sheet_names_in_order(tmp_path):
    assert excel_sheet_names(_workbook(tmp_path)) == ["Invoices", "Ignore Me"]


def test_match_sheets_case_insensitive_trimmed(tmp_path):
    # P5 + SURVEY §2.12#2: reference matching is case-insensitive -eq with
    # a broken trim; ours trims properly and preserves workbook order
    available = excel_sheet_names(_workbook(tmp_path))
    assert match_sheets(available, ["  invoices ", "IGNORE ME"]) == [
        "Invoices",
        "Ignore Me",
    ]
    assert match_sheets(available, ["nope"]) == []


def test_read_sheet_header_offset_all_string(spark, tmp_path):
    # S2: header at row 2 (StartRow semantics); everything comes back string
    df = read_excel_sheet(spark, _workbook(tmp_path), "Invoices", header_row=2)
    assert df.columns == ["InvoiceNumber", "Amount", "Note"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string"] * 3
    rows = {r["InvoiceNumber"]: r for r in df.collect()}
    assert rows["INV-001"]["Amount"] == "12.5"
    assert rows["INV-002"]["Amount"] == "99"      # integral float → no ".0"
    assert rows["INV-003"]["Amount"] is None
    assert rows["INV-003"]["Note"] == "Ünïcødé"


def test_stage_workbook_to_parquet(spark, tmp_path):
    out = stage_workbook_to_parquet(
        _workbook(tmp_path),
        str(tmp_path / "staged"),
        sheets=["invoices"],
        header_row=2,
    )
    assert list(out) == ["Invoices"]
    staged = spark.read.parquet(out["Invoices"])
    assert staged.count() == 3


def test_stage_workbook_parallel_matches_serial(spark, tmp_path):
    """Process-pooled staging must produce byte-identical sheet contents
    and the same workbook-ordered mapping as the serial path, on a
    many-sheet workbook."""
    from etl_excel_csv_sql_spark.io import xlsx

    n_sheets, n_rows = 10, 300
    sheets = {
        f"Sheet{i:02d}": [["id", "val"]]
        + [[f"r{i}-{j}", float(j)] for j in range(n_rows)]
        for i in range(n_sheets)
    }
    wb = str(tmp_path / "many.xlsx")
    xlsx.write_workbook(wb, sheets)
    serial = stage_workbook_to_parquet(wb, str(tmp_path / "ser"), max_workers=1)
    par = stage_workbook_to_parquet(wb, str(tmp_path / "par"), max_workers=8)
    assert list(serial) == list(par) == sorted(sheets)
    for name in sheets:
        a = {tuple(r) for r in spark.read.parquet(serial[name]).collect()}
        b = {tuple(r) for r in spark.read.parquet(par[name]).collect()}
        assert a == b and len(a) == n_rows, name
        # all-string columns
        sch = spark.read.parquet(par[name]).schema
        assert [f.dataType.simpleString() for f in sch.fields] == ["string"] * 2


def test_stage_workbook_arrow_rejects_empty_header(spark, tmp_path):
    """A header_row beyond the sheet must FAIL instead of landing a
    0-column file Spark can't read — in the calling process and from a
    pool worker alike."""
    import pytest

    from etl_excel_csv_sql_spark.io import xlsx

    wb = str(tmp_path / "one.xlsx")
    xlsx.write_workbook(
        wb, {"S": [["a", "b"], ["1", "2"]], "T": [["c"], ["3"]]}
    )
    for workers in (1, 8):
        with pytest.raises(ValueError, match="no columns"):
            stage_workbook_to_parquet(
                wb, str(tmp_path / f"w{workers}"), header_row=99,
                max_workers=workers,
            )


def test_export_csv_bytes(spark, tmp_path):
    """read_excel_sheet → write_csv_single gives these exact bytes: blank
    header → _cN, "" vs a missing cell, kept spaces, quoting, a non-BMP
    character, PowerShell booleans, integral doubles without exponent or
    sign, short and long rows, and duplicate header names kept."""
    from etl_excel_csv_sql_spark.io import csv_io

    wb = str(tmp_path / "parity.xlsx")
    xlsx.write_workbook(
        wb,
        {
            "Hdr": [["a", "b", "c"]],
            "Mix": [
                ["k", None, "e", "s"],
                ["x", 1, "", "  lead and trail  "],
                ["y", 2.5, 'q"uote,comma\nnewline'],
                ["z", True, "\U0001F600", 1e20],
                ["w", -0.0],
                ["v", 1, 2, 3, "extra"],
            ],
            "Dup": [["a", "a"], [1, 2]],
        },
    )
    expected = {
        "Hdr": b"a,b,c\n",
        "Mix": (
            b"k,_c1,e,s\n"
            b'x,1,"",  lead and trail  \n'
            b'y,2.5,"q""uote,comma\nnewline",\n'
            b"z,True,\xf0\x9f\x98\x80,100000000000000000000\n"
            b"w,0,,\n"
            b"v,1,2,3\n"
        ),
        "Dup": b"a,a\n1,2\n",
    }
    for sheet, want in expected.items():
        out = str(tmp_path / f"{sheet}.csv")
        csv_io.write_csv_single(read_excel_sheet(spark, wb, sheet), out)
        with open(out, "rb") as fh:
            assert fh.read() == want, sheet


def test_export_header_row_outside_sheet_fails_before_divert(spark, tmp_path):
    """A header_row that names no columns raises ValueError before the
    export touches the drop folder: the previous, unconsumed CSV stays
    where it is and nothing lands in the Error folder."""
    import pytest

    from etl_excel_csv_sql_spark.runner.pipeline import (
        ExcelExportJob,
        export_excel_to_csv,
    )
    from etl_excel_csv_sql_spark.runner.watermark import WatermarkStore

    wb = str(tmp_path / "book.xlsx")
    xlsx.write_workbook(wb, {"Orders": [["OrderId"], ["O-1"]]})
    out_dir, err_dir = tmp_path / "out", tmp_path / "Error"
    out_dir.mkdir()
    old = out_dir / "Orders.csv"
    old.write_bytes(b"OrderId\nO-0\n")
    for header_row in (0, 3):
        job = ExcelExportJob(
            source_name="book",
            workbook_path=wb,
            sheets=["Orders"],
            header_row=header_row,
            csv_out_dir=str(out_dir),
            error_dir=str(err_dir),
            watermarks=WatermarkStore(str(tmp_path / "state")),
        )
        with pytest.raises(
            ValueError, match=f"header_row {header_row} yields no columns"
        ):
            export_excel_to_csv(spark, job)
        assert old.read_bytes() == b"OrderId\nO-0\n"
        assert not err_dir.exists()
        assert job.watermarks.should_process("book", wb)


def test_xlsx_rless_cells_and_phonetic_runs_and_abs_targets(tmp_path):
    """r10 review triplet: (a) cells without r attributes append
    sequentially instead of clobbering column A; (b) <rPh> phonetic
    (furigana) runs are excluded from shared strings; (c) absolute
    workbook-rels targets ('/xl/worksheets/sheet1.xml') resolve."""
    import zipfile

    from etl_excel_csv_sql_spark.io import xlsx

    wb = str(tmp_path / "crafted.xlsx")
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData>'
        '<row r="1"><c t="inlineStr"><is><t>a</t></is></c>'
        '<c t="inlineStr"><is><t>b</t></is></c>'
        '<c><v>3</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>0</v></c></row>'
        "</sheetData></worksheet>"
    )
    shared = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<si><r><t>東京</t></r><rPh><t>トウキョウ</t></rPh></si></sst>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" '
        'Target="/xl/worksheets/sheet1.xml"/></Relationships>'
    )
    with zipfile.ZipFile(wb, "w") as zf:
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
        zf.writestr("xl/sharedStrings.xml", shared)
    rows = xlsx.read_rows(wb, "S")
    assert rows[0] == ["a", "b", 3.0]
    assert rows[1] == ["東京"]
