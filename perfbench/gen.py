"""Seeded input generators. The same seed always gives byte-identical inputs.

Two families:

- :func:`make_corpus` writes the parquet tables the registered dedup and
  similarity queries read: a text corpus with planted near-duplicates and
  clustered embeddings, with the engine catalog's column names and types.
- :func:`make_etl_inputs` writes the reference lifecycle's inputs: a
  workbook (Invoices + Orders sheets) holding Excel-serial dates, poison
  dates, empty keys and hostile cells, an invoice list with a planted
  found/missing split, and the document tree the invoice search copies from.
  It returns an :class:`EtlPlan` with every count and value the checks
  expect.

The workbook writer is the benchmark's own, not the package's
``io.xlsx.write_workbook``: a change to the package's writer must not change
the bytes the package's reader is timed on, so the parent and child of a
change parse identical workbooks.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import zipfile
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "de", "es", "fr", "zh")
#: Every table the query workload reads.
TABLES = ("documents", "embeddings")


def make_corpus(out_dir: str, seed: int, n_docs: int, n_emb: int) -> dict[str, int]:
    """Write the ``documents`` and ``embeddings`` tables under ``out_dir``.
    Ids stay below 5000 (documents) and 2000 (embeddings), the id ranges
    the SimHash/MinHash twin corpora are proven collision-free on."""
    if n_docs > 5000 or n_emb > 2000:
        raise ValueError("corpus larger than the proven id range")
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(_documents(rng, n_docs)),
                   os.path.join(out_dir, "documents.parquet"))
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_emb}


def _documents(rng, n: int) -> dict:
    """Random word texts, 5% near-duplicates (a prefix of an earlier text
    plus a marker word) and 0.2% exact duplicates."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            keep = max(3, int(len(src) * rng.uniform(0.6, 0.95)))
            texts.append(" ".join(src[:keep] + ["dup"]))
        elif i > 10 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))]
            texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


# ---------------------------------------------------------------------------
# Lifecycle inputs
# ---------------------------------------------------------------------------

#: Hostile cells planted in the Notes/Comment columns, with the value the
#: sanitizer must store for each.
HOSTILE = (
    "DROP TABLE x; --",
    "O'Brien; said \"hi\"",
    "select * from invoices",
    "a -;- b",
    "EXECUTE proc_x",
    "semi;colon, comma",
    "union all 'quoted'",
)
_KEYWORDS = (
    "SELECT INSERT UPDATE DELETE DROP ALTER CREATE EXECUTE EXEC GRANT REVOKE "
    "UNION TRUNCATE TABLES TABLE"
).split()
_KEYWORD_RE = re.compile(r"\b(" + "|".join(_KEYWORDS) + r")\b", re.IGNORECASE)
_EXCEL_EPOCH = dt.datetime(1899, 12, 30)
POISON_DATES = ("n/a", "31/02/2024", "TBD", "3000000", "-700000")

INVOICE_COLUMNS = (
    "InvoiceNumber", "InvoiceDate", "DueDate", "CustomerRef",
    "SubFolder", "FileName", "Amount", "Notes",
)
ORDER_COLUMNS = (
    "OrderId", "OrderDate", "ShipDate", "Customer", "Qty", "Price", "Comment",
)


def sanitized(cell: str) -> str:
    """The value the import's cell sanitizer stores for ``cell``: strip
    quote, semicolon and double dash in that order, then bracket keywords."""
    for tok in ("'", ";", "--"):
        cell = cell.replace(tok, "")
    return _KEYWORD_RE.sub(lambda m: f"[[{m.group(1)}]]", cell)


def serial_text(serial: float) -> str:
    """How the Excel export renders a numeric cell."""
    return str(int(serial)) if float(serial).is_integer() else repr(serial)


def serial_to_sql(serial: float) -> str:
    """The import's Excel-serial conversion, as stored in the table."""
    stamp = _EXCEL_EPOCH + dt.timedelta(seconds=round(serial * 86400))
    return stamp.strftime("%Y-%m-%d %H:%M:%S")


@dataclass
class EtlPlan:
    """Paths of the generated lifecycle inputs and what a cycle must yield."""

    workbook: str
    invoice_csv: str
    invoice_csv_text: str
    docs_root: str
    good_rows: dict[str, int]
    quarantined: dict[str, int]
    invoices_listed: int
    invoices_found: int
    copies_expected: int
    copies_missing: int
    found_numbers: frozenset[str]
    #: (table, key column, key, column, expected stored value)
    spot_checks: list[tuple[str, str, str, str, str]] = field(default_factory=list)


def _sheet_rows(rng, n: int, kind: str, docs: list | None):
    """Rows of one sheet, the keys of rows the import keeps, the number it
    quarantines, and spot checks."""
    header = list(INVOICE_COLUMNS if kind == "Invoices" else ORDER_COLUMNS)
    rows: list[list] = [header]
    good: set[str] = set()
    spots = []
    table = kind.upper()
    key_col = header[0]
    for i in range(n):
        key = f"INV-{i:07d}" if kind == "Invoices" else f"ORD-{i:07d}"
        day = int(rng.integers(36_000, 46_000))
        sec = int(rng.integers(0, 86_400))
        serial = (day * 86_400 + sec) / 86_400
        second = float(day + int(rng.integers(1, 90)))
        roll = rng.random()
        poisoned = roll < 0.01
        empty_key = 0.01 <= roll < 0.015
        if poisoned:
            serial_cell: object = POISON_DATES[i % len(POISON_DATES)]
            if serial_cell.lstrip("-").isdigit():
                serial_cell = float(serial_cell)
        else:
            serial_cell = serial
        note = HOSTILE[i % len(HOSTILE)] if i % 5 == 0 else f"note {i}"
        if kind == "Invoices":
            sub, name = docs[i]
            row = [
                None if empty_key else key, serial_cell, second,
                f"cust{i % 97}/branch{i % 7}", sub, name,
                int(rng.integers(100, 1_000_000)) / 100.0, note,
            ]
        else:
            row = [
                None if empty_key else key, serial_cell, second,
                f"Customer {i % 211}", int(rng.integers(1, 50)),
                int(rng.integers(100, 100_000)) / 100.0, note,
            ]
        rows.append(row)
        if poisoned or empty_key:
            continue
        good.add(key)
        if i % 5 == 0 and len(spots) < 12:
            spots.append((table, key_col, key, header[-1], sanitized(note)))
        if isinstance(serial_cell, float) and len(spots) < 24 and i % 7 == 1:
            spots.append((table, key_col, key, header[1], serial_to_sql(serial_cell)))
    return rows, good, n - len(good), spots


def make_etl_inputs(root: str, seed: int, rows_per_sheet: int) -> EtlPlan:
    """Write the workbook, the invoice list and the document tree under
    ``root``; every count in the returned plan follows from ``seed``."""
    rng = np.random.default_rng(seed)
    docs_root = os.path.join(root, "docs")
    n = rows_per_sheet
    docs = [(f"{2020 + i % 5}/{i % 12 + 1:02d}", f"INV-{i:07d}.pdf") for i in range(n)]
    # ~1% of the database rows point at documents that were never filed
    absent = set(rng.choice(n, size=max(1, n // 100), replace=False).tolist())
    for i, (sub, name) in enumerate(docs):
        if i in absent:
            continue
        os.makedirs(os.path.join(docs_root, sub), exist_ok=True)
        with open(os.path.join(docs_root, sub, name), "wb") as fh:
            fh.write(f"%PDF {seed} {i}\n".encode())

    inv_rows, inv_good, inv_bad, inv_spots = _sheet_rows(rng, n, "Invoices", docs)
    ord_rows, ord_good, ord_bad, ord_spots = _sheet_rows(rng, n, "Orders", None)
    workbook = os.path.join(root, "book.xlsx")
    write_xlsx(workbook, {"Invoices": inv_rows, "Orders": ord_rows})

    # invoice list: every other workbook invoice plus numbers never issued
    listed = [f"INV-{i:07d}" for i in range(0, n, 2)]
    listed += [f"INV-{n + i:07d}" for i in range(max(1, n // 20))]
    found = frozenset(k for k in listed if k in inv_good)
    copies = sum(1 for k in found if int(k[4:]) not in absent)
    text = "InvoiceNumber,Found\n" + "".join(f"{k},\n" for k in listed)
    invoice_csv = os.path.join(root, "invoices.csv")
    with open(invoice_csv, "w", encoding="utf-8") as fh:
        fh.write(text)
    return EtlPlan(
        workbook=workbook,
        invoice_csv=invoice_csv,
        invoice_csv_text=text,
        docs_root=docs_root,
        good_rows={"INVOICES": len(inv_good), "ORDERS": len(ord_good)},
        quarantined={"INVOICES": inv_bad, "ORDERS": ord_bad},
        invoices_listed=len(listed),
        invoices_found=len(found),
        copies_expected=copies,
        copies_missing=len(found) - copies,
        found_numbers=found,
        spot_checks=inv_spots + ord_spots,
    )


def _col_letter(idx: int) -> str:
    letters = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        letters = chr(ord("A") + rem) + letters
    return letters


def write_xlsx(path: str, sheets: dict[str, list[list]]) -> None:
    """Minimal Office Open XML workbook: inline strings and numeric cells.
    Kept separate from the package's writer so the inputs stay fixed when
    that writer changes (see the module docstring)."""
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg_ns = "http://schemas.openxmlformats.org/package/2006/relationships"
    ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    parts: dict[str, str] = {}
    overrides, wb_sheets, wb_rels = [], [], []
    for i, (name, rows) in enumerate(sheets.items(), start=1):
        overrides.append(
            f'<Override PartName="/xl/worksheets/sheet{i}.xml" '
            f'ContentType="{ct}.worksheet+xml"/>'
        )
        wb_sheets.append(f'<sheet name="{escape(name)}" sheetId="{i}" r:id="rId{i}"/>')
        wb_rels.append(
            f'<Relationship Id="rId{i}" Type="{rel_ns}/worksheet" '
            f'Target="worksheets/sheet{i}.xml"/>'
        )
        body = []
        for r, row in enumerate(rows, start=1):
            cells = []
            for c, val in enumerate(row):
                ref = f"{_col_letter(c)}{r}"
                if val is None:
                    continue
                if isinstance(val, (int, float)):
                    cells.append(f'<c r="{ref}"><v>{val!r}</v></c>')
                else:
                    cells.append(
                        f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                        f"{escape(val)}</t></is></c>"
                    )
            body.append(f'<row r="{r}">{"".join(cells)}</row>')
        parts[f"xl/worksheets/sheet{i}.xml"] = (
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet {ns}><sheetData>'
            + "".join(body)
            + "</sheetData></worksheet>"
        )
    parts["[Content_Types].xml"] = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" '
        'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        f'<Override PartName="/xl/workbook.xml" ContentType="{ct}.sheet.main+xml"/>'
        + "".join(overrides)
        + "</Types>"
    )
    parts["_rels/.rels"] = (
        f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg_ns}">'
        f'<Relationship Id="rId1" Type="{rel_ns}/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    parts["xl/workbook.xml"] = (
        f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} xmlns:r="{rel_ns}">'
        f'<sheets>{"".join(wb_sheets)}</sheets></workbook>'
    )
    parts["xl/_rels/workbook.xml.rels"] = (
        f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg_ns}">'
        + "".join(wb_rels)
        + "</Relationships>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, content in parts.items():
            zf.writestr(name, content)
