"""Scalar functions replicating the reference's per-cell behaviors.

Reference provenance (all PowerShell, /root/reference):
- SanitizeString            CSVtoSQLimport.ps1:59-78
- ConvertExcelDateToSQL     CSVtoSQLimport.ps1:80-92
- EncloseWithBrackets       CSVtoSQLimport.ps1:49-57
- CustomerRef path scrub    InvoiceFileSearchFromSQL.ps1:88-90
- filename composition      InvoiceFileSearchFromSQL.ps1:101-102
- timestamp formatting      ExcelToCSVexport.ps1:29-32, CSVtoSQLimport.ps1:258

All are pure column expressions (JVM-side); none require a UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str

#: True Excel epoch (accounts for the 1900 leap-year bug): serial 1 is
#: 1899-12-31, serial 60 is the phantom 1900-02-29 — for serials > 60 the
#: 1899-12-30 origin yields the dates Excel displays. The reference
#: hard-codes 1900-01-01 (CSVtoSQLimport.ps1:84), which stores every date
#: two days after the one Excel displays; that skew is not reproduced.
EXCEL_ORIGIN_TRUE = "1899-12-30"

#: Serial day numbers representable as .NET DateTime from the true
#: origin ([0001-01-01, 9999-12-31]) — the reference's AddDays throws
#: (→ null) outside it. Shared with quarantine range checks so the
#: import pipeline and the scalar stay in lockstep.
EXCEL_SERIAL_RANGE: tuple[float, float] = (-693_593.0, 2_958_465.0)

#: Keywords the reference wraps in double brackets (CSVtoSQLimport.ps1:63-75),
#: plus UNION (absent there — an engine addition). The reference's own
#: matching is CASE-SENSITIVE substring .Replace in list order (so "Select"
#: passes through and "EXECUTE" becomes "[[EXEC]]UTE" because EXEC runs
#: first); this engine deliberately deviates to case-insensitive
#: WORD-BOUNDARY matching with longest-keyword-first — documented, not
#: byte-compat (§2.12-style intended-semantics call).
_SQL_KEYWORDS = (
    "SELECT",
    "INSERT",
    "UPDATE",
    "DELETE",
    "DROP",
    "ALTER",
    "CREATE",
    # EXECUTE before EXEC / TABLES before TABLE: regex alternation is
    # leftmost-first in both Java regex (Spark) and RE2 (DuckDB oracle);
    # the longer keyword must win.
    "EXECUTE",
    "EXEC",
    "GRANT",
    "REVOKE",
    "UNION",
    "TRUNCATE",
    "TABLES",
    "TABLE",
)


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def excel_serial_to_timestamp(serial: ColumnOrName) -> Column:
    """Excel serial day number (double) → timestamp from
    :data:`EXCEL_ORIGIN_TRUE`.

    Mirrors ConvertExcelDateToSQL (CSVtoSQLimport.ps1:80-92): fractional
    days become time-of-day, rounded to the nearest second; non-numeric /
    null input yields null (the reference logs and returns $null — callers
    quarantine nulls, see runner.quarantine_split).
    """
    # try_cast: malformed input → null (the reference's log-and-$null),
    # including under Spark 4's default ANSI mode where cast would throw.
    # RANGE guard: the reference's DateTime.AddDays throws (→ null) for
    # serials outside [0001-01-01, 9999-12-31]; without it a large-but-
    # numeric serial (e.g. "200000000") sails past the double cast and
    # KILLS the whole batch in timestamp_seconds' long multiply —
    # contradicting the log-and-null contract (code-review r9 catch).
    serial_d = _col(serial).try_cast("double")
    in_range = (serial_d >= F.lit(EXCEL_SERIAL_RANGE[0])) & (
        serial_d <= F.lit(EXCEL_SERIAL_RANGE[1])
    )
    seconds = F.round(serial_d * F.lit(86400.0)).cast("long")
    base = F.unix_timestamp(F.to_timestamp(F.lit(f"{EXCEL_ORIGIN_TRUE} 00:00:00")))
    return F.when(
        serial_d.isNotNull() & in_range, F.timestamp_seconds(base + seconds)
    )


def sanitize_sql_string(value: ColumnOrName) -> Column:
    """Cell sanitizer after SanitizeString (CSVtoSQLimport.ps1:59-78):
    strip ``'``, then ``;``, then ``--`` — SEQUENTIALLY, like the
    reference's chained .Replace calls: a single alternation pass left
    live ``--`` comment tokens whenever the removal itself formed them
    ("-;-" → "--" — code-review r9 catch) — then wrap bare SQL keywords
    in ``[[...]]``.

    Keyword matching deliberately deviates from the reference
    (case-insensitive word boundaries vs its case-sensitive substring
    .Replace in EXEC-first order — see _SQL_KEYWORDS). Unnecessary under
    typed/parameterized JDBC writes (the engine's default sink is
    injection-free by construction).
    """
    cleaned = _col(value)
    for tok in ("'", ";", "--"):
        cleaned = F.replace(cleaned, F.lit(tok), F.lit(""))
    keyword_alt = "|".join(_SQL_KEYWORDS)
    return F.regexp_replace(cleaned, rf"(?i)\b({keyword_alt})\b", r"[[$1]]")


def scrub_path_chars(value: ColumnOrName) -> Column:
    """Replace path separators ``\\`` and ``/`` (user-typed fields used in
    filenames; InvoiceFileSearchFromSQL.ps1:88-90)."""
    return F.regexp_replace(_col(value), r"[\\/]", " ")


def compose_filename(*parts: ColumnOrName) -> Column:
    """``"{invnum} - {customerRef} - {fileName}"`` composition
    (InvoiceFileSearchFromSQL.ps1:101-102). Null parts render as EMPTY
    segments (two separators in a row), matching PowerShell's format
    operator — concat_ws would silently SKIP them, composing a filename
    the reference system never wrote (code-review r9 catch)."""
    return F.concat_ws(
        " - ",
        *[F.coalesce(_col(p).cast("string"), F.lit("")) for p in parts],
    )


def format_timestamp(ts: ColumnOrName, fmt: str = "yyyy.MM.dd HH.mm") -> Column:
    """Timestamp → string in the reference's archive/log naming formats
    (``yyyy.MM.dd HH.mm`` CSVtoSQLimport.ps1:258, ``yyyyMMdd``
    ExcelToCSVexport.ps1:32)."""
    return F.date_format(_col(ts), fmt)


def enclose_with_brackets(identifier: str) -> str:
    """SQL identifier quoting (CSVtoSQLimport.ps1:49-57). The reference only
    brackets names containing spaces; we bracket whenever not already
    bracketed (strictly safer, same output for the reference's inputs),
    doubling any ``]`` inside per T-SQL ("my]table" → "[my]]table]" —
    the naive wrap emitted broken DDL). "Already bracketed" means ONE
    well-formed bracketed token — "[a] [b]" is two and gets re-wrapped.

    Driver-side helper (plain str), used by the JDBC sink when building DDL.
    """
    import re

    if re.fullmatch(r"\[(?:[^\]]|\]\])*\]", identifier):
        return identifier
    return "[" + identifier.replace("]", "]]") + "]"


# .NET ticks (the reference's watermark unit, ExcelToCSVexport.ps1:154,225):
# 100 ns intervals since 0001-01-01T00:00:00.
_TICKS_AT_UNIX_EPOCH = 621_355_968_000_000_000


def ticks_to_unix_seconds(ticks: int) -> float:
    return (ticks - _TICKS_AT_UNIX_EPOCH) / 10_000_000


def unix_seconds_to_ticks(seconds: float) -> int:
    return int(round(seconds * 10_000_000)) + _TICKS_AT_UNIX_EPOCH
