"""CSV source/sink with the reference's lifecycle semantics (S3, K1-K3).

- S3: ``Import-Csv`` (CSVtoSQLimport.ps1:210, InvoiceFileSearchFromSQL.ps1:50)
  loads a header CSV as all-string rows → :func:`read_csv_all_string`
  (``inferSchema=False`` keeps every column StringType, exactly the
  reference's untyped model).
- K1: ``Export-Csv -NoTypeInformation -Encoding UTF8``
  (ExcelToCSVexport.ps1:210, InvoiceFileSearchFromSQL.ps1:144) overwrites a
  single named CSV file → :func:`write_csv_single` (Spark writes a
  directory of parts; the single-file mirror coalesces to one part and
  renames it to the exact target path).
- K2: stale-output diversion (ExcelToCSVexport.ps1:195-207): if the target
  CSV still exists, downstream never consumed it — move it to the Error
  folder as ``Unprocessed <name> <yyyy.MM.dd HH.mm>.csv`` and log, then
  write fresh → :func:`divert_stale_output`.
- K3: lock fallback (InvoiceFileSearchFromSQL.ps1:143-151): if the
  write-back fails (file locked), write ``<base>_<yyyyMMdd>.csv`` instead
  → :func:`write_csv_with_lock_fallback`.

Every CSV reader and writer of the package speaks one dialect,
``_RFC4180``, decided here: RFC 4180, the dialect Export-Csv and Excel
write. A quote inside a quoted cell is doubled (``""``), and a quoted cell
may hold a line break (Excel's Alt+Enter text).
"""

from __future__ import annotations

import glob
import os
import shutil
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession


#: The RFC 4180 dialect every CSV reader and writer shares (batch, the
#: quarantining reader and the streaming drop folder): a header line, and
#: ``"`` as the escape of ``"`` (Spark's default escape is a backslash, which
#: reads a doubled quote as the end of the cell and writes ``\"``).
_RFC4180 = {"header": "true", "escape": '"'}


def read_csv_all_string(spark: SparkSession, path: str) -> DataFrame:
    """S3: header CSV → all-string DataFrame (no inference — the
    reference's ``Import-Csv`` model). ``multiLine`` keeps a quoted line
    break inside its cell instead of splitting the row."""
    return (
        spark.read.options(**_RFC4180)
        .option("multiLine", "true")
        .option("inferSchema", "false")
        .csv(path)
    )


def write_csv_single(df: DataFrame, path: str) -> None:
    """K1: overwrite ONE csv file at ``path`` (reference layout parity).

    coalesce(1) → temp dir → rename the single part to the exact target.
    Spark's CSV writer trims cell whitespace by default (ignore*WhiteSpace
    is true on write, false on read); Export-Csv keeps it, and so do we."""
    tmp = path + ".__tmp__"
    try:
        df.coalesce(1).write.mode("overwrite").options(**_RFC4180).option(
            "ignoreLeadingWhiteSpace", "false"
        ).option("ignoreTrailingWhiteSpace", "false").csv(tmp)
        # glob.escape: a target named like 'Q1 [Final].csv' would turn
        # the tmp prefix into a character class and never match the part
        part = next(
            iter(glob.glob(os.path.join(glob.escape(tmp), "part-*.csv"))),
            None,
        )
        if part is None:  # pragma: no cover - spark always writes one part
            raise FileNotFoundError(f"no part file produced under {tmp}")
        # atomic rename-over (same filesystem by construction): the old
        # remove-then-move left a window where a crash destroyed the
        # previous CSV with no replacement
        os.replace(part, path)
    finally:
        # never leak the temp dir — the locked-target path (K3) used to
        # orphan a full CSV copy on every PermissionError cycle
        shutil.rmtree(tmp, ignore_errors=True)


def collision_free_path(dest: str) -> str:
    """Uniquify a timestamped destination: the reference's minute-granular
    names collide when the same file name cycles twice within a minute,
    and shutil.move would silently OVERWRITE the earlier audit copy. The
    first file keeps the canonical reference name (the naming oracles
    are unchanged); repeats get ' (n)' before the extension. Shared by
    the archive/quarantine moves (runner.folder_queue) and the stale-
    output divert below."""
    if not os.path.exists(dest):
        return dest
    stem, ext = os.path.splitext(dest)
    n = 1
    while os.path.exists(f"{stem} ({n}){ext}"):
        n += 1
    return f"{stem} ({n}){ext}"


def divert_stale_output(
    path: str, error_dir: str, logger=None, now: datetime | None = None
) -> str | None:
    """K2/T5: if ``path`` still exists before a fresh export, the previous
    output was never consumed — move it to ``error_dir`` as
    ``Unprocessed <name> <yyyy.MM.dd HH.mm>.csv`` and log NotFatal
    (ExcelToCSVexport.ps1:195-207). Returns the diverted path or None."""
    if not os.path.exists(path):
        return None
    os.makedirs(error_dir, exist_ok=True)
    stamp = (now or datetime.now()).strftime("%Y.%m.%d %H.%M")
    base = os.path.basename(path)
    stem, ext = os.path.splitext(base)
    dest = collision_free_path(
        os.path.join(error_dir, f"Unprocessed {stem} {stamp}{ext}")
    )
    if logger is not None:
        logger.log(
            f"Unprocessed file {path}. File renamed and moved to {error_dir}.",
            fatal=False,
        )
    shutil.move(path, dest)
    return dest


def write_csv_with_lock_fallback(
    df: DataFrame, path: str, now: datetime | None = None
) -> str:
    """K3: try to overwrite ``path``; if the OS refuses (file locked by a
    desktop app — the reference's write-back race,
    InvoiceFileSearchFromSQL.ps1:143-151), write
    ``<base>_<yyyyMMdd><ext>`` next to it instead. Returns the path
    actually written."""
    try:
        write_csv_single(df, path)
        return path
    except OSError:
        stem, ext = os.path.splitext(path)
        fallback = f"{stem}_{(now or datetime.now()).strftime('%Y%m%d')}{ext}"
        write_csv_single(df, fallback)
        return fallback


def read_csv_permissive(
    spark: SparkSession, path: str, ddl_schema: str
) -> DataFrame:
    """Typed CSV ingestion that QUARANTINES instead of failing or
    silently nulling: PERMISSIVE mode with an explicit corrupt-record
    column — rows that parse land typed with ``corrupt_record`` NULL; rows
    with any malformed field keep the RAW LINE in ``corrupt_record``
    (PERMISSIVE nulls the unparseable FIELDS but keeps ones that did
    parse — e.g. a good leading int before a bad column survives), so
    the caller can split good/quarantine with one null-test and never
    loses bytes.

    This is the ingestion half of the T3 at-least-once + poison-row
    contract (jdbc.quarantine_split is the load half): malformed input
    must neither kill the job (FAILFAST) nor vanish (DROPMALFORMED) —
    both Spark modes exist and are the wrong default for a pipeline
    that must account for every input row.

    Spark caveat encoded here: the corrupt column must be IN the schema
    and the raw line is only retained while the parsed row stays
    unprojected — callers must filter/split BEFORE dropping it.
    """
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(ddl_schema).add(
        T.StructField("corrupt_record", T.StringType())
    )
    return (
        spark.read.options(**_RFC4180)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "corrupt_record")
        .schema(schema)
        .csv(path)
    )
