"""Mtime watermark store (S7, K7, P6, T1).

The reference gates each Excel export on the workbook's LastWriteTime vs a
stored value, persisted as .NET ticks in a tiny per-source text file
(ExcelToCSVexport.ps1:146-165), defaulting to DateTime::MinValue when no
state exists (:157-163), and — the commit-ordering invariant T1 — updates
the state only AFTER at least one sheet exported successfully (:222-225).
The import script keeps a last-import datetime the same way
(CSVtoSQLimport.ps1:267-268).

Same store, Spark-first framing: this is exactly a Structured Streaming
file-source checkpoint (new-file detection + commit-after-batch); the
batch runner keeps the explicit store so scheduled-batch deployments get
identical semantics. Ticks are kept as the on-disk unit for byte-compat
with reference state files (functions.scalars.ticks helpers).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from etl_excel_csv_sql_spark.functions.scalars import (
    ticks_to_unix_seconds,
    unix_seconds_to_ticks,
)

#: .NET DateTime::MinValue in ticks — "beginning of time" default.
MIN_TICKS = 0


@dataclass
class WatermarkStore:
    """One ticks file per source under ``folder``:
    ``<source>_lastmod.txt`` (reference naming, ExcelToCSVexport.ps1:147)."""

    folder: str
    #: mtime observed by the last should_process per source — committed in
    #: preference to a re-stat, so a file modified MID-RUN keeps a newer
    #: on-disk mtime than the stored watermark and stays pending (the
    #: reference captures LastWriteTime before processing,
    #: ExcelToCSVexport.ps1:165,222).
    _observed: dict = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def _path(self, source: str) -> str:
        return os.path.join(self.folder, f"{source}_lastmod.txt")

    def last_ticks(self, source: str) -> int:
        """Stored watermark, or MinValue when absent/corrupt (the
        reference treats a missing file as beginning-of-time,
        ExcelToCSVexport.ps1:157-163)."""
        try:
            with open(self._path(source), encoding="utf-8") as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return MIN_TICKS

    def last_unix_seconds(self, source: str) -> float:
        ticks = self.last_ticks(source)
        return ticks_to_unix_seconds(ticks) if ticks > 0 else 0.0

    def should_process(self, source: str, path: str) -> bool:
        """P6: process iff file mtime > stored watermark
        (ExcelToCSVexport.ps1:165). The observed mtime is captured for
        commit: committing the PRE-read value means a modification landing
        while the batch runs leaves the file pending for the next run
        instead of being silently absorbed.

        A missing file is simply "nothing to process" (False) — the
        settings can reference a workbook that has not been dropped yet
        (or was consumed by another job), and an uncaught
        FileNotFoundError here used to kill the remaining sources'
        exports in a multi-source loop (r10 review)."""
        try:
            mtime = os.stat(path).st_mtime
        except FileNotFoundError:
            return False
        # keyed by (source, path): a source checked against several paths
        # in one cycle must not commit whichever path was stat'd last
        self._observed[(source, path)] = mtime
        return mtime > self.last_unix_seconds(source)

    def commit(self, source: str, path: str) -> int:
        """K7/T1: persist the processed file's mtime as ticks — the value
        captured by should_process, NOT a fresh stat: re-statting after
        processing would commit a mid-run modification's timestamp and
        silently skip that modification.
        Callers must invoke this only after the batch succeeded (the
        reference updates only when matchCounter > 0,
        ExcelToCSVexport.ps1:222-225) — the at-least-once guarantee: a
        crash before commit re-processes, never skips."""
        mtime = self._observed.get((source, path))
        if mtime is None:
            mtime = os.stat(path).st_mtime
        os.makedirs(self.folder, exist_ok=True)
        ticks = unix_seconds_to_ticks(mtime)
        tmp = self._path(source) + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(str(ticks))
        os.replace(tmp, self._path(source))  # atomic on POSIX
        return ticks
