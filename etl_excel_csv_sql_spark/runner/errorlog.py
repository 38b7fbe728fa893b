"""Error-log sink (K5).

The reference's ``Write-Error`` function (ExcelToCSVexport.ps1:23-51,
CSVtoSQLimport.ps1:19-47) appends a timestamped line to a per-day file
``<yyyyMMdd> FileImportError.txt`` in the error folder; level ``Fatal``
exits the process, anything else continues. Structured here as a tiny
class so sinks/runners can share one logger; Fatal raises instead of
``Exit`` (callers decide process fate).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime


class FatalPipelineError(RuntimeError):
    """Raised for level=Fatal (the reference calls Exit; we unwind)."""


@dataclass
class ErrorLog:
    folder: str

    def path_for(self, now: datetime | None = None) -> str:
        stamp = (now or datetime.now()).strftime("%Y%m%d")
        return os.path.join(self.folder, f"{stamp} FileImportError.txt")

    def log(
        self, message: str, fatal: bool = False, now: datetime | None = None
    ) -> str:
        """Append ``<yyyy-MM-dd HH:mm:ss> <message>``; Fatal logs then
        raises FatalPipelineError (reference: logs then Exit,
        ExcelToCSVexport.ps1:41-49)."""
        os.makedirs(self.folder, exist_ok=True)
        now = now or datetime.now()
        line = f"{now.strftime('%Y-%m-%d %H:%M:%S')} {message}\n"
        path = self.path_for(now)
        with open(path, "a", encoding="utf-8") as fh:
            fh.write(line)
        if fatal:
            raise FatalPipelineError(message)
        return path
