"""Drop-folder queue lifecycle (T2, T3 file-level, K6).

The reference uses folders as a message queue: a source drops
``<name>.csv``; the import picks it up if present (CSVtoSQLimport.ps1:
164-168), processes it, then moves it to ``Processed/`` prefixed with a
``yyyy.MM.dd HH.mm`` timestamp (:257-264). Files that fail validation or
connection stay in place for the next cycle (:175-180,190-194) — an
at-least-once queue with archive-on-success.

:meth:`FolderQueue.drain` is the one archive-on-success step: it runs a
handler over a batch of pending files and archives the batch only when
the handler returned, all members or none. :meth:`FolderQueue.process_all`
drains each pending file as its own batch; the CSV import
(runner.pipeline.import_csv_to_table) drains its unioned batch.

Structured Streaming's file source + ``cleanSource=archive`` is the
built-in twin (streaming.file_source); this explicit runner provides the
same semantics for scheduled-batch deployments and for tests.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from datetime import datetime
from enum import Enum
from typing import Callable

from etl_excel_csv_sql_spark.io.csv_io import collision_free_path as _collision_free
from etl_excel_csv_sql_spark.runner.errorlog import ErrorLog


class Outcome(str, Enum):
    PROCESSED = "processed"     # archived to Processed/
    SKIPPED = "skipped"         # precondition failed; left in place (T3)
    QUARANTINED = "quarantined" # moved to Error/ (poison file)


@dataclass
class FolderQueue:
    drop_dir: str
    processed_dir: str
    error_dir: str
    errorlog: ErrorLog = field(init=False)
    #: paths the HANDLER quarantined mid-drain (so the drain can report
    #: QUARANTINED instead of misfiling the vanished file as
    #: SKIPPED/"left for next cycle" when its archive move fails)
    _quarantined: set = field(default_factory=set, init=False, repr=False)

    def __post_init__(self) -> None:
        self.errorlog = ErrorLog(self.error_dir)

    def pending(self) -> list[str]:
        """``*.csv`` files currently waiting in the drop folder (sorted —
        stable processing order)."""
        if not os.path.isdir(self.drop_dir):
            return []
        # case-insensitive suffix match: the reference runs on NTFS where
        # '*.CSV' matches; a case-sensitive match here would leave such a
        # file invisible forever — never processed, never logged
        return sorted(
            os.path.join(self.drop_dir, f)
            for f in os.listdir(self.drop_dir)
            if f.lower().endswith(".csv")
        )

    def archive(self, path: str, now: datetime | None = None) -> str:
        """K6: move to Processed/ as ``<yyyy.MM.dd HH.mm> <name>``
        (CSVtoSQLimport.ps1:257-264)."""
        os.makedirs(self.processed_dir, exist_ok=True)
        stamp = (now or datetime.now()).strftime("%Y.%m.%d %H.%M")
        dest = _collision_free(
            os.path.join(self.processed_dir, f"{stamp} {os.path.basename(path)}")
        )
        shutil.move(path, dest)
        return dest

    def quarantine(self, path: str, reason: str, now: datetime | None = None) -> str:
        """Move a poison FILE to Error/ with a timestamped name and log it
        (file-level T3; row-level quarantine is io.jdbc.quarantine_split)."""
        os.makedirs(self.error_dir, exist_ok=True)
        stamp = (now or datetime.now()).strftime("%Y.%m.%d %H.%M")
        dest = _collision_free(
            os.path.join(self.error_dir, f"{stamp} {os.path.basename(path)}")
        )
        self.errorlog.log(f"{reason}: {path} moved to {dest}", fatal=False)
        shutil.move(path, dest)
        self._quarantined.add(os.path.abspath(path))
        return dest

    def drain(
        self,
        paths: list[str],
        handler: Callable[[list[str]], None],
        now: datetime | None = None,
    ) -> dict[str, Outcome]:
        """Archive-on-success for one batch: run ``handler(paths)`` once;
        on an exception log NotFatal and leave every path queued
        (SKIPPED, CSVtoSQLimport.ps1:175-180); members the handler
        quarantined report QUARANTINED; archive the rest (PROCESSED).

        The archive is all or nothing: a full-refresh batch archived in
        part would let the next cycle's refresh, built from the leftovers
        alone, erase the archived members' rows. On a failed move the
        archived members go back to the drop folder and the batch reports
        SKIPPED, to be retried together (the refresh is idempotent)."""
        keys = {p: os.path.abspath(p) for p in paths}
        # each batch's verdict starts clean: an entry left by a handler
        # that quarantined a path and then raised must not misreport a
        # later file dropped at the same path
        self._quarantined -= set(keys.values())
        try:
            handler(paths)
        except Exception as exc:  # log-and-continue semantics
            self.errorlog.log(f"{exc} (batch {paths} left for next cycle)")
            return dict.fromkeys(paths, Outcome.SKIPPED)
        # the handler moved these to Error/ itself: there is nothing to archive
        gone = self._quarantined & set(keys.values())
        self._quarantined -= gone
        outcome = {
            p: Outcome.QUARANTINED if keys[p] in gone else Outcome.PROCESSED
            for p in paths
        }
        archived: list[tuple[str, str]] = []  # (original, archived dest)
        try:
            for p in paths:
                if outcome[p] is Outcome.PROCESSED:
                    archived.append((p, self.archive(p, now)))
        except OSError as exc:
            self.errorlog.log(
                f"{exc} (archive failed; batch {paths} left for next cycle)"
            )
            for original, dest in archived:
                try:
                    if not os.path.exists(original):
                        shutil.move(dest, original)
                except OSError as err:  # best effort; the sink has the data
                    self.errorlog.log(
                        f"{err} (could not return {dest} to the drop folder)"
                    )
            return {
                p: Outcome.SKIPPED if o is Outcome.PROCESSED else o
                for p, o in outcome.items()
            }
        return outcome

    def process_all(
        self, handler: Callable[[str], None], now: datetime | None = None
    ) -> dict[str, Outcome]:
        """At-least-once drain of every pending file, each its own batch:
        ``handler(path)`` per file, archived on success, left in place on
        failure. Returns {path: outcome}."""
        results: dict[str, Outcome] = {}
        for path in self.pending():
            results |= self.drain([path], lambda ps: handler(ps[0]), now)
        return results
