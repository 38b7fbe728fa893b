"""Per-row file-copy side effects (K8).

The reference copies each matched invoice document to a destination under
a composed name, skipping already-copied files, and counts the copies
(InvoiceFileSearchFromSQL.ps1:99-114; note the reference as-shipped never
reaches this loop — stray ``exit`` at :80, SURVEY §2.12#1 — we implement
the intended semantics).

The plan (src_path, dst_name) is a DataFrame built by
operators.invoice.compose_copy_plan; execution runs on EXECUTORS via
foreachPartition so 10⁹ copies distribute across the cluster — nothing is
collected to the driver. Idempotent: existing destinations are skipped
(T4 re-run safety).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def execute_copy_plan(
    plan: DataFrame, src_root: str, dst_root: str
) -> dict[str, int]:
    """Execute the (src_path, dst_name) copy manifest; returns
    ``{"found": n, "copied": n, "missing": n, "skipped": n}``.

    Counting uses Spark accumulators (the distributed twin of the
    reference's ``$foundFiles++``, InvoiceFileSearchFromSQL.ps1:99) so the
    tallies survive task retries' last-winner semantics well enough for
    reporting; exact once-only accounting would hash the manifest after
    the fact. ``src_root``/``dst_root`` must be visible to every executor
    (shared filesystem — same deployment assumption as the reference's
    SMB paths)."""
    # Resolve relative roots on the DRIVER: anchored() runs executor-side
    # where the Python worker's cwd is the daemon's, not the caller's —
    # a relative root would silently anchor somewhere else (and '.'
    # broke the normpath containment check outright, r10 ADVICE).
    src_root = os.path.abspath(src_root)
    dst_root = os.path.abspath(dst_root)
    sc = plan.sparkSession.sparkContext
    found = sc.accumulator(0)
    copied = sc.accumulator(0)
    missing = sc.accumulator(0)
    skipped = sc.accumulator(0)

    rows = plan.select(F.col("src_path").alias("src"), F.col("dst_name").alias("dst"))

    def anchored(root: str, component: str) -> str | None:
        # os.path.join DISCARDS the root when the component is absolute
        # (r10 review): a SubFolder of '' composed '/name.pdf' and the
        # copy escaped src_root entirely (a crafted '/etc/...' or
        # '../..' would read/write arbitrary paths) — DB-sourced
        # components are anchored under the root and containment-checked.
        # abspath, not normpath (r10 ADVICE): a relative root of '.'
        # normalizes to '.' while the joined path drops the './' prefix
        # ('./x' → 'x'), so EVERY row failed containment; an empty or
        # whitespace component resolves to the root dir itself and would
        # pass containment only for copyfile to fail on a directory.
        if component is None or not component.strip():
            return None
        base = os.path.abspath(root)
        p = os.path.abspath(os.path.join(base, component.lstrip("/\\")))
        return p if p != base and p.startswith(base + os.sep) else None

    def run_partition(it):
        os.makedirs(dst_root, exist_ok=True)
        for row in it:
            src = anchored(src_root, row.src)
            dst = anchored(dst_root, row.dst)
            if src is None or dst is None:
                missing.add(1)  # escape attempt = not a servable file
                continue
            if not os.path.exists(src):
                missing.add(1)  # reference logs NotFatal and continues (:97)
                continue
            found.add(1)
            if os.path.exists(dst):
                skipped.add(1)  # idempotent re-run (:107)
                continue
            # copy via temp + atomic rename (r10 review): a task killed
            # mid-copyfile left a TRUNCATED dst that the exists-skip
            # then treated as done on every retry and re-run — the
            # corrupt file was counted handled forever. os.replace
            # guarantees dst only ever holds complete bytes.
            tmp = f"{dst}.__copying_{os.getpid()}"
            try:
                shutil.copyfile(src, tmp)
                os.replace(tmp, dst)
            finally:
                if os.path.exists(tmp):
                    os.remove(tmp)
            copied.add(1)

    rows.foreachPartition(run_partition)
    return {
        "found": found.value,
        "copied": copied.value,
        "missing": missing.value,
        "skipped": skipped.value,
    }
