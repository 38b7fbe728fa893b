"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py [--seed N]

Run from the repository root. Checks that

1. two traced ``text_dedup`` runs at one seed agree exactly on every
   executed-plan and result count (the counts later changes may cite);
2. both runs check their outputs correct;
3. in a directory holding only ``BENCHMARK.json`` and ``perfbench/`` (no
   engine), the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNT_SUFFIXES = (".join_rows", ".result_rows", ".rows", ".rows_written",
                  ".rows_quarantined", ".copied", ".missing")


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, check=False)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--seed", type=int, default=7)
    args = parser.parse_args()
    problems = []

    counts = []
    for _ in range(2):
        got = _run(ROOT, "--workload", "text_dedup", "--seed", str(args.seed),
                   "--seconds", "1", "--trace", "1")
        if got.returncode != 0:
            problems.append(f"traced run exited {got.returncode}: {got.stderr[-2000:]}")
            continue
        result = json.loads(got.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            problems.append("traced run checked its outputs wrong")
        counts.append({k: m["value"] for k, m in result["metrics"].items()
                       if k.endswith(COUNT_SUFFIXES)})
    if len(counts) == 2 and counts[0] != counts[1]:
        diff = {k: (v, counts[1].get(k)) for k, v in counts[0].items() if counts[1].get(k) != v}
        problems.append(f"counts differ between runs at one seed: {diff}")

    bare = os.path.join(HERE, ".work", f"bare-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        got = _run(bare, "--workload", "text_dedup", "--seed", "1", "--seconds", "1")
        if got.returncode == 0 or got.stdout.strip():
            problems.append("benchmark without the engine did not fail cleanly")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print(f"selftest: {p}")
    print("selftest: " + ("FAILED" if problems else f"ok; counts {counts[0] if counts else {}}"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
