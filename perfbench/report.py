"""Print every end-to-end and per-layer metric of every workload.

    python3 perfbench/report.py [--seed N] [--seconds S]

Run from the repository root. For each workload this runs the benchmark
twice, untraced (end-to-end metrics) and traced (per-layer metrics), and
prints one line per metric with its unit, then whether the outputs checked
correct. Exits non-zero if any run fails or any output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    sys.path.insert(0, HERE)
    from run import WORKLOADS

    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=5)
    args = parser.parse_args()
    ok = True
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            got = subprocess.run(cmd, capture_output=True, text=True, check=False)
            if got.returncode != 0:
                print(f"{workload} trace={trace}: exit {got.returncode}\n{got.stderr[-3000:]}")
                ok = False
                continue
            lines = got.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            record = json.loads(lines[0])["record"]
            print(f"== {workload} trace={trace} correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']} "
                  f"load1={record['host_start']['load1']:.2f} busy={record['host_start']['busy']}")
            for name, m in result["metrics"].items():
                print(f"{workload:<14} {name:<40} {m['value']:>16.6g} {m['unit']}")
            for failure in record["failures"]:
                print(f"{workload:<14} FAILED {failure}")
            ok = ok and result["correct"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
