"""Per-query Spark metrics profiler.

Summed task executorCpuTime is on-CPU time and stays stable under the
CPU-steal bursts that inflate wall and executorRunTime, so it is the
statistic a speed claim reads. For each named registry query this runs N
noop-sink passes through ``bench.time_passes`` and reports, per pass,
wall seconds plus the pass's job-group stage metrics (``cpu_s``,
``executor_run_s``, ``jobs``, ``stages``, shuffle and spill bytes, ...).
Plans: ``tools/dump_plans.py --out-dir DIR <query> ...``.

Usage:
    python tools/profile_cpu.py <query> [query ...] [--passes N]

One JSON line per query to stdout; diagnostics to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from functools import partial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import time_passes, warm  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description="per-query Spark metrics")
    ap.add_argument("names", nargs="+", metavar="query")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from etl_excel_csv_sql_spark.plans.registry import all_queries
    from etl_excel_csv_sql_spark.session import get_spark
    from perfbench.sparkstats import SparkStats

    spark = get_spark("profile-cpu")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    stats = SparkStats(spark)
    warm(spark, sf_dir)

    # once per name: a repeated name would reuse, and sum, its job groups
    for name in dict.fromkeys(args.names):
        fn = queries.get(name)
        if fn is None:
            print(f"profile: {name} not registered", file=sys.stderr)
            continue
        runs = time_passes(spark, stats, name, partial(fn, spark, sf_dir), args.passes)
        print(json.dumps({"query": name, "passes": runs}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
