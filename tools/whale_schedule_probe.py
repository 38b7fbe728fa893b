"""Whale-host scheduling probe (r14).

fetch_schedule's per-host window serializes each host into one task;
fetch_schedule_bucketed bounds per-partition work at whale/n_buckets.
This probe builds an in-plan frontier with ONE whale host carrying 90%
of the URLs (the adversarial politeness shape: a single huge site) and
times both operators end-to-end (noop sink, run twice; run1 also pays
the JVM warm-up, steady-state run2 is reported). Pass bar: the bucketed variant at or under the plain
one on the whale frontier — the point is the per-partition BOUND, but
it must not cost wall time to get it.

One JSON line appends to .benchmarks/history.jsonl with metric
"whale_schedule_probe".

Usage: python tools/whale_schedule_probe.py [n_rows=2000000]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import append_ledger, time_passes  # noqa: E402


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    from pyspark.sql import functions as F

    from etl_excel_csv_sql_spark.operators import urls
    from etl_excel_csv_sql_spark.session import get_spark
    from perfbench.sparkstats import SparkStats

    spark = get_spark("whale_schedule_probe")
    spark.sparkContext.setLogLevel("ERROR")
    whale_rows = int(n * 0.9)
    frontier = spark.range(n).select(
        F.when(F.col("id") < whale_rows, F.lit("whale.com"))
        .otherwise(
            F.concat(F.lit("t"), (F.col("id") % 50_000).cast("string"),
                     F.lit(".com"))
        )
        .alias("host"),
        F.concat(
            F.lit("https://x/p"), F.col("id").cast("string")
        ).alias("url_norm"),
    )
    stats = SparkStats(spark)

    walls = {}
    for label, df in (
        ("plain", urls.fetch_schedule(frontier, rate_per_wave=4)),
        ("bucketed", urls.fetch_schedule_bucketed(
            frontier, rate_per_wave=4, n_buckets=64)),
    ):
        runs = [r["wall_s"] for r in time_passes(
            spark, stats, label, lambda df=df: df, passes=2)]
        walls[label] = runs[1]
        print(f"{label}: run1 {runs[0]}s run2 {runs[1]}s",
              file=sys.stderr)
    row = {
        "ts": time.time(),
        "metric": "whale_schedule_probe",
        "n_rows": n,
        "whale_share": 0.9,
        "plain_run2_sec": walls["plain"],
        "bucketed_run2_sec": walls["bucketed"],
        "speedup": round(walls["plain"] / walls["bucketed"], 2),
    }
    append_ledger(row)
    print(json.dumps(row, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
