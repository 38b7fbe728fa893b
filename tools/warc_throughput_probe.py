"""WARC ingest throughput probe — the crawl lane's scale evidence:
builds N multi-member .warc.gz files (the Common Crawl layout, file =
task) and measures read_warc wall + aggregate decompressed MB/s through
the full kernel (streaming inflate, record walk, embedded HTTP parse,
charset detect, full-body decode) on local[32].

One JSON line appends to .benchmarks/history.jsonl with metric
"warc_throughput_probe". Run after the quiet bench, not during.

Usage: python tools/warc_throughput_probe.py [n_files=16] [recs_per_file=2000] [body_kb=10]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import append_ledger  # noqa: E402

from tools.warc_rss_probe import build_fixture  # noqa: E402


def main() -> int:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    recs = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    body_kb = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    root = "/tmp/warc_tp_probe"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    gz_total = 0
    for k in range(n_files):
        gz_total += build_fixture(
            os.path.join(root, f"crawl-{k:05d}.warc.gz"), recs, body_kb
        )
    decompressed_mb = n_files * recs * body_kb / 1024

    from pyspark.sql import functions as F

    from etl_excel_csv_sql_spark.io import warc
    from etl_excel_csv_sql_spark.session import get_spark

    spark = get_spark("warc-tp-probe")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    for label in ("cold", "warm"):
        t0 = time.time()
        agg = (
            warc.read_warc(spark, os.path.join(root, "*.warc.gz"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("n_body_bytes").alias("bytes"),
                F.sum(F.length("text")).alias("chars"),
            )
            .collect()[0]
        )
        wall = time.time() - t0
        assert agg["rows"] == n_files * (recs + 1), agg
        results[label] = {
            "wall_sec": round(wall, 2),
            "mb_per_sec": round(decompressed_mb / wall, 1),
        }
    row = {
        "ts": time.time(),
        "metric": "warc_throughput_probe",
        "n_files": n_files,
        "recs_per_file": recs,
        "gz_mb": round(gz_total / 1048576, 1),
        "decompressed_mb": round(decompressed_mb, 1),
        **{f"{k}_{m}": v for k, d in results.items() for m, v in d.items()},
    }
    append_ledger(row)
    print(json.dumps(row, indent=2))
    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
