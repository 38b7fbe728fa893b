"""CDX index-scan throughput probe — the crawl-index lane's scale
evidence: builds N gzipped cdx shards (the cc-index layout) and
measures (a) full-index scan + fetch-plan aggregation wall and
(b) a pushed-down urlkey prefix subset, through the real reader
(spark.read.text + one Catalyst projection + pruned from_json) on
local[32]. A Common Crawl monthly index is ~300 shards x ~1M lines;
this probes the same shape smaller.

One JSON line appends to .benchmarks/history.jsonl with metric
"cdx_throughput_probe". Run after the quiet bench, not during.

Usage: python tools/cdx_throughput_probe.py [n_shards=8] [lines_per_shard=250000]
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import append_ledger  # noqa: E402


def main() -> int:
    n_shards = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    lines = int(sys.argv[2]) if len(sys.argv) > 2 else 250_000
    root = "/tmp/cdx_tp_probe"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    raw_total = 0
    for k in range(n_shards):
        buf = []
        for i in range(lines):
            j = k * lines + i
            host = f"h{j % 99983}"
            buf.append(
                f"org,{host})/p/{j} 2026010100{j % 9:04d} "
                '{"url": "https://%s.org/p/%d", "mime": "text/html", '
                '"status": "200", "digest": "sha1:%08d", '
                '"length": "%d", "offset": "%d", '
                '"filename": "crawl-%05d.warc.gz"}'
                % (host, j, j, 500 + j % 997, (j % 4096) * 2000,
                   j % 300)
            )
        payload = ("\n".join(buf) + "\n").encode()
        raw_total += len(payload)
        with gzip.open(
            os.path.join(root, f"cdx-{k:05d}.gz"), "wb", compresslevel=6
        ) as f:
            f.write(payload)

    from etl_excel_csv_sql_spark.io import cdx
    from etl_excel_csv_sql_spark.session import get_spark

    spark = get_spark("cdx-throughput-probe")
    glob = os.path.join(root, "cdx-*.gz")
    # warm the file listing
    cdx.read_cdx(spark, glob).limit(1).count()

    t0 = time.time()
    plan_rows = cdx.cdx_fetch_plan(cdx.read_cdx(spark, glob)).count()
    full_s = time.time() - t0

    t0 = time.time()
    subset = (
        cdx.read_cdx(spark, glob)
        .filter(F_col_startswith("urlkey", "org,h777)"))
        .count()
    )
    subset_s = time.time() - t0

    n_lines = n_shards * lines
    row = {
        "metric": "cdx_throughput_probe",
        "n_shards": n_shards,
        "n_lines": n_lines,
        "raw_mb": round(raw_total / 1048576, 1),
        "full_scan_plan_s": round(full_s, 3),
        "lines_per_s": round(n_lines / full_s),
        "raw_mb_per_s": round(raw_total / 1048576 / full_s, 1),
        "prefix_subset_s": round(subset_s, 3),
        "prefix_subset_rows": subset,
        "fetch_plan_files": plan_rows,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    append_ledger(row)
    print(json.dumps(row))
    shutil.rmtree(root, ignore_errors=True)
    return 0


def F_col_startswith(col: str, prefix: str):
    from pyspark.sql import functions as F

    return F.col(col).startswith(prefix)


if __name__ == "__main__":
    sys.exit(main())
