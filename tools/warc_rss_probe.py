"""WARC reader memory probe (VERDICT r12 #3 done-criterion).

Builds a ~100 MB-decompressed multi-member .warc.gz (the Common Crawl
layout: one gzip member per record) and measures peak RSS of two
consumption shapes in separate subprocesses:

- ``generator``: the r13 read path — ``iter_warc_records`` + per-record
  charset decode, dropping each record after emit (what the Spark
  kernel does per file, minus the per-file emitted-columns buffer);
- ``materialized``: the r12 shape — ``parse_warc`` holding the whole
  record list (decompressed stream + every body at once).

It also proves the two paths yield BIT-IDENTICAL records (uri, length,
body sha256 chained). One JSON line appends to
.benchmarks/history.jsonl with metric "warc_rss_probe".

Usage: python tools/warc_rss_probe.py [n_records=10000] [body_kb=10]
"""

from __future__ import annotations

import hashlib
import json
import os
import resource
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import append_ledger  # noqa: E402


def build_fixture(path: str, n: int, body_kb: int) -> int:
    import zlib

    from etl_excel_csv_sql_spark.io import warc

    with open(path, "wb") as f:
        # one record at a time: the builder must stay bounded too — a
        # parent holding all n bodies would inflate the CHILDREN's
        # ru_maxrss (a forked child's peak starts at the parent's
        # resident set, bit this probe's first run)
        f.write(warc.encode_warc([], gzip_members=True))
        for i in range(n):
            # deterministic, mildly compressible bodies (pure 'x' would
            # overstate compression and understate the inflated size)
            r = {
                "uri": f"https://example.org/doc/{i}",
                "status": 200,
                "body_text": (f"doc-{i}-" + "abcdefgh"[i % 8]) * (
                    body_kb * 1024 // (8 + len(str(i)))
                ),
            }
            member = warc.encode_warc([r], gzip_members=True)
            # strip that call's warcinfo member: it is itself a member
            # chain [warcinfo][response]; take the second member
            d = zlib.decompressobj(47)
            d.decompress(member)
            f.write(d.unused_data)
    return os.path.getsize(path)


_CHILD = r"""
import hashlib, json, resource, sys
sys.path.insert(0, {repo!r})
from etl_excel_csv_sql_spark.io import warc

mode, path = sys.argv[1], sys.argv[2]
payload = open(path, "rb").read()
h = hashlib.sha256()
n = 0
total = 0
if mode == "generator":
    for rec in warc.iter_warc_records(payload):
        if rec["warc_type"] == "response":
            status, headers, body = warc.http_response_parts(rec["body"])
            cs, _ = warc.detect_charset(headers, body)
            text = body.decode(cs, "replace")
            total += len(text)
            h.update(rec["target_uri"].encode())
            h.update(body)
        n += 1
elif mode == "kernel":
    # the LENIENT Spark kernel end-to-end (r14 validate-then-emit):
    # one binaryFile-shaped row through _record_batches, frames
    # consumed and dropped — peak RSS must be O(record + frame bound),
    # independent of file size
    import pandas as pd
    batches = warc._record_batches(False)
    frames = batches(iter([pd.DataFrame({{"path": [path],
                                          "content": [payload]}})]))
    for frame in frames:
        for uri, text in zip(frame["target_uri"], frame["text"]):
            if uri is not None:
                h.update(str(uri).encode())
            if text is not None:
                total += len(text)
        n += len(frame)
else:
    records = warc.parse_warc(payload)
    for rec in records:
        if rec["warc_type"] == "response":
            status, headers, body = warc.http_response_parts(rec["body"])
            cs, _ = warc.detect_charset(headers, body)
            text = body.decode(cs, "replace")
            total += len(text)
            h.update(rec["target_uri"].encode())
            h.update(body)
        n += 1
rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
print(json.dumps({{"n": n, "chars": total, "sha": h.hexdigest(),
                   "rss_mb": round(rss_kb / 1024, 1)}}))
"""


def run_child(mode: str, path: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO), mode, path],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    body_kb = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    path = "/tmp/warc_rss_probe.warc.gz"
    t0 = time.time()
    gz_bytes = build_fixture(path, n, body_kb)
    decompressed_mb = n * body_kb / 1024
    gen = run_child("generator", path)
    mat = run_child("materialized", path)
    ker = run_child("kernel", path)
    assert gen["sha"] == mat["sha"], "paths disagree on record bytes"
    assert gen["n"] == mat["n"] == n + 1
    # the lenient kernel emits every record as a row and the same
    # total decoded text as the raw generator walk
    assert ker["n"] == n + 1 and ker["chars"] == gen["chars"]
    # size-independence: the SAME kernel over a 3x-record file — peak
    # RSS must stay ~flat (r13 buffered O(file text) before first emit)
    n3 = n * 3
    path3 = path + ".3x"
    gz3 = build_fixture(path3, n3, body_kb)
    ker3 = run_child("kernel", path3)
    assert ker3["n"] == n3 + 1
    os.remove(path3)
    row = {
        "ts": time.time(),
        "metric": "warc_rss_probe",
        "n_records": n,
        "gz_mb": round(gz_bytes / 1048576, 1),
        "decompressed_mb": round(decompressed_mb, 1),
        "generator_rss_mb": gen["rss_mb"],
        "materialized_rss_mb": mat["rss_mb"],
        "kernel_rss_mb": ker["rss_mb"],
        "kernel_rss_mb_3x": ker3["rss_mb"],
        "gz_mb_3x": round(gz3 / 1048576, 1),
        "decompressed_mb_3x": round(n3 * body_kb / 1024, 1),
        "bit_identical": True,
        "build_plus_runs_sec": round(time.time() - t0, 1),
    }
    append_ledger(row)
    print(json.dumps(row, indent=2))
    os.remove(path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
