"""Crawl-stream soak: 100+ foreachBatch micro-batches through the
continuous-ingest pipeline (r14).

crawl_streaming_pipeline_e2e runs three batches — enough for
correctness, too short for the failure class this probe targets:
driver/JVM accumulation across MANY foreachBatch invocations. The
specific suspect is ``MinHashIndex.query``'s per-batch eager
``localCheckpoint`` — checkpoint RDD blocks are freed by reference
tracking (ContextCleaner) after the batch function returns, and a leak
there would grow executor storage memory linearly in batch count.

Shape: ``n_files`` single-doc WARC segment files in a drop folder,
``maxFilesPerTrigger=1`` (one batch per file), each batch running
extraction → URL keep-first → ``index.query`` against a persisted
corpus index → parquet append. Asserts (hard):

- every batch's pairs land (total output rows == expected matches);
- JVM RSS growth from the mid checkpoint to the end stays under
  ``RSS_FLAG_MB`` (soft-flagged in the ledger, same policy as the
  event-stream soak — the JVM heap wobbles with GC).

One JSON line appends to .benchmarks/history.jsonl with metric
"crawl_stream_soak".

Usage: python tools/crawl_stream_soak_probe.py [n_files=100]
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
from tools.streaming_soak_probe import _rss_mb  # noqa: E402

RSS_FLAG_MB = 512


def main() -> int:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    from pyspark.sql import functions as F

    from etl_excel_csv_sql_spark.io import warc
    from etl_excel_csv_sql_spark.operators import dedup, urls
    from etl_excel_csv_sql_spark.operators.dedup import MinHashIndex
    from etl_excel_csv_sql_spark.operators.webtext import extract_web_text
    from etl_excel_csv_sql_spark.session import get_spark

    spark = get_spark("crawl_stream_soak")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = None
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:
        pass

    scratch = os.path.join(REPO, ".tmp", "crawl_stream_soak")
    shutil.rmtree(scratch, ignore_errors=True)
    drop = os.path.join(scratch, "drop")
    os.makedirs(drop)
    out_dir = os.path.join(scratch, "pairs")

    # corpus: every doc (ids 0..n_files-1); each segment file carries
    # that doc's whitespace twin -> every batch emits EXACTLY ONE pair
    ids = spark.range(n_files).select(F.col("id").alias("doc_id"))
    corpus = dedup.synth_shingle_docs(ids)
    index = MinHashIndex(os.path.join(scratch, "idx"))
    index.build(corpus, "doc_id", "text")
    twins = dedup.synth_shingle_docs(
        ids, id_offset=1_000_000, twin=True
    ).collect()
    for r in twins:
        tid = r["doc_id"]  # 1_000_000 + i: must DIFFER from the corpus
        # id — index.query excludes self-id pairs by contract
        html = (
            f"<html><head><title>d{tid}</title></head>"
            f"<body><p>{r['text']}</p></body></html>"
        )
        rec = {
            "uri": f"https://example.org/doc/{tid}",
            "status": 200,
            "body_text": html,
            "http_content_type": "text/html",
        }
        with open(
            os.path.join(drop, f"seg-{tid - 1_000_000:05d}.warc.gz"), "wb"
        ) as f:
            f.write(warc.encode_warc([rec], gzip_members=True))

    rss_warm = (_rss_mb(), _rss_mb(jvm_pid))
    seen = {"batches": 0, "rss_mid": (None, None)}

    def process(bdf, _epoch):
        pages = bdf.filter(F.col("warc_type") == "response").select(
            urls.normalize_url("target_uri").alias("url_norm"), "text"
        )
        uniq = pages.groupBy("url_norm").agg(F.min("text").alias("html"))
        docs = uniq.select(
            F.regexp_extract("url_norm", r"/doc/(\d+)$", 1)
            .cast("long").alias("doc_id"),
            "html",
        )
        extracted = extract_web_text(docs, "doc_id", "html").select(
            "doc_id", "text"
        )
        index.query(extracted, "doc_id", "text", threshold=0.5).write.mode(
            "append"
        ).parquet(out_dir)
        seen["batches"] += 1
        if seen["batches"] == max(n_files // 2, 1):
            seen["rss_mid"] = (_rss_mb(), _rss_mb(jvm_pid))

    t0 = time.time()
    (
        warc.stream_warc(spark, drop, strict=True, max_files_per_trigger=1)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    wall = round(time.time() - t0, 1)
    rss_end = (_rss_mb(), _rss_mb(jvm_pid))

    pairs = spark.read.parquet(out_dir)
    n_pairs = pairs.count()
    n_exact = pairs.filter(F.col("est_jaccard") == 1.0).count()
    assert n_pairs == n_files == n_exact, (n_pairs, n_exact, n_files)
    assert seen["batches"] >= 0.9 * n_files, seen["batches"]

    jvm_growth = None
    if seen["rss_mid"][1] is not None and rss_end[1] is not None:
        jvm_growth = round(rss_end[1] - seen["rss_mid"][1], 1)
    row = {
        "ts": time.time(),
        "metric": "crawl_stream_soak",
        "n_files": n_files,
        "n_batches": seen["batches"],
        "n_pairs": n_pairs,
        "wall_sec": wall,
        "rss_warm_mb": rss_warm,
        "rss_mid_mb": seen["rss_mid"],
        "rss_end_mb": rss_end,
        "jvm_mid_to_end_growth_mb": jvm_growth,
        "flagged": bool(jvm_growth is not None and jvm_growth > RSS_FLAG_MB),
    }
    append_ledger(row)
    print(json.dumps(row, indent=2))
    shutil.rmtree(scratch, ignore_errors=True)
    return 1 if row["flagged"] else 0


if __name__ == "__main__":
    sys.exit(main())
