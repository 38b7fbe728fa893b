"""500-batch streaming state/driver-memory soak (VERDICT r10 #6).

The registered 50-batch soak (events_streaming_soak_50_batches) proves
state stays FLAT at the watermark horizon; this probe runs 10x longer
and measures the class of failure the r10 sweeps kept finding by hand:
slow DRIVER-side accumulation (memory-sink views, Derby boot caches,
progress buffers) that a 50-batch run is too short to surface.

What it asserts (hard):
- watermark strictly monotone non-decreasing across every batch;
- state_rows FLAT at the horizon: the max over the last 10% of batches
  must not exceed the max over the middle 10% (event time advances, so
  the watermark keeps evicting closed windows);
- every batch consumed (n_batches >= 0.9 * n_files; availableNow can
  merge a few).

What it measures and reports (ledger row, soft-flagged):
- Python-driver and JVM RSS at warmup / mid-run / end — growth from mid
  to end above RSS_FLAG_MB is flagged in the ledger (JVM heap wobbles
  with GC, so this is a reported signal, not an assert).

Progress is captured with a StreamingQueryListener: recentProgress only
keeps the last spark.sql.streaming.numRecentProgressUpdates (100)
entries, so reading it after 500 batches would silently drop the first
400 — exactly the kind of measurement hole this probe exists to close.

Usage: python tools/streaming_soak_probe.py [n_batches=500] [sf_dir]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import append_ledger, log  # noqa: E402

RSS_FLAG_MB = 512


def _rss_mb(pid: int | None = None) -> float | None:
    path = f"/proc/{pid or 'self'}/status"
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return round(int(line.split()[1]) / 1024.0, 1)
    except OSError:
        return None
    return None


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from pyspark.sql import functions as F

    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.session import get_spark

    spark = get_spark("streaming-soak-probe")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = None
    try:
        jvm_pid = int(
            spark._jvm.java.lang.ProcessHandle.current().pid()
        )
    except Exception:
        pass

    scratch = os.path.join(REPO, ".tmp", f"stream_soak_{n_batches}")
    shutil.rmtree(scratch, ignore_errors=True)
    src = os.path.join(scratch, "in")
    os.makedirs(src)

    # slice events into n time-ordered micro-batch files (same derivation
    # as the registered 50-batch soak, scaled up)
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", F.col("value").cast("double").alias("value")
    )
    ev.persist()
    bounds = ev.agg(
        F.min(F.unix_timestamp("ts")).alias("lo"),
        F.max(F.unix_timestamp("ts")).alias("hi"),
    ).first()
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    span = max(1, hi - lo + 1)
    chunk = F.least(
        F.lit(n_batches - 1),
        F.floor(
            F.lit(n_batches) * (F.unix_timestamp("ts") - F.lit(lo)) / F.lit(span)
        ),
    )
    staged = os.path.join(scratch, "staged")
    ev.withColumn("chunk", chunk).repartition(
        min(n_batches, 256), "chunk"
    ).write.partitionBy("chunk").parquet(staged)
    ev.unpersist()
    n_files = 0
    for i in range(n_batches):
        parts = glob.glob(os.path.join(staged, f"chunk={i}", "*.parquet"))
        if not parts:
            continue
        dst = os.path.join(src, f"b{i:04d}.parquet")
        if len(parts) == 1:
            shutil.move(parts[0], dst)
        else:
            import pyarrow.parquet as pq

            tables = [pq.read_table(p) for p in parts]
            import pyarrow as pa

            pq.write_table(pa.concat_tables(tables), dst)
        os.utime(dst, (2_000_000 + i * 10, 2_000_000 + i * 10))
        n_files += 1
    shutil.rmtree(staged)
    log(f"soak: staged {n_files} micro-batch files")

    # listener capture: ALL progress events, not the last-100 window
    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            state = p.stateOperators[0] if p.stateOperators else None
            progress.append(
                {
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "watermark": (p.eventTime or {}).get("watermark"),
                    "state_rows": state.numRowsTotal if state else None,
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Capture())

    rss_warm = (_rss_mb(), _rss_mb(jvm_pid))
    schema = spark.read.parquet(
        sorted(glob.glob(os.path.join(src, "*.parquet")))[0]
    ).schema
    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(
            F.round(F.sum("value"), 6).alias("value_sum"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    counted = {"rows": 0, "rss_mid": (None, None)}

    def _consume(batch_df, batch_id):
        counted["rows"] += batch_df.count()
        if batch_id == n_files // 2:
            counted["rss_mid"] = (_rss_mb(), _rss_mb(jvm_pid))

    t0 = time.perf_counter()
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(_consume)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = round(time.perf_counter() - t0, 1)
    time.sleep(2)  # listener events are async; let the tail drain
    rss_end = (_rss_mb(), _rss_mb(jvm_pid))

    batches = [p for p in progress if p["rows"] and p["rows"] > 0]
    n_run = len(batches)
    log(f"soak: {n_run} non-empty batches in {wall}s")
    assert n_run >= 0.9 * n_files, (n_run, n_files)

    # watermark monotone
    wms = [b["watermark"] for b in batches if b["watermark"]]
    assert all(a <= b for a, b in zip(wms, wms[1:])), "watermark regressed"

    states = [b["state_rows"] for b in batches if b["state_rows"] is not None]
    mid = states[int(n_run * 0.45) : int(n_run * 0.55)]
    tail = states[int(n_run * 0.9) :]
    state_mid, state_tail = max(mid), max(tail)
    assert state_tail <= state_mid, (
        f"state grew at the horizon: mid max {state_mid}, tail max {state_tail}"
    )

    def growth(a, b):
        return None if (a is None or b is None) else round(b - a, 1)

    py_growth = growth(counted["rss_mid"][0], rss_end[0])
    jvm_growth = growth(counted["rss_mid"][1], rss_end[1])
    flagged = any(
        g is not None and g > RSS_FLAG_MB for g in (py_growth, jvm_growth)
    )
    row = {
        "ts": time.time(),
        "metric": "streaming_soak",
        "n_batches": n_run,
        "n_files": n_files,
        "wall_sec": wall,
        "rows_consumed": counted["rows"],
        "state_rows_mid_max": state_mid,
        "state_rows_tail_max": state_tail,
        "watermark_monotone": True,
        "rss_warm_mb": {"py": rss_warm[0], "jvm": rss_warm[1]},
        "rss_mid_mb": {"py": counted["rss_mid"][0], "jvm": counted["rss_mid"][1]},
        "rss_end_mb": {"py": rss_end[0], "jvm": rss_end[1]},
        "rss_mid_to_end_growth_mb": {"py": py_growth, "jvm": jvm_growth},
        "rss_flagged": flagged,
        "load1_start": round(os.getloadavg()[0], 2),
    }
    append_ledger(row)
    print(json.dumps(row))
    shutil.rmtree(scratch, ignore_errors=True)
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
